"""Dedup/similarity skew guards and MinHash r×b signatures (round-2)."""

import pytest
from pyspark.sql import functions as F

from sophia_rs_spark.operators.dedup import (
    lsh_candidate_pairs,
    lsh_oversized_buckets,
    minhash_signatures,
    simhash,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon token{i}") for i in range(20)]
    rows += [(100, "totally different words entirely here now")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestLshBucketGuard:
    def test_hot_bucket_skipped_and_reported(self, spark, docs):
        sig = minhash_signatures(docs, bands=2, k=3)
        # the 20 near-identical docs share min-shingles -> hot buckets
        capped = lsh_candidate_pairs(sig, max_bucket=5)
        uncapped = lsh_candidate_pairs(sig, max_bucket=10**9)
        assert capped.count() < uncapped.count()
        over = lsh_oversized_buckets(sig, max_bucket=5)
        assert over.count() >= 1
        assert over.agg(F.max("n")).collect()[0][0] > 5

    def test_guard_noop_when_buckets_small(self, spark, docs):
        sig = minhash_signatures(docs, bands=2, k=3)
        a = sorted(map(tuple, lsh_candidate_pairs(sig).collect()))
        b = sorted(map(tuple, lsh_candidate_pairs(sig, max_bucket=10**9).collect()))
        assert a == b  # default cap (1000) far above any bucket here


class TestMinhashRowsPerBand:
    def test_r1_unchanged_encoding(self, spark, docs):
        # r=1 must keep the round-1 oracle encoding: md5("band:shingle")
        import hashlib

        sig = minhash_signatures(docs.filter("doc_id = 100"), bands=2, k=3)
        got = {(r["band"], r["minhash"]) for r in sig.collect()}
        text = "totally different words entirely here now"
        toks = text.split(" ")
        shingles = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        want = {
            (b, min(hashlib.md5(f"{b}:{s}".encode()).hexdigest() for s in shingles))
            for b in (0, 1)
        }
        assert got == want

    def test_r2_sharper_buckets(self, spark, docs):
        sig2 = minhash_signatures(docs, bands=2, k=3, rows_per_band=2)
        # signature is "mh0|mh1": 2 md5 hex strings joined
        row = sig2.filter("doc_id = 100").collect()[0]
        parts = row["minhash"].split("|")
        assert len(parts) == 2 and all(len(p) == 32 for p in parts)
        # identical docs still collide on every band at r=2
        dup = docs.unionByName(
            docs.filter("doc_id = 100").select(
                (F.col("doc_id") + 1).alias("doc_id"), "text"
            )
        )
        sigd = minhash_signatures(dup, bands=2, k=3, rows_per_band=2)
        pairs = {tuple(r) for r in lsh_candidate_pairs(sigd).collect()}
        assert (100, 101) in pairs
        # and r=2 signatures are deterministic across runs
        again = minhash_signatures(docs, bands=2, k=3, rows_per_band=2)
        assert sorted(map(tuple, sig2.collect())) == sorted(map(tuple, again.collect()))


def test_simhash_plan_has_no_bit_explode(spark, docs):
    """The round-1 finding: simhash must NOT explode 60 rows per token."""
    sh = simhash(docs)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    # exactly one explode (the token split); no sequence(0, 59)
    assert plan.lower().count("explode") <= 1
    assert "sequence(0, 59" not in plan
    row = sh.filter("doc_id = 100").collect()[0]
    assert len(row["simhash"]) == 60 and set(row["simhash"]) <= {"0", "1"}


def test_bucketed_knn_guard(spark):
    from sophia_rs_spark.operators.similarity import bucketed_knn, oversized_lsh_buckets

    rows = [(i, [float(i % 7 + 1), float(i % 3 + 1), 1.0, 2.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # with a tiny cap everything lands in oversized -> empty result, reported
    got = bucketed_knn(emb, k=3, n_planes=2, max_bucket=2, dim=4)
    over = oversized_lsh_buckets(emb, n_planes=2, max_bucket=2, dim=4)
    assert over.count() >= 1
    # normal cap: results exist and are deterministic
    a = sorted(map(tuple, bucketed_knn(emb, k=3, n_planes=2, dim=4).collect()))
    b = sorted(map(tuple, bucketed_knn(emb, k=3, n_planes=2, dim=4).collect()))
    assert a == b and len(a) > 0
    assert got.count() < len(a)


def test_cosine_near_duplicates_reports_skipped_buckets(spark):
    """The pairs the bucket guard drops are exactly the pairs inside the
    buckets :func:`oversized_lsh_buckets` reports for the same settings."""
    from sophia_rs_spark.operators.similarity import (
        cosine_near_duplicates,
        lsh_buckets,
        oversized_lsh_buckets,
    )

    # 12 near-parallel vectors share one bucket; their 2 mirror images
    # land in the bucket with every sign flipped
    rows = [(i, [1.0, 0.01 * i, 0.5, 0.2]) for i in range(12)]
    rows += [(100 + i, [-1.0, -0.01 * i, -0.5, -0.2]) for i in range(2)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def pairs(max_bucket):
        df = cosine_near_duplicates(emb, n_planes=4, max_bucket=max_bucket)
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    over = oversized_lsh_buckets(emb, n_planes=4, max_bucket=5).collect()
    assert [r["n"] for r in over] == [12]
    hot = {
        r["vec_id"]
        for r in lsh_buckets(emb, n_planes=4).collect()
        if r["bucket"] == over[0]["bucket"]
    }
    skipped = pairs(10**9) - pairs(5)
    assert skipped == {(a, b) for a in hot for b in hot if a < b}
    assert len(skipped) == 66 and pairs(5) == {(100, 101)}


def test_lsh_buckets_no_driver_probe_job(spark):
    """r3 VERDICT perf-weak #2: building the LSH bucket / bucketed-kNN
    plan must launch NO driver job (the old path probed the embedding
    dim with a .first() — one wasted job per call at 100×).  Weights
    are now inline per-position expressions, so plan construction is
    pure."""
    from sophia_rs_spark.operators.similarity import (
        bucketed_knn,
        cosine_near_duplicates,
        lsh_buckets,
        oversized_lsh_buckets,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), float(-i), 1.0, 0.5]) for i in range(1, 9)],
        "vec_id bigint, embedding array<double>",
    )
    sc = spark.sparkContext
    sc.setJobGroup("lsh-plan-probe", "no-job probe")
    try:
        dfs = [
            lsh_buckets(emb, n_planes=4),
            oversized_lsh_buckets(emb, n_planes=4, max_bucket=2),
            bucketed_knn(emb, k=3, n_planes=4),
            cosine_near_duplicates(emb, n_planes=4),
        ]
        for df in dfs:  # force analysis (eager) without execution
            df.schema
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("lsh-plan-probe")
    assert len(jobs) == 0, f"plan building launched {len(jobs)} driver jobs"
    # and the operators still execute correctly
    assert lsh_buckets(emb, n_planes=4).count() == 8
