"""Connected-components / canonicalization tests: min-label vs the
alternating large-star/small-star scale path, and the broadcast-fallback
regimes of canonicalize_entities."""

import pytest
from pyspark.sql import functions as F

from sophia_rs_spark.operators import describe, linking, paths, reasoner
from sophia_rs_spark.operators.fixpoint import fixpoint
from sophia_rs_spark.operators.linking import (
    canonicalize_entities,
    connected_components,
    connected_components_alternating,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _as_map(df):
    return {r["member"]: r["comp"] for r in df.collect()}


class TestAlternatingCC:
    def test_small_graph_same_as_minlabel(self, spark):
        pairs = [
            ("<b>", "<a>"), ("<c>", "<b>"), ("<e>", "<d>"),
            ("<f>", "<f2>"), ("<f2>", "<f3>"), ("<f3>", "<a>"),
        ]
        e = _edges(spark, pairs)
        assert _as_map(connected_components_alternating(e)) == _as_map(
            connected_components(e)
        )

    def test_long_chain_fewer_iterations(self, spark):
        # 1k-node chain: min-label needs O(n) rounds, alternating O(log n)
        n = 1000
        pairs = [(f"<n{i:04d}>", f"<n{i+1:04d}>") for i in range(n - 1)]
        e = _edges(spark, pairs).repartition(8)
        st_alt = {}
        alt = _as_map(connected_components_alternating(e, stats=st_alt))
        assert len(set(alt.values())) == 1
        assert set(alt.values()) == {"<n0000>"}
        assert len(alt) == n
        assert st_alt["iterations"] <= 12, st_alt
        # min-label on a short sub-chain for equality check (full 1k chain
        # would need 1k rounds)
        sub = _edges(spark, pairs[:16])
        st_ml = {}
        ml = _as_map(connected_components(sub, stats=st_ml))
        alt_sub = _as_map(connected_components_alternating(sub))
        assert ml == alt_sub

    def test_minlabel_long_chain_one_component(self, spark):
        # no round cap: a 60-edge chain needs 60 relaxations + the
        # no-change round, and must not stop at a partial labelling
        pairs = [(f"<n{i:02d}>", f"<n{i+1:02d}>") for i in range(60)]
        stats = {}
        ml = _as_map(connected_components(_edges(spark, pairs), stats=stats))
        assert set(ml.values()) == {"<n00>"} and len(ml) == 61
        assert stats["iterations"] == 61

    def test_two_components_and_star(self, spark):
        pairs = [("<hub>", f"<s{i}>") for i in range(50)] + [("<x>", "<y>")]
        e = _edges(spark, pairs)
        alt = _as_map(connected_components_alternating(e))
        assert alt["<x>"] == alt["<y>"] == "<x>"
        assert {alt[f"<s{i}>"] for i in range(50)} == {"<hub>"}


class TestCanonicalizeBroadcastRegimes:
    def _setup(self, spark):
        t = spark.createDataFrame(
            [("<a>", "<p>", "<b>"), ("<b>", "<p>", "<c>")],
            "s string, p string, o string",
        )
        comp = spark.createDataFrame(
            [("<b>", "<a>"), ("<c>", "<a>")], "member string, comp string"
        )
        return t, comp

    def test_broadcast_regime_plan(self, spark):
        t, comp = self._setup(spark)
        out = canonicalize_entities(t, comp, broadcast=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        rows = {(r["s"], r["o"]) for r in out.collect()}
        assert rows == {("<a>", "<a>"), ("<a>", "<a>")} or rows == {("<a>", "<a>")}

    def test_shuffle_regime_plan(self, spark):
        t, comp = self._setup(spark)
        out = canonicalize_entities(t, comp, broadcast=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan or "AdaptiveSparkPlan" in plan
        # values identical in both regimes
        ref = canonicalize_entities(t, comp, broadcast=True)
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))

    def test_auto_small_map_broadcasts(self, spark):
        t, comp = self._setup(spark)
        out = canonicalize_entities(t, comp)  # auto: 2 rows → broadcast
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
CHAIN = [(f"<n{i}>", f"<n{i+1}>") for i in range(8)]


def _triples(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


# name → (module whose loop runs on the driver, run, check on the rows)
FIXPOINTS = {
    "connected_components": (
        linking,
        lambda spark: connected_components(_edges(spark, CHAIN)),
        lambda rows: {r["comp"] for r in rows} == {"<n0>"} and len(rows) == 9,
    ),
    "connected_components_alternating": (
        linking,
        lambda spark: connected_components_alternating(_edges(spark, CHAIN)),
        lambda rows: {r["comp"] for r in rows} == {"<n0>"} and len(rows) == 9,
    ),
    "transitive_closure": (
        reasoner,
        lambda spark: reasoner.transitive_closure(
            spark.createDataFrame(CHAIN, "s string, o string")
        ),
        lambda rows: len(rows) == 36,
    ),
    # rdf:_1 as a predicate → (rdf:_1 type CMP) → schema change → rdfs12
    # (rdf:_1 ⊑ rdfs:member) → (x member y) → rdfs2 → (x type C)
    "rdfs_saturate": (
        reasoner,
        lambda spark: reasoner.rdfs_saturate(_triples(spark, [
            ("<x>", f"<{RDF}_1>", "<y>"),
            (f"<{RDFS}member>", f"<{RDFS}domain>", "<C>"),
        ])),
        lambda rows: ("<x>", f"<{RDF}type>", "<C>") in {tuple(r) for r in rows},
    ),
    "one_or_more": (
        paths,
        lambda spark: paths.one_or_more(_edges(spark, CHAIN)),
        lambda rows: len(rows) == 36,
    ),
    "zero_or_more": (
        paths,
        lambda spark: paths.zero_or_more(
            _edges(spark, CHAIN), _triples(spark, [(a, "<p>", b) for a, b in CHAIN])
        ),
        lambda rows: len(rows) == 36 + 9,
    ),
    "describe": (
        describe,
        lambda spark: describe.describe(
            _triples(spark, [(f"_:b{i}", "<p>", f"_:b{i+1}") for i in range(8)]),
            spark.createDataFrame([("_:b0",)], "term string"),
        ),
        lambda rows: len(rows) == 8,
    ),
}


@pytest.mark.parametrize("name", list(FIXPOINTS))
def test_fixpoint_one_driver_action_per_round(spark, monkeypatch, name):
    """Every fixpoint costs ONE driver action (job) per round: the lazy
    cut materializes inside the round's aggregate job (driver-barrier
    latency amplifies on a busy cluster, so checkpoint + probe per
    round would double the barriers)."""
    module, run, check = FIXPOINTS[name]
    rounds = []

    def counted(step, state, stats=None):
        stats = {} if stats is None else stats
        out = fixpoint(step, state, stats)
        rounds.append(stats["iterations"])
        return out

    monkeypatch.setattr(module, "fixpoint", counted)
    sc = spark.sparkContext
    # AQE materializes every shuffle stage as its own job — disable it
    # so jobs ≈ driver actions and the count is a meaningful proxy
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = f"fixpoint-jobs-{name}"
    sc.setJobGroup(group, "job-count probe")
    try:
        rows = run(spark).collect()
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert rounds, "the loop did not run on the fixpoint driver"
    # budget: one job per round + setup (rdfs's schema collect) + the
    # final collect
    assert len(jobs) <= sum(rounds) + 4, (len(jobs), rounds)
    assert check(rows), rows
