"""Connected-components / canonicalization tests: large-star/small-star
components against a union-find reference, their round bounds, and the
broadcast-fallback regimes of canonicalize_entities."""

import random

import pytest

from sophia_rs_spark.operators import describe, linking, paths, reasoner
from sophia_rs_spark.operators.fixpoint import fixpoint
from sophia_rs_spark.operators.linking import canonicalize_entities, connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _as_map(df):
    rows = df.collect()
    out = {r["member"]: r["comp"] for r in rows}
    assert len(out) == len(rows), "a member appears in more than one row"
    return out


def _union_find(pairs):
    """Reference components: every vertex of ``pairs`` → min member."""
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root = min member
    return {v: find(v) for v in parent}


def _chain_forest(seed):
    """Short chains (2–5 nodes) over shuffled names, random orientation,
    so the component minimum sits anywhere along its chain."""
    rng = random.Random(seed)
    names = [f"<v{i:03d}>" for i in range(120)]
    rng.shuffle(names)
    pairs = []
    while len(names) >= 2:
        chain, names = names[: (k := rng.randint(2, 5))], names[k:]
        for a, b in zip(chain, chain[1:]):
            pairs.append((a, b) if rng.random() < 0.5 else (b, a))
    rng.shuffle(pairs)
    return pairs


def _duplicated_reversed(seed):
    rng = random.Random(seed)
    base = [(f"<d{i}>", f"<d{i + 1}>") for i in range(0, 12, 2)] + [("<d1>", "<d4>")]
    pairs = base + [(b, a) for a, b in base] + rng.sample(base, 4)
    rng.shuffle(pairs)
    return pairs


UNION_FIND_CASES = {
    "small graph": [
        ("<b>", "<a>"), ("<c>", "<b>"), ("<e>", "<d>"),
        ("<f>", "<f2>"), ("<f2>", "<f3>"), ("<f3>", "<a>"),
    ],
    "chain forest seed 1": _chain_forest(1),
    "chain forest seed 2": _chain_forest(2),
    "star 50 leaves": [("<hub>", f"<s{i:02d}>") for i in range(50)],
    "duplicate and reversed edges": _duplicated_reversed(3),
    "self-loops": [("<x>", "<x>"), ("<y>", "<y>"), ("<y>", "<z>")],
}


class TestAlternatingCC:
    @pytest.mark.parametrize("case", list(UNION_FIND_CASES))
    def test_matches_union_find(self, spark, case):
        pairs = UNION_FIND_CASES[case]
        assert _as_map(connected_components(_edges(spark, pairs))) == _union_find(pairs)

    def test_long_chain_fewer_iterations(self, spark):
        # 1k-node chain: star contraction converges in O(log n) rounds
        n = 1000
        pairs = [(f"<n{i:04d}>", f"<n{i+1:04d}>") for i in range(n - 1)]
        e = _edges(spark, pairs).repartition(8)
        stats = {}
        cc = _as_map(connected_components(e, stats=stats))
        assert set(cc.values()) == {"<n0000>"}
        assert len(cc) == n
        assert stats["iterations"] <= 12, stats

    def test_long_chain_one_component(self, spark):
        # no round cap, and no partial labelling: a 60-edge chain is one
        # component, reached in a logarithmic number of rounds
        pairs = [(f"<n{i:02d}>", f"<n{i+1:02d}>") for i in range(60)]
        stats = {}
        cc = _as_map(connected_components(_edges(spark, pairs), stats=stats))
        assert set(cc.values()) == {"<n00>"} and len(cc) == 61
        assert stats["iterations"] <= 8, stats

    def test_two_components_and_star(self, spark):
        pairs = [("<hub>", f"<s{i}>") for i in range(50)] + [("<x>", "<y>")]
        cc = _as_map(connected_components(_edges(spark, pairs)))
        assert cc["<x>"] == cc["<y>"] == "<x>"
        assert {cc[f"<s{i}>"] for i in range(50)} == {"<hub>"}


class TestCanonicalizeBroadcastRegimes:
    """The component map is broadcast iff it has at most
    ``BROADCAST_MAP_MAX_ROWS`` rows; the tests move the limit around the
    2-row map to pin both sides of the boundary."""

    def _setup(self, spark):
        t = spark.createDataFrame(
            [("<a>", "<p>", "<b>"), ("<b>", "<p>", "<c>")],
            "s string, p string, o string",
        )
        comp = spark.createDataFrame(
            [("<b>", "<a>"), ("<c>", "<a>")], "member string, comp string"
        )
        return t, comp

    def test_broadcast_regime_plan(self, spark, monkeypatch):
        t, comp = self._setup(spark)
        monkeypatch.setattr(linking, "BROADCAST_MAP_MAX_ROWS", 2)  # map at the limit
        out = canonicalize_entities(t, comp)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert {(r["s"], r["o"]) for r in out.collect()} == {("<a>", "<a>")}

    def test_shuffle_regime_plan(self, spark, monkeypatch):
        t, comp = self._setup(spark)
        ref = canonicalize_entities(t, comp)
        monkeypatch.setattr(linking, "BROADCAST_MAP_MAX_ROWS", 0)
        out = canonicalize_entities(t, comp)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan or "AdaptiveSparkPlan" in plan
        # values identical in both regimes
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))

    def test_auto_small_map_broadcasts(self, spark):
        t, comp = self._setup(spark)
        out = canonicalize_entities(t, comp)  # default limit: 2 rows → broadcast
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
