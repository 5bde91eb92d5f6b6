"""Equivalence battery for the weighted aggregation plane.

Every COUNT/SUM/AVG reads a multiplicity n: a query whose aggregates
are all plain collapses its rows to distinct (keys, values) with their
multiplicity first, and any other query reads n ≡ 1.  Adding a
``COUNT(DISTINCT ?x)`` column keeps a query out of the collapse, so
the query with and without that column must give byte-identical
results for every shape — including error poisoning, empty groups,
unbound elements, mixed ranks, big integers and monster lexicals.
SUM/AVG(DISTINCT) fold the same decomposition over the distinct set,
so they must equal the plain aggregates over a SELECT DISTINCT."""

import random

from sophia_rs_spark.sparql import query
from sophia_rs_spark.terms.model import XSD


def _sorted_rows(out, drop=()):
    cols = sorted(c for c in out.columns if c not in drop)
    return sorted((tuple(r[c] for c in cols) for r in out.collect()), key=repr)


def both_planes(spark, rows, q):
    """(collapsed, n ≡ 1) results of ``q``: the second run adds a
    COUNT(DISTINCT) column, which is then dropped."""
    df = spark.createDataFrame(rows, "s string, p string, o string")
    q1 = q.replace("WHERE", "(COUNT(DISTINCT ?x) AS ?_n1) WHERE", 1)
    return _sorted_rows(query(df, q)), _sorted_rows(query(df, q1), ("_n1",))


AGG_Q = """
SELECT ?k (COUNT(*) AS ?all) (COUNT(?v) AS ?n) (SUM(?v) AS ?s)
       (AVG(?v) AS ?a) (MIN(?v) AS ?mn) (MAX(?v) AS ?mx)
WHERE { ?x <http://e/k> ?k . OPTIONAL { ?x <http://e/v> ?v } }
GROUP BY ?k
"""


def _lit(v, dt="integer"):
    return f'"{v}"^^<{XSD}{dt}>'


def _random_rows():
    rng = random.Random(42)
    rows = []
    vals = (
        [_lit(rng.randint(-50, 50)) for _ in range(8)]
        + [_lit(f"{rng.randint(0, 99)}.{rng.randint(0, 99)}", "decimal")]
        + [_lit("98765432109876543210987")]  # beyond the fast plane: limbs
        + [_lit("123456789012345678901234567890123456789012345678901234567890" * 3)]
        + [_lit("1.5e1", "double"), _lit("NaN", "double"), _lit("2.5", "float")]
    )
    for i in range(400):
        k = f'"g{rng.randint(0, 4)}"'
        x = f"<http://e/x{i}>"
        rows.append((x, "<http://e/k>", k))
        if rng.random() < 0.9:
            rows.append((x, "<http://e/v>", rng.choice(vals)))
    return rows


def _poison_rows(k0='"g0"', k1='"g1"'):
    # one group has a non-numeric element (poisons SUM/AVG/MIN-order),
    # one group only unbound ?v (COUNT 0, SUM poisoned by NULL rank)
    return [
        ("<http://e/a>", "<http://e/k>", k0),
        ("<http://e/a>", "<http://e/v>", _lit(5)),
        ("<http://e/b>", "<http://e/k>", k0),
        ("<http://e/b>", "<http://e/v>", '"oops"'),
        ("<http://e/c>", "<http://e/k>", k1),
    ]


MONSTER = _lit("0." + "1" * 25, "decimal")


def _monster_rows(k='"g0"'):
    # heavy duplication (the case the pre-aggregation collapses) plus a
    # monster (>10 fraction digits) appearing with multiplicity > 1
    rows = []
    for i in range(300):
        x = f"<http://e/d{i}>"
        rows.append((x, "<http://e/k>", k))
        rows.append((x, "<http://e/v>", _lit(7)))
    for i in range(3):
        x = f"<http://e/m{i}>"
        rows.append((x, "<http://e/k>", k))
        rows.append((x, "<http://e/v>", MONSTER))
    return rows


def test_weighted_matches_perrow_random(spark):
    w, p = both_planes(spark, _random_rows(), AGG_Q)
    assert w == p, (w, p)


def test_weighted_matches_perrow_poison(spark):
    w, p = both_planes(spark, _poison_rows(), AGG_Q)
    assert w == p, (w, p)


def test_weighted_matches_perrow_duplicates_and_monsters(spark):
    w, p = both_planes(spark, _monster_rows(), AGG_Q)
    assert w == p, (w, p)
    # SUM = 300*7 + 3*0.111… — check the exact decimal came through
    s = [t for t in w[0]]
    assert any("2100.3" in str(x) for x in s), s


def test_group_concat_and_distinct_fall_back(spark):
    # multiplicities must survive GROUP_CONCAT and DISTINCT aggregates;
    # neither collapses, so the extra COUNT(DISTINCT) makes no difference
    rows = [
        ("<http://e/a>", "<http://e/k>", '"g0"'),
        ("<http://e/a>", "<http://e/v>", '"x"'),
        ("<http://e/b>", "<http://e/k>", '"g0"'),
        ("<http://e/b>", "<http://e/v>", '"x"'),
    ]
    q = (
        "SELECT ?k (GROUP_CONCAT(?v; SEPARATOR=\",\") AS ?c) "
        "(COUNT(DISTINCT ?v) AS ?d) WHERE { ?x <http://e/k> ?k . "
        "?x <http://e/v> ?v } GROUP BY ?k"
    )
    w, p = both_planes(spark, rows, q)
    assert w == p == [('"x,x"', '"1"^^<%sinteger>' % XSD, '"g0"')], (w, p)


def test_distinct_sum_avg_match_select_distinct(spark):
    rows = (
        _random_rows() + _poison_rows('"p0"', '"p1"') + _monster_rows('"m0"')
    )
    # without the float/double elements every random group sums exactly
    exact = [r for r in rows if not r[2].endswith(("double>", "float>"))]
    pattern = "?x <http://e/k> ?k ; <http://e/v> ?v"
    for data in (rows, exact):
        df = spark.createDataFrame(data, "s string, p string, o string")
        got = _sorted_rows(query(df, f"""
            SELECT ?k (SUM(DISTINCT ?v) AS ?s) (AVG(DISTINCT ?v) AS ?a)
            WHERE {{ {pattern} }} GROUP BY ?k"""))
        want = _sorted_rows(query(df, f"""
            SELECT ?k (SUM(?v) AS ?s) (AVG(?v) AS ?a)
            WHERE {{ {{ SELECT DISTINCT ?k ?v WHERE {{ {pattern} }} }} }}
            GROUP BY ?k"""))
        assert got == want, (got, want)
    by_key = {r[1]: r for r in got}
    assert by_key['"p0"'] == (None, '"p0"', None)  # poisoned by "oops"
    # {7, 0.111…}: the fast-plane value and the monster, each once
    assert by_key['"m0"'][2] == _lit("7." + "1" * 25, "decimal")
    for k in range(5):
        assert by_key[f'"g{k}"'][2].endswith(f"<{XSD}decimal>"), got
