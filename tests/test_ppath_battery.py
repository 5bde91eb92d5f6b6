"""Property-path battery ported from `sparql/src/test.rs:254-711`
(test_ppath over dataset_ppath): bag semantics for alt/seq, set
semantics for closures, triple terms as graph nodes, inverse paths."""

import pytest

from sophia_rs_spark.sources.turtle import parse_turtle_document
from sophia_rs_spark.sparql import query

DATA = """
PREFIX : <x:>

:a1 :p :b1.
:b1 :p :c1.
:c1 :p :d1.
:d1 :p :e1.

:a2 :q :b2.
:b2 :q :c2.
:c2 :q :d2.
:d2 :q :e2, :b2.

:a1 :r :a2.
:b1 :r :b2.
:c1 :r :c2.
:d1 :r :d2.
:e1 :r :e2.

:a1 :s :b1.

:d1 :t <<( :a1 :b1 :c1 )>>.
:d2 :t <<( :a2 :b1 :c2 )>>.
"""

QPFX = "PREFIX : <x:> "

TT1 = "<<( <x:a1> <x:b1> <x:c1> )>>"
TT2 = "<<( <x:a2> <x:b1> <x:c2> )>>"

CASES = [
    ("SELECT ?s ?o { ?s :q|:z ?o }",
     [("<x:a2>", "<x:b2>"), ("<x:b2>", "<x:c2>"), ("<x:c2>", "<x:d2>"),
      ("<x:d2>", "<x:b2>"), ("<x:d2>", "<x:e2>")], "alt"),
    ("SELECT ?s ?o { ?s :p|:s ?o }",
     [("<x:a1>", "<x:b1>"), ("<x:a1>", "<x:b1>"), ("<x:b1>", "<x:c1>"),
      ("<x:c1>", "<x:d1>"), ("<x:d1>", "<x:e1>")], "alt with multiple paths"),
    ("SELECT ?s ?o { ?s (:p/:r)|(:r/:q) ?o }",
     [("<x:a1>", "<x:b2>"), ("<x:a1>", "<x:b2>"), ("<x:b1>", "<x:c2>"),
      ("<x:b1>", "<x:c2>"), ("<x:c1>", "<x:d2>"), ("<x:c1>", "<x:d2>"),
      ("<x:d1>", "<x:b2>"), ("<x:d1>", "<x:e2>"), ("<x:d1>", "<x:e2>")],
     "alt of seqs"),
    ("SELECT ?s ?o { ?s (:p|:s)/:p ?o }",
     [("<x:a1>", "<x:c1>"), ("<x:a1>", "<x:c1>"), ("<x:b1>", "<x:d1>"),
      ("<x:c1>", "<x:e1>")], "seq with multiple paths"),
    ("SELECT ?s ?o { ?s (:p/:r)|(:q/^:r) ?o }",
     [("<x:a1>", "<x:b2>"), ("<x:a2>", "<x:b1>"), ("<x:b1>", "<x:c2>"),
      ("<x:b2>", "<x:c1>"), ("<x:c1>", "<x:d2>"), ("<x:c2>", "<x:d1>"),
      ("<x:d1>", "<x:e2>"), ("<x:d2>", "<x:b1>"), ("<x:d2>", "<x:e1>")],
     "alt of seqs with rev"),
]


@pytest.fixture(scope="module")
def ds(spark):
    rows = parse_turtle_document("x:doc", DATA)
    bad = [r[5] for r in rows if r[5]]
    assert bad == [], bad
    df = spark.createDataFrame(
        [(r[1], r[2], r[3], None) for r in rows],
        "s string, p string, o string, g string",
    )
    df.cache().count()
    yield df
    df.unpersist()


@pytest.mark.parametrize("q,exp,name", CASES, ids=[c[2] for c in CASES])
def test_ppath(ds, q, exp, name):
    got = query(ds, QPFX + q)
    vals = sorted((r["s"], r["o"]) for r in got.collect())
    assert vals == sorted(exp), name


TT_PATTERN_CASES = [
    # sparql/src/test.rs:673-697 — triple-term PATTERNS as path
    # endpoints (the |:z alternative prevents BGP-ification upstream;
    # kept for parity)
    ("SELECT ?s ?o { <<( ?s ?p1 [] )>> (^:t/:p/:t)|:z <<( [] ?p2 ?o )>> }",
     [], "triple patterns failing"),
    ("SELECT ?s ?o { <<( ?s ?p1 [] )>> (^:t/:r/:t)|:z <<( [] ?p2 ?o )>> }",
     [("<x:a1>", "<x:c2>")], "triple patterns succeeding"),
    ("SELECT ?s ?o { <<( ?s ?p1 ?v )>> (^:t/:r/:t)|:z <<( ?v ?p2 ?o )>> }",
     [], "triple patterns failing because of similar variables v"),
    ("SELECT ?s ?o { <<( ?s ?p1 _:b )>> (^:t/:r/:t)|:z <<( _:b ?p2 ?o )>> }",
     [], "triple patterns failing because of similar bnode b"),
    ("SELECT ?s ?o { <<( ?s ?o [] )>> (^:t/:r/:t)|:z <<( [] ?o [] )>> }",
     [("<x:a1>", "<x:b1>")], "triple patterns with common variable"),
]


@pytest.mark.parametrize(
    "q,exp,name", TT_PATTERN_CASES, ids=[c[2] for c in TT_PATTERN_CASES]
)
def test_ppath_tterm_patterns(ds, q, exp, name):
    got = query(ds, QPFX + q)
    vals = sorted((r["s"], r["o"]) for r in got.collect())
    assert vals == sorted(exp), name


def test_tterm_pattern_ground_and_nested(ds):
    # ground triple term in subject position matches by term identity
    got = query(ds, QPFX + "SELECT ?x { <<( :a1 :b1 :c1 )>> ^:t ?x }")
    assert [r["x"] for r in got.collect()] == ["<x:d1>"]
    # destructure both data triple terms
    got = query(ds, QPFX + "SELECT ?s ?c { ?d :t <<( ?s :b1 ?c )>> }")
    assert sorted((r["s"], r["c"]) for r in got.collect()) == [
        ("<x:a1>", "<x:c1>"), ("<x:a2>", "<x:c2>"),
    ]
    # expression form constructs the term (TRIPLE equivalence)
    got = query(
        ds,
        QPFX + "SELECT ?d { ?d :t ?tt "
        "FILTER(SAMETERM(?tt, <<( :a1 :b1 :c1 )>>)) }",
    )
    assert [r["d"] for r in got.collect()] == ["<x:d1>"]


def test_ppath_star_includes_tt_nodes(ds):
    """:p* — set semantics; triple terms are nodes and appear in the
    zero-length pairs (test.rs ':p*' case)."""
    got = query(ds, QPFX + "SELECT ?s ?o { ?s :p* ?o }")
    vals = {(r["s"], r["o"]) for r in got.collect()}
    # zero-length pairs for tt nodes
    assert (TT1, TT1) in vals and (TT2, TT2) in vals
    # full :p chain from a1
    for dst in ("<x:a1>", "<x:b1>", "<x:c1>", "<x:d1>", "<x:e1>"):
        assert ("<x:a1>", dst) in vals
    # no cross-chain pairs
    assert ("<x:a2>", "<x:b1>") not in vals
    # set semantics: no duplicates
    rows = [(r["s"], r["o"]) for r in got.collect()]
    assert len(rows) == len(set(rows))


def test_ppath_plus_and_zero_or_one(ds):
    got = query(ds, QPFX + "SELECT ?s ?o { ?s :p+ ?o }")
    vals = {(r["s"], r["o"]) for r in got.collect()}
    assert ("<x:a1>", "<x:e1>") in vals and ("<x:a1>", "<x:a1>") not in vals
    got2 = query(ds, QPFX + "SELECT ?s ?o { ?s :q? ?o }")
    v2 = {(r["s"], r["o"]) for r in got2.collect()}
    assert ("<x:a2>", "<x:b2>") in v2  # one step
    assert ("<x:a1>", "<x:a1>") in v2  # zero-length for every node
    assert (TT1, TT1) in v2


def test_ppath_plus_long_chain(spark):
    """`p+` runs its BFS to the fixpoint: every one of the 46·45/2 pairs
    of a 45-edge chain, with no round cap cutting the longest paths."""
    chain = [(f"<x:n{i}>", "<x:p>", f"<x:n{i+1}>", None) for i in range(45)]
    t = spark.createDataFrame(chain, "s string, p string, o string, g string")
    assert query(t, "SELECT ?x ?y { ?x <x:p>+ ?y }").count() == 1035


def test_ppath_negated_set(ds):
    got = query(ds, QPFX + "SELECT ?s ?o { :a1 !(:p|:r|:t|:d) ?o . BIND(:a1 AS ?s) }")
    vals = {r["o"] for r in got.collect()}
    assert vals == {"<x:b1>"}  # only :s remains from a1


def test_ppath_negated_set_inverse_and_bare(spark):
    """PathNegatedPropertySet extensions (sparql11-query §18.2
    translation, consumed by the reference via spargebra): bare !iri,
    !^iri, mixed !(p|^q) = NPS({p}) UNION ^NPS({q}), `a` members, and
    the empty set !() matching every triple."""
    t = spark.createDataFrame(
        [
            ("<x:a>", "<x:p>", "<x:b>", None),
            ("<x:a>", "<x:q>", "<x:c>", None),
            ("<x:d>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
             "<x:T>", None),
        ],
        "s string, p string, o string, g string",
    )
    from sophia_rs_spark.sparql import query

    def pairs(q):
        return {(r["s"], r["o"]) for r in query(t, q).collect()}

    assert pairs("SELECT ?s ?o { ?s !<x:p> ?o }") == {
        ("<x:a>", "<x:c>"), ("<x:d>", "<x:T>")
    }
    assert pairs("SELECT ?s ?o { ?s !^<x:p> ?o }") == {
        ("<x:c>", "<x:a>"), ("<x:T>", "<x:d>")
    }
    assert pairs("SELECT ?s ?o { ?s !(<x:p>|^<x:q>) ?o }") == {
        ("<x:a>", "<x:c>"), ("<x:d>", "<x:T>"),
        ("<x:b>", "<x:a>"), ("<x:T>", "<x:d>"),
    }
    assert pairs("SELECT ?s ?o { ?s !(a) ?o }") == {
        ("<x:a>", "<x:b>"), ("<x:a>", "<x:c>")
    }
    assert len(pairs("SELECT ?s ?o { ?s !() ?o }")) == 3


def test_ppath_inside_graph_var(spark):
    """GRAPH ?g { path }: per-active-graph evaluation — walks must not
    cross graphs and ?g binds (exec.rs path under a graph matcher).
    Regression: the path previously ran over the merged union of all
    named graphs and never bound ?g."""
    t = spark.createDataFrame(
        [
            ("<x:a>", "<x:p>", "<x:b>", "<g:1>"),
            ("<x:b>", "<x:p>", "<x:c>", "<g:2>"),
            ("<x:c>", "<x:p>", "<x:d>", "<g:2>"),
        ],
        "s string, p string, o string, g string",
    )
    from sophia_rs_spark.sparql import query

    got = {
        (r["g"], r["s"], r["o"])
        for r in query(
            t, "SELECT ?g ?s ?o { GRAPH ?g { ?s <x:p>+ ?o } }"
        ).collect()
    }
    assert got == {
        ("<g:1>", "<x:a>", "<x:b>"),
        ("<g:2>", "<x:b>", "<x:c>"),
        ("<g:2>", "<x:b>", "<x:d>"),
        ("<g:2>", "<x:c>", "<x:d>"),
    }
    # bound endpoints inside GRAPH ?g
    got2 = {r["g"] for r in query(
        t, "SELECT ?g { GRAPH ?g { <x:b> <x:p>* <x:d> } }"
    ).collect()}
    assert got2 == {"<g:2>"}
