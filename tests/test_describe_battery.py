"""DESCRIBE battery ported from `sparql/src/test.rs:2352-2455`:
symmetric CBD, transitive bnode closure (incl. inside triple terms),
reification/annotation ride-along, default-graph scope, FROM clauses."""

import pytest

from sophia_rs_spark.operators.c14n import isomorphic
from sophia_rs_spark.sources.turtle import parse_turtle_document
from sophia_rs_spark.sparql import query

QPFX = "PREFIX : <x:> "

# a 26-deep blank-node chain: DESCRIBE follows it to the end, with no
# round cap cutting it short
BNODE_CHAIN = " ".join(
    [":a :p _:b1."]
    + [f"_:b{i} :p _:b{i+1}." for i in range(1, 25)]
    + ["_:b25 :p :z."]
)

CASES = [
    (":a :b :c. :c :d :e, :e2. :e :f :g. :g :h :a.",
     "DESCRIBE :z", "", "empty"),
    (":a :b :c. :c :d :e, :e2. :e :f :g. :g :h :a.",
     "DESCRIBE :c", ":a :b :c. :c :d :e, :e2.", "simple"),
    (":a :b _:c. _:c :d :e. :e :f _:g. _:g :h :i. :i :j :a.",
     "DESCRIBE :e", ":a :b _:c. _:c :d :e. :e :f _:g. _:g :h :i.", "bnodes"),
    (":a :b _:c. _:c :d _:e. _:e :f :g. :g :h _:i. _:i :j _:k. _:k :l :m. :m :n :a.",
     "DESCRIBE :g",
     ":a :b _:c. _:c :d _:e. _:e :f :g. :g :h _:i. _:i :j _:k. _:k :l :m.",
     "bnodes deep"),
    (BNODE_CHAIN, "DESCRIBE :a", BNODE_CHAIN, "bnodes 26 deep"),
    (":a :b (:c :d _:e).   _:e :f :g.   :d :h (:i :j).   :j :k :l.",
     "DESCRIBE :d",
     ":a :b (:c :d _:e).   _:e :f :g.   :d :h (:i :j).", "lists"),
    (":a :b :c {| :d :e {| :f :g |} |}.    :c :h :i {| :j :k {| :l :m |} |}.   :i :n :a.",
     "DESCRIBE :c",
     ":a :b :c {| :d :e {| :f :g |} |}.    :c :h :i {| :j :k {| :l :m |} |}.",
     "triple annotation"),
    (":a :b :c ~ :r1 {| :d :e ~ :r2 {| :f :g |} |}.    :c :h :i ~ :r3 {| :j :k ~ :r4 {| :l :m |} |}.   :i :n :a.",
     "DESCRIBE :c",
     ":a :b :c ~ :r1 .    :c :h :i ~ :r3 .",
     "triple annotation with named reifier"),
    (":a :b :c.   :c :d :e.   :f :g <<(:c :h :i)>>.",
     "DESCRIBE :c", ":a :b :c.   :c :d :e.",
     "unasserted triple terms not included"),
    (":a :b <<(_:c :d :e)>>. _:c :f :g. :g :h :i.",
     "DESCRIBE :a", ":a :b <<(_:c :d :e)>>. _:c :f :g.",
     "follow bnodes in triple terms"),
    (":a :b _:c. _:c :d _:e. _:e :f :g. :g :h :a.",
     "DESCRIBE ?o { ?s :b ?o }", ":a :b _:c. _:c :d _:e. _:e :f :g.",
     "selected bnode"),
    (":a :p _:b. _:b :c :d.   :e :p _:f. :g :h _:f.   :i :j :k.",
     "DESCRIBE ?s { ?s :p ?o }", ":a :p _:b. _:b :c :d.   :e :p _:f. :g :h _:f.",
     "multiple bindings"),
    (":a :b :c. :c :d :e. :e :f :g. :g :h :i. :i :j :k. :k :d :l. :l :m :n.",
     "DESCRIBE ?s ?o { ?s :d ?o }",
     ":a :b :c. :c :d :e. :e :f :g.           :i :j :k. :k :d :l. :l :m :n.",
     "multiple variables"),
    (":a :b :c. GRAPH :g1 { :a :d :e }",
     "DESCRIBE :a", ":a :b :c.", "default graph only"),
    (":a :b :c. GRAPH :g1 { :a :d :e } GRAPH :g2 { :a :f :g } GRAPH :g3 { :a :h :i }",
     "DESCRIBE :a FROM :g1 FROM :g3", ":a :d :e; :h :i.",
     "selected named graphs"),
]


def _parse(spark, doc, url):
    rows = parse_turtle_document(url, "PREFIX : <x:>\n" + doc, quads=True)
    bad = [r[5] for r in rows if r[5]]
    assert bad == [], bad
    return [(r[1], r[2], r[3], r[4]) for r in rows]


@pytest.mark.parametrize("data,q,exp,name", CASES, ids=[c[3] for c in CASES])
def test_describe_battery(spark, data, q, exp, name):
    quads = _parse(spark, data, "http://d.example/")
    df = spark.createDataFrame(quads, "s string, p string, o string, g string")
    got = query(df, QPFX + q)
    got_quads = [(r["s"], r["p"], r["o"], None) for r in got.collect()]
    # same url → same skolem labels, so bnodes inside triple terms
    # compare exactly (the c14n relabeler treats tt strings as opaque)
    exp_quads = [
        (s, p, o, None)
        for s, p, o, g in _parse(spark, exp, "http://d.example/")
    ] if exp else []
    assert isomorphic(got_quads, exp_quads), (name, sorted(got_quads), sorted(exp_quads))
