"""RDFS saturation (reasoner/src/ruleset/_rdfs.rs) and RDFC-1.0
canonicalization / isomorphism (c14n, isomorphism crates) tests."""

import pytest
from pyspark.sql import functions as F

from sophia_rs_spark.operators.c14n import (
    canonical_mapping,
    canonicalize,
    canonicalize_by_url,
    isomorphic,
    relabel,
)
from sophia_rs_spark.operators.reasoner import (
    T_DOMAIN,
    T_RANGE,
    T_SUBCLASS,
    T_SUBPROP,
    T_TYPE,
    entails,
    rdfs_saturate,
    transitive_closure,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


class TestReasoner:
    def test_transitive_closure_chain(self, spark):
        pairs = spark.createDataFrame(
            [("<a>", "<b>"), ("<b>", "<c>"), ("<c>", "<d>")], "s string, o string"
        )
        got = {(r["s"], r["o"]) for r in transitive_closure(pairs).collect()}
        assert got == {
            ("<a>", "<b>"), ("<b>", "<c>"), ("<c>", "<d>"),
            ("<a>", "<c>"), ("<b>", "<d>"), ("<a>", "<d>"),
        }

    def test_rdfs9_subclass_inheritance(self, spark):
        t = _df(
            spark,
            [
                ("<x>", T_TYPE, "<C1>"),
                ("<C1>", T_SUBCLASS, "<C2>"),
                ("<C2>", T_SUBCLASS, "<C3>"),
            ],
        )
        sat = rdfs_saturate(t)
        got = {(r["s"], r["o"]) for r in sat.filter(F.col("p") == T_TYPE).collect()}
        assert ("<x>", "<C2>") in got and ("<x>", "<C3>") in got

    def test_rdfs7_subproperty(self, spark):
        t = _df(
            spark,
            [("<s>", "<p1>", "<o>"), ("<p1>", T_SUBPROP, "<p2>")],
        )
        sat = rdfs_saturate(t)
        assert sat.filter(
            (F.col("s") == "<s>") & (F.col("p") == "<p2>") & (F.col("o") == "<o>")
        ).count() == 1

    def test_rdfs2_domain_rdfs3_range(self, spark):
        t = _df(
            spark,
            [
                ("<s>", "<p>", "<o>"),
                ("<p>", T_DOMAIN, "<D>"),
                ("<p>", T_RANGE, "<R>"),
            ],
        )
        sat = rdfs_saturate(t)
        types = {
            (r["s"], r["o"]) for r in sat.filter(F.col("p") == T_TYPE).collect()
        }
        assert ("<s>", "<D>") in types and ("<o>", "<R>") in types

    def test_range_not_applied_to_literals(self, spark):
        t = _df(
            spark,
            [("<s>", "<p>", '"lit"'), ("<p>", T_RANGE, "<R>")],
        )
        sat = rdfs_saturate(t)
        assert sat.filter(
            (F.col("s") == '"lit"') & (F.col("p") == T_TYPE)
        ).count() == 0

    def test_chained_inference(self, spark):
        # subPropertyOf then domain of the super-property
        t = _df(
            spark,
            [
                ("<s>", "<p1>", "<o>"),
                ("<p1>", T_SUBPROP, "<p2>"),
                ("<p2>", T_DOMAIN, "<D>"),
            ],
        )
        sat = rdfs_saturate(t)
        assert sat.filter(
            (F.col("s") == "<s>") & (F.col("p") == T_TYPE) & (F.col("o") == "<D>")
        ).count() == 1

    def test_entails(self, spark):
        g = _df(
            spark,
            [("<x>", T_TYPE, "<C1>"), ("<C1>", T_SUBCLASS, "<C2>")],
        )
        q_yes = _df(spark, [("<x>", T_TYPE, "<C2>")])
        q_no = _df(spark, [("<x>", T_TYPE, "<C9>")])
        assert entails(g, q_yes)
        assert not entails(g, q_no)


class TestC14n:
    def test_no_bnodes_identity(self):
        qs = [("<s>", "<p>", "<o>", None), ("<s>", "<p>", '"x"', "<g>")]
        assert relabel(qs) == qs
        assert canonicalize(qs) == sorted(
            ["<s> <p> <o> .", '<s> <p> "x" <g> .']
        )

    def test_unique_bnodes(self):
        qs = [("_:x", "<p>", '"1"', None), ("_:y", "<p>", '"2"', None)]
        m = canonical_mapping(qs)
        assert set(m.keys()) == {"_:x", "_:y"}
        assert sorted(m.values()) == ["c14n0", "c14n1"]

    def test_label_invariance(self):
        a = [("_:x", "<p>", "_:y", None), ("_:y", "<p>", '"v"', None)]
        b = [("_:n1", "<p>", "_:n2", None), ("_:n2", "<p>", '"v"', None)]
        assert canonicalize(a) == canonicalize(b)

    def test_symmetric_bnodes_need_ndegree(self):
        # two interchangeable-looking bnodes distinguished only by links
        a = [
            ("_:a", "<p>", "_:b", None),
            ("_:b", "<p>", "_:a", None),
            ("_:a", "<q>", '"1"', None),
        ]
        b = [
            ("_:u", "<p>", "_:v", None),
            ("_:v", "<p>", "_:u", None),
            ("_:u", "<q>", '"1"', None),
        ]
        assert canonicalize(a) == canonicalize(b)

    def test_isomorphic_positive_negative(self):
        a = [("_:x", "<p>", '"v"', None)]
        b = [("_:zz", "<p>", '"v"', None)]
        c = [("_:zz", "<p>", '"w"', None)]
        assert isomorphic(a, b)
        assert not isomorphic(a, c)

    def test_fully_symmetric_cycle(self):
        # 2-cycle with no distinguishing features: permutation exploration
        a = [("_:a", "<p>", "_:b", None), ("_:b", "<p>", "_:a", None)]
        b = [("_:q", "<p>", "_:r", None), ("_:r", "<p>", "_:q", None)]
        assert canonicalize(a) == canonicalize(b)
        assert len(canonical_mapping(a)) == 2

    def test_spark_canonicalize_by_url(self, spark):
        rows = [
            ("u1", "_:h1", "<p>", '"v"', None),
            ("u1", "_:h1", "<q>", "_:h2", None),
            ("u2", "_:zz", "<p>", '"v"', None),
        ]
        df = spark.createDataFrame(
            rows, "url string, s string, p string, o string, g string"
        )
        out = canonicalize_by_url(df)
        got = {(r["url"], r["s"], r["p"], r["o"]) for r in out.collect()}
        assert ("u1", "_:c14n0", "<p>", '"v"') in got or ("u1", "_:c14n1", "<p>", '"v"') in got
        assert ("u2", "_:c14n0", "<p>", '"v"') in got

    def test_spark_canonicalize_by_url_c14n_error(self, spark):
        # two identical 7-leaf stars exceed the poison-resistance limits:
        # the whole url collapses to one error row, its plain quad
        # included, and the clean url is untouched
        star = [
            ("poisoned", f"_:{c}", "<x:p>", f"_:{c}{i}", None)
            for c in "ab"
            for i in range(7)
        ]
        rows = star + [
            ("poisoned", "<x:s>", "<x:p>", "<x:o>", None),
            ("clean", "_:h", "<x:p>", '"v"', None),
            ("clean", "<x:a>", "<x:p>", "<x:b>", None),
        ]
        df = spark.createDataFrame(
            rows, "url string, s string, p string, o string, g string"
        )
        out = canonicalize_by_url(df).collect()
        bad = [r for r in out if r["url"] == "poisoned"]
        assert len(bad) == 1
        assert (bad[0]["s"], bad[0]["p"], bad[0]["o"]) == (None, None, None)
        assert bad[0]["g"].startswith("c14n-error:")
        clean = {(r["s"], r["p"], r["o"], r["g"]) for r in out if r["url"] == "clean"}
        assert clean == {
            ("_:c14n0", "<x:p>", '"v"', None),
            ("<x:a>", "<x:p>", "<x:b>", None),
        }

    def test_spark_canonicalize_by_url_predicate_bnode(self, spark):
        # generalized quads: a blank node only in predicate position
        # still routes its url through RDFC, alone or next to others
        rows = [
            ("alone", "<x:s>", "_:p", "<x:o>", None),
            ("mixed", "<x:s>", "_:p", "<x:o>", None),
            ("mixed", "_:b", "<x:q>", "<x:o>", None),
        ]
        df = spark.createDataFrame(
            rows, "url string, s string, p string, o string, g string"
        )
        got = {(r["url"], r["s"], r["p"], r["o"]) for r in canonicalize_by_url(df).collect()}
        assert got == {
            ("alone", "<x:s>", "_:c14n0", "<x:o>"),
            ("mixed", "<x:s>", "_:c14n1", "<x:o>"),
            ("mixed", "_:c14n0", "<x:q>", "<x:o>"),
        }


class TestC14nHard:
    """Harder shapes exercising hash-n-degree (pure python, no Spark)."""

    def test_two_symmetric_components(self):
        # two disjoint identical 2-cycles: 4 bnodes, all same first-degree
        # hash — n-degree + permutations must still split them stably
        a = [
            ("_:a1", "<p>", "_:a2", None), ("_:a2", "<p>", "_:a1", None),
            ("_:b1", "<p>", "_:b2", None), ("_:b2", "<p>", "_:b1", None),
        ]
        b = [
            ("_:x1", "<p>", "_:x2", None), ("_:x2", "<p>", "_:x1", None),
            ("_:y1", "<p>", "_:y2", None), ("_:y2", "<p>", "_:y1", None),
        ]
        from sophia_rs_spark.operators.c14n import canonicalize, canonical_mapping

        assert canonicalize(a) == canonicalize(b)
        assert len(set(canonical_mapping(a).values())) == 4

    def test_chain_vs_cycle_not_isomorphic(self):
        from sophia_rs_spark.operators.c14n import isomorphic

        chain = [("_:a", "<p>", "_:b", None), ("_:b", "<p>", "_:c", None)]
        cycle = [
            ("_:a", "<p>", "_:b", None), ("_:b", "<p>", "_:c", None),
            ("_:c", "<p>", "_:a", None),
        ]
        assert not isomorphic(chain, cycle)

    def test_triangle_relabel_stable(self):
        from sophia_rs_spark.operators.c14n import canonicalize

        import itertools
        tri = [
            ("_:a", "<p>", "_:b", None),
            ("_:b", "<p>", "_:c", None),
            ("_:c", "<p>", "_:a", None),
        ]
        base = canonicalize(tri)
        # every relabeling of the same triangle canonicalizes identically
        for perm in itertools.permutations(["_:x", "_:y", "_:z"]):
            m = dict(zip(["_:a", "_:b", "_:c"], perm))
            relab = [(m[s], p, m[o], None) for s, p, o, _ in tri]
            assert canonicalize(relab) == base

    def test_named_graph_quads_participate(self):
        from sophia_rs_spark.operators.c14n import canonicalize

        a = [("_:a", "<p>", '"v"', "_:g")]
        b = [("_:q", "<p>", '"v"', "_:h")]
        assert canonicalize(a) == canonicalize(b)

    def test_poison_limit_trips(self):
        # K5-ish fully-symmetric clique exceeds the permutation budget
        from sophia_rs_spark.operators.c14n import C14nError, canonical_mapping

        n = 8
        quads = [
            (f"_:n{i}", "<p>", f"_:n{j}", None)
            for i in range(n)
            for j in range(n)
            if i != j
        ]
        try:
            canonical_mapping(quads, permutation_limit=6)
        except C14nError:
            pass  # acceptable: poison guard fired (sophia has the same knobs)


class TestContainerRules:
    def test_rdfs12_membership(self, spark):
        from sophia_rs_spark.operators.reasoner import T_MEMBER

        rdfns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        t = _df(
            spark,
            [("<bag>", f"<{rdfns}_1>", '"one"'), ("<bag>", f"<{rdfns}_2>", '"two"')],
        )
        sat = rdfs_saturate(t)
        # rdf:_N typed as ContainerMembershipProperty, then rdfs7 via
        # rdfs12 gives (bag, rdfs:member, "one"/"two")
        members = sat.filter(F.col("p") == T_MEMBER)
        assert {r["o"] for r in members.collect()} == {'"one"', '"two"'}

    def test_rdfs13_datatype(self, spark):
        from sophia_rs_spark.operators.reasoner import (
            T_DATATYPE,
            T_LITERAL_CLS,
            T_SUBCLASS,
        )

        t = _df(spark, [("<dt>", T_TYPE, T_DATATYPE)])
        sat = rdfs_saturate(t)
        assert sat.filter(
            (F.col("s") == "<dt>")
            & (F.col("p") == T_SUBCLASS)
            & (F.col("o") == T_LITERAL_CLS)
        ).count() == 1


def test_axiomatic_triples_opt_in(spark):
    t = _df(spark, [("<x>", T_TYPE, "<C>")])
    plain = rdfs_saturate(t)
    with_ax = rdfs_saturate(t, with_axioms=True)
    assert plain.count() < with_ax.count()
    # axiom rdf:type domain rdfs:Resource → (x type rdfs:Resource)
    rdfs_res = "<http://www.w3.org/2000/01/rdf-schema#Resource>"
    assert with_ax.filter(
        (F.col("s") == "<x>") & (F.col("p") == T_TYPE) & (F.col("o") == rdfs_res)
    ).count() == 1
    assert plain.filter(F.col("o") == rdfs_res).count() == 0
