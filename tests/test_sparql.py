"""SPARQL front-end tests: query-string → results, mirroring the
reference's query-level test style (`sparql/src/test.rs`: query string →
expected bindings as canonical term strings)."""

import pytest
from pyspark.sql import functions as F

from sophia_rs_spark import plan_cache
from sophia_rs_spark.sparql import query
from sophia_rs_spark.terms.model import XSD

PFX = "PREFIX : <http://example.org/ns/>\nPREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
TRUE = '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>'
FALSE = '"false"^^<http://www.w3.org/2001/XMLSchema#boolean>'


@pytest.fixture(scope="module")
def data(spark):
    NS = "http://example.org/ns/"
    rows = [
        (f"<{NS}alice>", f"<{NS}name>", '"Alice"', None),
        (f"<{NS}alice>", f"<{NS}age>", f'"42"^^<{XSD}integer>', None),
        (f"<{NS}alice>", f"<{NS}knows>", f"<{NS}bob>", None),
        (f"<{NS}bob>", f"<{NS}name>", '"Bob"', None),
        (f"<{NS}bob>", f"<{NS}age>", f'"7"^^<{XSD}integer>', None),
        (f"<{NS}bob>", f"<{NS}knows>", f"<{NS}carol>", None),
        (f"<{NS}carol>", f"<{NS}name>", '"Carol"@en', None),
        (f"<{NS}alice>", f"<{NS}nick>", '"al"', "<x:g1>"),
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, g string")
    df.cache().count()
    yield df
    df.unpersist()


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


class TestSelect:
    def test_simple_bgp(self, data):
        got = query(data, PFX + "SELECT ?n WHERE { :alice :name ?n }")
        assert rows_of(got) == [('"Alice"',)]

    def test_join_two_patterns(self, data):
        got = query(
            data, PFX + "SELECT ?n WHERE { :alice :knows ?x . ?x :name ?n }"
        )
        assert rows_of(got) == [('"Bob"',)]

    def test_select_star(self, data):
        got = query(data, PFX + "SELECT * WHERE { ?s :name ?n }")
        assert set(got.columns) == {"s", "n"}
        assert got.count() == 3

    def test_filter_numeric_value_comparison(self, data):
        # "7" > "42" lexically but 7 < 42 numerically — value semantics
        got = query(
            data, PFX + "SELECT ?s WHERE { ?s :age ?a FILTER(?a < 10) }"
        )
        assert rows_of(got) == [("<http://example.org/ns/bob>",)]

    def test_filter_string_fns(self, data):
        got = query(
            data,
            PFX + 'SELECT ?s WHERE { ?s :name ?n FILTER(STRSTARTS(STR(?n), "A")) }',
        )
        assert rows_of(got) == [("<http://example.org/ns/alice>",)]

    def test_filter_lang(self, data):
        got = query(
            data, PFX + 'SELECT ?s WHERE { ?s :name ?n FILTER(LANG(?n) = "en") }'
        )
        assert rows_of(got) == [("<http://example.org/ns/carol>",)]

    def test_optional(self, data):
        got = query(
            data,
            PFX + "SELECT ?s ?a WHERE { ?s :name ?n OPTIONAL { ?s :age ?a } }",
        )
        vals = dict(rows_of(got.select("s", "a")))
        assert vals["<http://example.org/ns/carol>"] is None
        assert vals["<http://example.org/ns/alice>"] == f'"42"^^<{XSD}integer>'

    def test_minus(self, data):
        got = query(
            data, PFX + "SELECT ?s WHERE { ?s :name ?n MINUS { ?s :age ?a } }"
        )
        assert rows_of(got) == [("<http://example.org/ns/carol>",)]

    def test_union(self, data):
        got = query(
            data,
            PFX + "SELECT ?x WHERE { { :alice :knows ?x } UNION { :bob :knows ?x } }",
        )
        assert got.count() == 2

    def test_bind(self, data):
        got = query(
            data,
            PFX + "SELECT ?l WHERE { :alice :name ?n BIND(STRLEN(STR(?n)) AS ?l) }",
        )
        assert rows_of(got) == [('"5"^^<http://www.w3.org/2001/XMLSchema#integer>',)]

    def test_values(self, data):
        got = query(
            data,
            PFX + "SELECT ?s ?n WHERE { VALUES ?s { :alice :bob } ?s :name ?n }",
        )
        assert got.count() == 2

    def test_graph_constant_and_var(self, data):
        got = query(data, PFX + "SELECT ?o WHERE { GRAPH <x:g1> { ?s :nick ?o } }")
        assert rows_of(got) == [('"al"',)]
        got2 = query(data, PFX + "SELECT ?g WHERE { GRAPH ?g { ?s :nick ?o } }")
        assert rows_of(got2) == [("<x:g1>",)]

    def test_order_limit_offset(self, data):
        got = query(
            data,
            PFX + "SELECT ?s WHERE { ?s :age ?a } ORDER BY DESC(?a) LIMIT 1",
        )
        assert rows_of(got) == [("<http://example.org/ns/alice>",)]

    def test_distinct(self, data):
        # default-graph scope: the :nick triple lives in <x:g1> → excluded
        got = query(data, PFX + "SELECT DISTINCT ?p WHERE { ?s ?p ?o }")
        assert got.count() == 3

    def test_aggregates(self, data):
        got = query(
            data,
            PFX + "SELECT ?s (COUNT(*) AS ?cnt) WHERE { ?s ?p ?o } GROUP BY ?s",
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/alice>"] == '"3"^^<http://www.w3.org/2001/XMLSchema#integer>'  # default graph
        got2 = query(
            data, PFX + "SELECT (SUM(?a) AS ?total) WHERE { ?s :age ?a }"
        )
        assert got2.collect()[0]["total"] == '"49"^^<http://www.w3.org/2001/XMLSchema#integer>'

    def test_group_concat_pinned(self, data):
        got = query(
            data,
            PFX + 'SELECT (GROUP_CONCAT(?n; SEPARATOR=",") AS ?names) '
            "WHERE { ?s :name ?n }",
        )
        assert got.collect()[0]["names"] == '"Alice,Bob,Carol"'

    def test_exists(self, data):
        got = query(
            data,
            PFX + "SELECT ?s WHERE { ?s :name ?n FILTER EXISTS { ?s :age ?a } }",
        )
        assert got.count() == 2
        got2 = query(
            data,
            PFX + "SELECT ?s WHERE { ?s :name ?n FILTER NOT EXISTS { ?s :age ?a } }",
        )
        assert rows_of(got2) == [("<http://example.org/ns/carol>",)]

    def test_property_path_plus(self, data):
        got = query(
            data, PFX + "SELECT ?x WHERE { :alice :knows+ ?x }"
        )
        assert got.count() == 2  # bob, carol

    def test_property_path_alt_and_inverse(self, data):
        got = query(data, PFX + "SELECT ?x WHERE { ?x (:name|:nick) ?v }")
        assert got.select("x").distinct().count() == 3
        got2 = query(data, PFX + "SELECT ?x WHERE { :bob ^:knows ?x }")
        assert rows_of(got2) == [("<http://example.org/ns/alice>",)]

    def test_path_sequence(self, data):
        got = query(data, PFX + "SELECT ?n WHERE { :alice :knows/:name ?n }")
        assert rows_of(got) == [('"Bob"',)]


class TestAskConstruct:
    def test_ask(self, data):
        assert query(data, PFX + "ASK { :alice :knows :bob }") is True
        assert query(data, PFX + "ASK { :bob :knows :alice }") is False

    def test_construct(self, data):
        got = query(
            data,
            PFX + "CONSTRUCT { ?s :label ?n } WHERE { ?s :name ?n }",
        )
        assert got.count() == 3
        assert set(got.columns) == {"s", "p", "o"}
        assert got.filter(F.col("p") == "<http://example.org/ns/label>").count() == 3


class TestErrors:
    def test_undeclared_prefix(self, data):
        from sophia_rs_spark.sparql import SparqlError

        with pytest.raises(SparqlError):
            query(data, "SELECT ?s WHERE { ?s nope:p ?o }")

    def test_trailing_garbage(self, data):
        from sophia_rs_spark.sparql import SparqlError

        with pytest.raises(SparqlError):
            query(data, PFX + "SELECT ?s WHERE { ?s :name ?n } GARBAGE")


class TestMoreExpressions:
    def test_arithmetic_filter(self, data):
        got = query(
            data, PFX + "SELECT ?s WHERE { ?s :age ?a FILTER(?a * 2 > 50) }"
        )
        assert rows_of(got) == [("<http://example.org/ns/alice>",)]

    def test_in_operator(self, data):
        got = query(
            data,
            PFX + "SELECT ?s WHERE { ?s :name ?n FILTER(?n IN (\"Alice\", \"Bob\")) }",
        )
        assert got.count() == 2

    def test_logical_and_or_not(self, data):
        got = query(
            data,
            PFX + 'SELECT ?s WHERE { ?s :age ?a FILTER(?a > 5 && !(?a > 40)) }',
        )
        assert rows_of(got) == [("<http://example.org/ns/bob>",)]

    def test_strbefore_strafter_substr(self, data):
        got = query(
            data,
            PFX + 'SELECT ?b WHERE { :alice :name ?n BIND(SUBSTR(STR(?n), 2, 3) AS ?b) }',
        )
        assert rows_of(got) == [("lic",)]

    def test_coalesce_if(self, data):
        got = query(
            data,
            PFX + "SELECT ?s ?v WHERE { ?s :name ?n OPTIONAL { ?s :age ?a } "
            'BIND(COALESCE(?a, "none") AS ?v) }',
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/carol>"] == '"none"'  # term-valued COALESCE

    def test_isiri_isliteral(self, data):
        got = query(
            data, PFX + "SELECT ?o WHERE { :alice ?p ?o FILTER(ISIRI(?o)) }"
        )
        assert rows_of(got) == [("<http://example.org/ns/bob>",)]

    def test_having(self, data):
        got = query(
            data,
            PFX + "SELECT ?s (COUNT(*) AS ?cnt) WHERE { ?s ?p ?o } "
            "GROUP BY ?s HAVING(?cnt > 2)",
        )
        assert got.count() == 2  # alice and bob have 3 each, carol 1

    def test_order_by_expression(self, data):
        got = query(
            data,
            PFX + "SELECT ?s WHERE { ?s :age ?a } ORDER BY ASC(?a * 1)",
        )
        assert [r["s"] for r in got.collect()] == [
            "<http://example.org/ns/bob>",
            "<http://example.org/ns/alice>",
        ]

    def test_path_star_and_opt(self, data):
        got = query(data, PFX + "SELECT ?x WHERE { :alice :knows* ?x }")
        xs = {r["x"] for r in got.collect()}
        assert "<http://example.org/ns/alice>" in xs  # zero-length
        assert "<http://example.org/ns/carol>" in xs
        got2 = query(data, PFX + "SELECT ?x WHERE { :alice :knows? ?x }")
        xs2 = {r["x"] for r in got2.collect()}
        assert xs2 == {
            "<http://example.org/ns/alice>",
            "<http://example.org/ns/bob>",
        }

    def test_negated_property_set(self, data):
        got = query(
            data, PFX + "SELECT ?o WHERE { :bob !(:name|:age) ?o }"
        )
        assert rows_of(got) == [("<http://example.org/ns/carol>",)]

    def test_regex_builtin(self, data):
        got = query(
            data,
            PFX + 'SELECT ?s WHERE { ?s :name ?n FILTER(REGEX(STR(?n), "^[AB]")) }',
        )
        assert got.count() == 2

    def test_sameterm_langmatches(self, data):
        got = query(
            data,
            PFX + 'SELECT ?s WHERE { ?s :name ?n FILTER(LANGMATCHES(LANG(?n), "EN")) }',
        )
        assert rows_of(got) == [("<http://example.org/ns/carol>",)]


class TestSubquery:
    def test_subselect_join(self, data):
        got = query(
            data,
            PFX + """SELECT ?n WHERE {
              { SELECT ?s WHERE { ?s :age ?a } ORDER BY DESC(?a) LIMIT 1 }
              ?s :name ?n
            }""",
        )
        assert rows_of(got) == [('"Alice"',)]

    def test_subselect_aggregate(self, data):
        got = query(
            data,
            PFX + """SELECT ?s ?cnt WHERE {
              ?s :name ?n
              { SELECT ?s (COUNT(*) AS ?cnt) WHERE { ?s ?p ?o } GROUP BY ?s }
            }""",
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/alice>"] == '"3"^^<http://www.w3.org/2001/XMLSchema#integer>'


class TestDescribe:
    def test_describe_iri(self, data):
        got = query(data, PFX + "DESCRIBE :alice")
        assert got.count() == 3  # alice's default-graph triples
        assert set(got.columns) == {"s", "p", "o"}

    def test_describe_var_where(self, data):
        got = query(
            data, PFX + 'DESCRIBE ?s WHERE { ?s :name ?n FILTER(LANG(?n) = "en") }'
        )
        rows = {(r["s"], r["p"]) for r in got.collect()}
        # symmetric CBD (test.rs:2352-2455): carol's outgoing name AND
        # the incoming bob-knows-carol edge
        assert rows == {
            ("<http://example.org/ns/carol>", "<http://example.org/ns/name>"),
            ("<http://example.org/ns/bob>", "<http://example.org/ns/knows>"),
        }


class TestCompatJoinSemantics:
    """SPARQL compatibility joins over possibly-unbound vars (ADVICE r1):
    UNDEF in VALUES and post-OPTIONAL unbound vars are join wildcards,
    not NULL keys (exec.rs:484-518)."""

    def test_values_undef_binds(self, data):
        got = query(
            data,
            PFX + 'SELECT ?x ?n WHERE { VALUES (?x ?n) { (UNDEF "Alice") } '
            "?x :name ?n }",
        )
        assert rows_of(got) == [("<http://example.org/ns/alice>", '"Alice"')]

    def test_values_undef_multiple_rows(self, data):
        got = query(
            data,
            PFX + "SELECT ?x ?n WHERE { ?x :name ?n "
            'VALUES (?x ?n) { (:bob UNDEF) (UNDEF "Carol"@en) } }',
        )
        assert rows_of(got) == [
            ("<http://example.org/ns/bob>", '"Bob"'),
            ("<http://example.org/ns/carol>", '"Carol"@en'),
        ]

    def test_values_bound_rows_still_exact(self, data):
        got = query(
            data,
            PFX + 'SELECT ?x WHERE { VALUES (?x ?n) { (:alice "Alice") '
            '(:bob "WRONG") } ?x :name ?n }',
        )
        assert rows_of(got) == [("<http://example.org/ns/alice>",)]

    def test_optional_unbound_then_join(self, data):
        # ?nick unbound for bob via OPTIONAL; joining a VALUES over ?nick
        # must treat unbound as compatible-with-anything
        got = query(
            data,
            PFX + "SELECT ?x ?nick WHERE { ?x :name ?n "
            "OPTIONAL { ?x :nick ?nick } "
            'VALUES ?nick { "al" } }',
        )
        # alice has nick "al"; bob/carol have unbound ?nick -> compatible,
        # take the VALUES binding
        assert rows_of(got) == [
            ("<http://example.org/ns/alice>", '"al"'),
            ("<http://example.org/ns/bob>", '"al"'),
            ("<http://example.org/ns/carol>", '"al"'),
        ]

    def test_union_asymmetric_then_join(self, data):
        got = query(
            data,
            PFX + "SELECT ?x ?v WHERE { { ?x :name ?v } UNION { ?x :age ?w } "
            '?x :name ?v }',
        )
        # branch 2 leaves ?v unbound -> compatible with the outer pattern
        names = {
            ("<http://example.org/ns/alice>", '"Alice"'),
            ("<http://example.org/ns/bob>", '"Bob"'),
            ("<http://example.org/ns/carol>", '"Carol"@en'),
        }
        got_rows = set(rows_of(got))
        # alice & bob appear twice (once per branch); carol once (no age)
        assert got_rows == names


def test_strlen_of_escaped_literal(spark):
    """ADVICE r1: STR functions must act on the DECODED lexical form."""
    NS = "http://example.org/ns/"
    rows = [
        (f"<{NS}a>", f"<{NS}t>", '"line1\\nline2"', None),
        (f"<{NS}b>", f"<{NS}t>", '"tab\\there"', None),
        (f"<{NS}c>", f"<{NS}t>", '"back\\\\slash\\nx"', None),  # raw \ then n
        (f"<{NS}d>", f"<{NS}t>", '"ctl\\u0001"', None),
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, g string")
    got = query(
        df,
        PFX + "SELECT ?s ?l WHERE { ?s :t ?o BIND(STRLEN(?o) AS ?l) }",
    )
    def ilit(n):
        return f'"{n}"^^<http://www.w3.org/2001/XMLSchema#integer>'

    by_s = {r["s"]: r["l"] for r in got.collect()}
    assert by_s[f"<{NS}a>"] == ilit(len("line1\nline2"))
    assert by_s[f"<{NS}b>"] == ilit(len("tab\there"))
    assert by_s[f"<{NS}c>"] == ilit(len("back\\slash\nx"))
    assert by_s[f"<{NS}d>"] == ilit(len("ctl\x01"))


class TestNewBuiltins:
    """Round-2 builtin surface (function.rs:35-452): TIMEZONE/TZ,
    SHA384/512, LANGDIR family, STRDT/STRLANG(DIR), triple-term fns,
    NOW, BNODE."""

    @pytest.fixture(scope="class")
    def tdata(self, spark):
        NS = "http://example.org/ns/"
        XSDNS = "http://www.w3.org/2001/XMLSchema#"
        rows = [
            (f"<{NS}e1>", f"<{NS}at>", f'"2020-03-01T10:11:12Z"^^<{XSDNS}dateTime>', None),
            (f"<{NS}e2>", f"<{NS}at>", f'"2020-03-01T10:11:12+05:30"^^<{XSDNS}dateTime>', None),
            (f"<{NS}e3>", f"<{NS}at>", f'"2020-03-01T10:11:12-08:00"^^<{XSDNS}dateTime>', None),
            (f"<{NS}e4>", f"<{NS}at>", f'"2020-03-01T10:11:12"^^<{XSDNS}dateTime>', None),
            (f"<{NS}d1>", f"<{NS}lbl>", '"shalom"@he--rtl', None),
            (f"<{NS}d2>", f"<{NS}lbl>", '"hello"@en', None),
            (f"<{NS}d3>", f"<{NS}lbl>", '"plain"', None),
        ]
        df = spark.createDataFrame(rows, "s string, p string, o string, g string")
        df.cache().count()
        yield df
        df.unpersist()

    def test_tz_and_timezone(self, tdata):
        got = query(
            tdata,
            PFX + "SELECT ?s ?tz ?dur WHERE { ?s :at ?d "
            "BIND(TZ(?d) AS ?tz) BIND(TIMEZONE(?d) AS ?dur) }",
        )
        by_s = {r["s"].rsplit("/", 1)[-1][:-1]: (r["tz"], r["dur"]) for r in got.collect()}
        xdur = '^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>'
        assert by_s["e1"] == ("Z", f'"PT0S"{xdur}')
        assert by_s["e2"] == ("+05:30", f'"PT5H30M"{xdur}')
        assert by_s["e3"] == ("-08:00", f'"-PT8H"{xdur}')
        assert by_s["e4"] == ("", None)

    def test_sha384_sha512(self, tdata):
        import hashlib

        got = query(
            tdata,
            PFX + 'SELECT ?h3 ?h5 WHERE { :d3 :lbl ?o '
            "BIND(SHA384(?o) AS ?h3) BIND(SHA512(?o) AS ?h5) }",
        ).collect()[0]
        assert got["h3"] == hashlib.sha384(b"plain").hexdigest()
        assert got["h5"] == hashlib.sha512(b"plain").hexdigest()

    def test_langdir_family(self, tdata):
        got = query(
            tdata,
            PFX + "SELECT ?s ?ld ?hl ?hld WHERE { ?s :lbl ?o "
            "BIND(LANGDIR(?o) AS ?ld) BIND(HASLANG(?o) AS ?hl) "
            "BIND(HASLANGDIR(?o) AS ?hld) }",
        )
        by_s = {r["s"].rsplit("/", 1)[-1][:-1]: (r["ld"], r["hl"], r["hld"]) for r in got.collect()}
        assert by_s["d1"] == ("rtl", TRUE, TRUE)
        assert by_s["d2"] == ("", TRUE, FALSE)
        assert by_s["d3"] == ("", FALSE, FALSE)

    def test_strdt_strlang_strlangdir(self, tdata):
        got = query(
            tdata,
            PFX + 'SELECT ?a ?b ?c ?d WHERE { :d3 :lbl ?o '
            'BIND(STRDT("5", <http://www.w3.org/2001/XMLSchema#integer>) AS ?a) '
            'BIND(STRLANG(?o, "EN") AS ?b) '
            'BIND(STRLANGDIR(?o, "ar", "rtl") AS ?c) '
            'BIND(STRLANGDIR(?o, "ar", "sideways") AS ?d) }',
        ).collect()[0]
        assert got["a"] == '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'
        assert got["b"] == '"plain"@en'
        assert got["c"] == '"plain"@ar--rtl'
        assert got["d"] is None

    def test_triple_term_roundtrip(self, tdata):
        got = query(
            tdata,
            PFX + "SELECT ?s ?o ?ss ?pp ?oo ?ist WHERE { ?s :lbl ?o "
            "BIND(TRIPLE(?s, :lbl, ?o) AS ?t) "
            "BIND(SUBJECT(?t) AS ?ss) BIND(PREDICATE(?t) AS ?pp) "
            "BIND(OBJECT(?t) AS ?oo) BIND(ISTRIPLE(?t) AS ?ist) }",
        )
        for r in got.collect():
            assert r["ss"] == r["s"]
            assert r["pp"] == "<http://example.org/ns/lbl>"
            assert r["oo"] == r["o"]
            assert r["ist"] == TRUE

    def test_nested_triple_term_accessors(self, spark):
        from sophia_rs_spark.functions.triple_terms import split_triple_term

        inner = '<<( <x:s> <x:p> "lit with )>> inside" )>>'
        outer = f'<<( {inner} <x:q> "v"@en )>>'
        assert split_triple_term(outer) == (inner, "<x:q>", '"v"@en')
        assert split_triple_term(inner) == ("<x:s>", "<x:p>", '"lit with )>> inside"')
        assert split_triple_term('"not a tt"') is None
        assert split_triple_term("<<( <x:s> <x:p> )>>") is None

    def test_now_fixed_per_query(self, tdata):
        got = query(
            tdata,
            PFX + "SELECT ?n1 ?n2 WHERE { :d3 :lbl ?o "
            "BIND(NOW() AS ?n1) BIND(NOW() AS ?n2) }",
        ).collect()[0]
        assert got["n1"] == got["n2"]
        assert got["n1"].endswith('Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>')

    def test_bnode(self, tdata):
        got = query(
            tdata,
            PFX + 'SELECT ?s ?b0 ?b1 WHERE { ?s :lbl ?o '
            'BIND(BNODE() AS ?b0) BIND(BNODE("k") AS ?b1) }',
        ).collect()
        b0s = [r["b0"] for r in got]
        assert len(set(b0s)) == len(b0s)  # fresh per row
        assert len({r["b1"] for r in got}) == 1  # same label → same bnode
        assert all(r["b0"].startswith("_:") and r["b1"].startswith("_:") for r in got)


class TestDistinctAggregates:
    """DISTINCT inside aggregate calls (sparql11-query §18.5.1)."""

    @pytest.fixture(scope="class")
    def adata(self, spark):
        NS = "http://example.org/ns/"
        rows = [
            (f"<{NS}a>", f"<{NS}tag>", '"x"', None),
            (f"<{NS}a>", f"<{NS}tag>", '"x"', None),
            (f"<{NS}a>", f"<{NS}tag>", '"y"', None),
            (f"<{NS}b>", f"<{NS}tag>", '"x"', None),
            (f"<{NS}a>", f"<{NS}n>", f'"2"^^<{XSD}integer>', None),
            (f"<{NS}a>", f"<{NS}n>", f'"2"^^<{XSD}integer>', None),
            (f"<{NS}a>", f"<{NS}n>", f'"4"^^<{XSD}integer>', None),
        ]
        return spark.createDataFrame(rows, "s string, p string, o string, g string")

    def test_count_distinct(self, adata):
        got = query(
            adata,
            PFX + "SELECT ?s (COUNT(DISTINCT ?t) AS ?n) WHERE { ?s :tag ?t } "
            "GROUP BY ?s",
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/a>"] == '"2"^^<http://www.w3.org/2001/XMLSchema#integer>'
        assert vals["<http://example.org/ns/b>"] == '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'
        # plain COUNT counts duplicates
        got2 = query(
            adata,
            PFX + "SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s :tag ?t } GROUP BY ?s",
        )
        assert dict(rows_of(got2))["<http://example.org/ns/a>"] == '"3"^^<http://www.w3.org/2001/XMLSchema#integer>'

    def test_sum_avg_distinct(self, adata):
        got = query(
            adata,
            PFX + "SELECT (SUM(DISTINCT ?v) AS ?s) (AVG(DISTINCT ?v) AS ?a) "
            "WHERE { ?x :n ?v }",
        ).collect()[0]
        assert got["s"] == '"6"^^<http://www.w3.org/2001/XMLSchema#integer>'  # 2 + 4
        assert got["a"] == '"3.0"^^<http://www.w3.org/2001/XMLSchema#decimal>'
        plain = query(
            adata, PFX + "SELECT (SUM(?v) AS ?s) WHERE { ?x :n ?v }"
        ).collect()[0]
        assert plain["s"] == '"8"^^<http://www.w3.org/2001/XMLSchema#integer>'

    def test_group_concat_distinct(self, adata):
        got = query(
            adata,
            PFX + 'SELECT (GROUP_CONCAT(DISTINCT ?t; SEPARATOR=",") AS ?c) '
            "WHERE { ?x :tag ?t }",
        ).collect()[0]
        assert got["c"] == '"x,y"'


def test_xsd_constructor_casts(spark, data):
    """xsd:* constructor calls (function.rs:426-451 Custom dispatch)."""
    got = query(
        data,
        PFX + "SELECT ?i ?d ?s ?b WHERE { :alice :age ?a "
        "BIND(xsd:integer(?a) AS ?i) BIND(xsd:double(?a) AS ?d) "
        'BIND(xsd:string(?a) AS ?s) BIND(xsd:boolean("true") AS ?b) }',
    ).collect()[0]
    assert got["i"] == '"42"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert got["d"] == '"4.2e1"^^<http://www.w3.org/2001/XMLSchema#double>'
    assert got["s"] == "42"
    assert got["b"] == TRUE
    # cast errors are NULL (error-poisoning)
    got2 = query(
        data,
        PFX + 'SELECT ?i WHERE { :alice :name ?n BIND(xsd:integer(?n) AS ?i) }',
    ).collect()[0]
    assert got2["i"] is None
    # dateTime
    got3 = query(
        data,
        PFX + 'SELECT ?t WHERE { :alice :name ?n '
        'BIND(xsd:dateTime("2020-01-02T03:04:05"'
        "^^<http://www.w3.org/2001/XMLSchema#dateTime>) AS ?t) }",
    ).collect()[0]
    # the cast emits a canonical xsd:dateTime TERM (original lexical)
    assert got3["t"] == (
        '"2020-01-02T03:04:05"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
    )


class TestDatasetClauses:
    """FROM / FROM NAMED (exec.rs:70-117: FROM graphs compose an ad-hoc
    default graph; FROM NAMED restricts GRAPH)."""

    @pytest.fixture(scope="class")
    def gdata(self, spark):
        NS = "http://example.org/ns/"
        rows = [
            (f"<{NS}a>", f"<{NS}p>", '"default"', None),
            (f"<{NS}a>", f"<{NS}p>", '"one"', "<x:g1>"),
            (f"<{NS}b>", f"<{NS}p>", '"two"', "<x:g2>"),
            (f"<{NS}c>", f"<{NS}p>", '"three"', "<x:g3>"),
        ]
        return spark.createDataFrame(rows, "s string, p string, o string, g string")

    def test_from_composes_default_graph(self, gdata):
        got = query(
            gdata,
            PFX + "SELECT ?o FROM <x:g1> FROM <x:g2> WHERE { ?s :p ?o }",
        )
        assert {r["o"] for r in got.collect()} == {'"one"', '"two"'}

    def test_from_excludes_real_default(self, gdata):
        got = query(gdata, PFX + "SELECT ?o FROM <x:g1> WHERE { ?s :p ?o }")
        assert {r["o"] for r in got.collect()} == {'"one"'}

    def test_from_named_restricts_graph(self, gdata):
        got = query(
            gdata,
            PFX + "SELECT ?g ?o FROM NAMED <x:g2> WHERE { GRAPH ?g { ?s :p ?o } }",
        )
        rows = got.collect()
        assert {(r["g"], r["o"]) for r in rows} == {("<x:g2>", '"two"')}
        # and the default graph is empty when only FROM NAMED is given
        got2 = query(
            gdata, PFX + "SELECT ?o FROM NAMED <x:g2> WHERE { ?s :p ?o }"
        )
        assert got2.count() == 0

    def test_no_clause_unchanged(self, gdata):
        got = query(gdata, PFX + "SELECT ?o WHERE { ?s :p ?o }")
        assert {r["o"] for r in got.collect()} == {'"default"'}


def test_group_by_expression(spark, data):
    """GROUP BY (expr AS ?v) computed group keys."""
    got = query(
        data,
        PFX + "SELECT ?initial (COUNT(*) AS ?n) WHERE { ?s :name ?nm } "
        "GROUP BY (SUBSTR(STR(?nm), 1, 1) AS ?initial)",
    )
    vals = dict(rows_of(got))
    one = '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert vals == {"A": one, "B": one, "C": one}


class TestBooleanTermValues:
    """Boolean-valued expressions surface as canonical xsd:boolean
    TERMS (value plane parity with the reference, which returns typed
    EvalResult::Boolean values — sparql/src/expression.rs); FILTER
    conditions stay raw internally."""

    def test_bind_comparison_is_boolean_term(self, data):
        got = query(
            data,
            PFX + "SELECT ?s ?big WHERE { ?s :age ?a BIND((?a > 10) AS ?big) }",
        )
        vals = {r["s"].rsplit("/", 1)[-1][:-1]: r["big"] for r in got.collect()}
        assert vals == {"alice": TRUE, "bob": FALSE}

    def test_filter_on_bool_var_and_eq_true(self, data):
        got = query(
            data,
            PFX + "SELECT ?s WHERE { ?s :age ?a BIND((?a > 10) AS ?big) "
            "FILTER(?big) }",
        )
        assert [r["s"] for r in got.collect()] == ["<http://example.org/ns/alice>"]
        got2 = query(
            data,
            PFX + "SELECT ?s WHERE { ?s :age ?a BIND((?a > 10) AS ?big) "
            "FILTER(?big = false) }",
        )
        assert [r["s"] for r in got2.collect()] == ["<http://example.org/ns/bob>"]

    def test_if_condition_accepts_bool_term(self, data):
        got = query(
            data,
            PFX + 'SELECT ?s ?lbl WHERE { ?s :age ?a '
            'BIND(IF(?a > 10, "adult", "kid") AS ?lbl) }',
        )
        vals = {r["s"].rsplit("/", 1)[-1][:-1]: r["lbl"] for r in got.collect()}
        assert vals == {"alice": '"adult"', "bob": '"kid"'}

    def test_boolean_builtin_as_value(self, data):
        got = query(
            data,
            PFX + "SELECT ?s ?ni WHERE { ?s :name ?nm BIND(!isIRI(?s) AS ?ni) "
            "} ORDER BY ?s",
        )
        assert all(r["ni"] == FALSE for r in got.collect())


class TestUnboundVarInExpression:
    """A variable not in scope is an expression ERROR, not an analysis
    crash: COALESCE falls through, FILTER drops all rows, BOUND is
    false (sparql11-query §17.3/§18.6 error semantics)."""

    def test_coalesce_falls_through(self, data):
        got = query(
            data,
            PFX + 'SELECT ?s ?v WHERE { ?s :age ?a '
            'BIND(COALESCE(?nope, "fb") AS ?v) }',
        )
        assert all(r["v"] == '"fb"' for r in got.collect())

    def test_filter_unbound_drops_all(self, data):
        got = query(data, PFX + "SELECT ?s WHERE { ?s :age ?a FILTER(?nope) }")
        assert got.count() == 0

    def test_bound_unbound_is_false(self, data):
        got = query(
            data,
            PFX + "SELECT ?s ?b WHERE { ?s :age ?a BIND(BOUND(?nope) AS ?b) }",
        )
        assert all(r["b"] == FALSE for r in got.collect())


class TestTrailingValues:
    """Trailing VALUES clause (§18.2.4.6): joined AFTER aggregation and
    HAVING, before projection — COUNT(*) over the pattern is not
    inflated by the values rows."""

    def test_cross_join(self, data):
        got = query(
            data,
            PFX + "SELECT ?s ?x { ?s :age ?a } VALUES ?x { 1 2 }",
        )
        assert got.count() == 4  # 2 subjects x 2 values

    def test_joins_on_shared_var(self, data):
        got = query(
            data,
            PFX + 'SELECT ?s ?n { ?s :name ?n } VALUES ?n { "Alice" }',
        ).collect()
        assert [(r["s"], r["n"]) for r in got] == [
            ("<http://example.org/ns/alice>", '"Alice"')
        ]

    def test_after_aggregation(self, data):
        got = query(
            data,
            PFX + "SELECT (COUNT(*) AS ?n) ?x { ?s :age ?a } VALUES ?x { 1 2 }",
        ).collect()
        two = '"2"^^<http://www.w3.org/2001/XMLSchema#integer>'
        assert sorted((r["n"], r["x"]) for r in got) == [
            (two, '"1"^^<http://www.w3.org/2001/XMLSchema#integer>'),
            (two, '"2"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ]


class TestPropertyListsAndLongStrings:
    """BlankNodePropertyListPath patterns and long (triple-quoted)
    string literals (sparql11-query grammar §4.1.4, §19.8)."""

    def test_bnode_property_list_subject(self, data):
        got = query(data, PFX + 'SELECT ?n { [ :name ?n ; :age ?a ] }')
        assert {r["n"] for r in got.collect()} == {'"Alice"', '"Bob"'}

    def test_bnode_property_list_standalone(self, data):
        assert query(data, PFX + 'ASK { [ :name "Alice" ] }') is True
        assert query(data, PFX + 'ASK { [ :name "Zed" ] }') is False

    def test_long_string_literal(self, data):
        got = query(data, PFX + 'SELECT ?s { ?s :name """Alice""" }')
        assert [r["s"] for r in got.collect()] == [
            "<http://example.org/ns/alice>"
        ]
        got2 = query(
            data, "SELECT (STRLEN('''a\nb''') AS ?n) {}"
        ).collect()
        assert got2[0]["n"] == '"3"^^<http://www.w3.org/2001/XMLSchema#integer>'


def test_collection_pattern_sugar(spark):
    """CollectionPath sugar: ( e1 e2 ) expands to an rdf:first/rest
    chain of fresh existential variables; () is rdf:nil (§4.1.4)."""
    RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    XSDI = "http://www.w3.org/2001/XMLSchema#integer"
    t = spark.createDataFrame(
        [
            ("<x:l1>", f"<{RDFNS}first>", f'"1"^^<{XSDI}>', None),
            ("<x:l1>", f"<{RDFNS}rest>", "<x:l2>", None),
            ("<x:l2>", f"<{RDFNS}first>", f'"2"^^<{XSDI}>', None),
            ("<x:l2>", f"<{RDFNS}rest>", f"<{RDFNS}nil>", None),
            ("<x:a>", "<x:vals>", "<x:l1>", None),
            ("<x:b>", "<x:vals>", f"<{RDFNS}nil>", None),
        ],
        "s string, p string, o string, g string",
    )
    assert [r["s"] for r in query(t, "SELECT ?s { ?s <x:vals> (1 2) }").collect()] == ["<x:a>"]
    assert [r["s"] for r in query(t, "SELECT ?s { ?s <x:vals> () }").collect()] == ["<x:b>"]
    got = query(t, "SELECT ?v { ?s <x:vals> (?v 2) }").collect()
    assert [r["v"] for r in got] == [f'"1"^^<{XSDI}>']


class TestOptionalFilterScope:
    """FILTER at the top level of an OPTIONAL group is the LeftJoin
    EXPRESSION (sparql11-query 18.2.2.5, the dawg ``optional-filter``
    family; `sparql/src/exec.rs:520-551`): it is evaluated over the
    MERGED solution, so it sees variables bound by the LEFT side."""

    @pytest.fixture(scope="class")
    def people(self, spark):
        NS = "http://example.org/ns/"
        rows = [
            (f"<{NS}alice>", f"<{NS}age>", f'"30"^^<{XSD}integer>', None),
            (f"<{NS}alice>", f"<{NS}mbox>", '"alice@x"', None),
            (f"<{NS}alice>", f"<{NS}nick>", '"ali"', None),
            (f"<{NS}bob>", f"<{NS}age>", f'"20"^^<{XSD}integer>', None),
            (f"<{NS}bob>", f"<{NS}mbox>", '"bob@x"', None),
            (f"<{NS}carol>", f"<{NS}age>", f'"40"^^<{XSD}integer>', None),
        ]
        df = spark.createDataFrame(rows, "s string, p string, o string, g string")
        df.cache().count()
        yield df
        df.unpersist()

    def test_outer_var_in_optional_filter(self, people):
        # dawg-optional-filter-005 shape: the condition references ?a
        # bound OUTSIDE the optional group — alice (30>25) keeps her
        # mbox; bob (20) and carol (no mbox) get unbound
        got = query(
            people,
            PFX + "SELECT ?s ?m { ?s :age ?a"
            "  OPTIONAL { ?s :mbox ?m FILTER(?a > 25) } }",
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/alice>"] == '"alice@x"'
        assert vals["<http://example.org/ns/bob>"] is None
        assert vals["<http://example.org/ns/carol>"] is None

    def test_mixed_inner_and_outer_filters(self, people):
        got = query(
            people,
            PFX + "SELECT ?s ?m { ?s :age ?a OPTIONAL { ?s :mbox ?m"
            '  FILTER(?a > 25) FILTER(STRSTARTS(?m, "a")) } }',
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/alice>"] == '"alice@x"'
        assert vals["<http://example.org/ns/bob>"] is None

    def test_bound_outer_var(self, people):
        got = query(
            people,
            PFX + "SELECT ?s ?m { ?s :age ?a"
            "  OPTIONAL { ?s :mbox ?m FILTER(BOUND(?a)) } }",
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/bob>"] == '"bob@x"'
        assert vals["<http://example.org/ns/carol>"] is None

    def test_condition_error_counts_as_false(self, people):
        # ?m is a plain string: ?m > 25 is a type ERROR → false → the
        # optional side stays unbound, the left row survives
        got = query(
            people,
            PFX + "SELECT ?s ?n { ?s :mbox ?m"
            "  OPTIONAL { ?s :nick ?n FILTER(?m > 25) } }",
        )
        assert [v for _, v in rows_of(got)] == [None, None]

    def test_nested_optional_filter_is_level_scoped(self, people):
        # the INNER LeftJoin's expression sees only ITS merged domain
        # ({?s ?m} ⋈ {?s ?n}) — ?a from the outermost group is unbound
        # there, so the condition errors and ?n stays unbound for all
        # (strict bottom-up algebra)
        got = query(
            people,
            PFX + "SELECT ?s ?m ?n { ?s :age ?a OPTIONAL { ?s :mbox ?m"
            "  OPTIONAL { ?s :nick ?n FILTER(?a < 35) } } }",
        )
        assert all(n is None for _, _, n in rows_of(got))

    def test_exists_filter_stays_right_side(self, people):
        got = query(
            people,
            PFX + "SELECT ?s ?m { ?s :age ?a OPTIONAL { ?s :mbox ?m"
            "  FILTER EXISTS { ?s :nick ?x } } }",
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/alice>"] == '"alice@x"'
        assert vals["<http://example.org/ns/bob>"] is None

    def test_negation_by_failure(self, people):
        got = query(
            people,
            PFX + "SELECT ?s { ?s :age ?a"
            "  OPTIONAL { ?s :mbox ?m FILTER(?a > 100) }"
            "  FILTER(!BOUND(?m)) }",
        )
        assert got.count() == 3


class TestExistsScoping:
    """EXISTS/NOT EXISTS under §18.6 substitution semantics: inside an
    OPTIONAL's filter the subpattern must see OUTER bindings (routed
    through ``_optional_merged``), and EXISTS nested inside a boolean
    expression compiles via marker-column joins
    (``_rewrite_exists``)."""

    @pytest.fixture(scope="class")
    def graph(self, spark):
        rows = [
            ("<x:s1>", "<x:p>", "<x:o1>", None),
            ("<x:s2>", "<x:p>", "<x:o2>", None),
            ("<x:s1>", "<x:q>", '"m1"', None),
            ("<x:s2>", "<x:q>", '"m2"', None),
            ("<x:o1>", "<x:r>", '"yes"', None),  # only o1 has :r
            ("<x:z>", "<x:zz>", '"zzz"', None),
        ]
        df = spark.createDataFrame(rows, "s string, p string, o string, g string")
        df.cache().count()
        yield df
        df.unpersist()

    def test_exists_sees_outer_only_var(self, graph):
        # ?o is bound OUTSIDE the optional group and nowhere on the
        # right side: per-merged-row EXISTS keeps m1 (o1 has :r) and
        # leaves s2's m unbound (o2 does not)
        got = query(
            graph,
            "SELECT ?s ?m { ?s <x:p> ?o"
            "  OPTIONAL { ?s <x:q> ?m FILTER EXISTS { ?o <x:r> ?x } } }",
        )
        assert rows_of(got) == [("<x:s1>", '"m1"'), ("<x:s2>", None)]

    def test_not_exists_sees_outer_only_var(self, graph):
        got = query(
            graph,
            "SELECT ?s ?m { ?s <x:p> ?o"
            "  OPTIONAL { ?s <x:q> ?m FILTER NOT EXISTS { ?o <x:r> ?x } } }",
        )
        assert rows_of(got) == [("<x:s1>", None), ("<x:s2>", '"m2"')]

    def test_mixed_outer_var_and_exists(self, graph):
        got = query(
            graph,
            "SELECT ?s ?m { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?m"
            "  FILTER(?o = <x:o1> && EXISTS { ?s <x:q> ?y }) } }",
        )
        assert rows_of(got) == [("<x:s1>", '"m1"'), ("<x:s2>", None)]

    def test_nested_exists_in_or(self, graph):
        got = query(
            graph,
            "SELECT ?s { ?s <x:p> ?o"
            "  FILTER(EXISTS { ?o <x:r> ?x } || ?s = <x:s2>) }",
        )
        assert rows_of(got) == [("<x:s1>",), ("<x:s2>",)]

    def test_bang_exists(self, graph):
        got = query(
            graph,
            "SELECT ?s { ?s <x:p> ?o FILTER(!EXISTS { ?o <x:r> ?x }) }",
        )
        assert rows_of(got) == [("<x:s2>",)]

    def test_nested_exists_no_shared_vars(self, graph):
        # subpattern shares no variable with the outer solution — the
        # ≤1-row broadcast path; matching and non-matching subpatterns
        got = query(
            graph,
            "SELECT ?s { ?s <x:p> ?o"
            "  FILTER(EXISTS { <x:z> <x:zz> ?w } && ?s = <x:s2>) }",
        )
        assert rows_of(got) == [("<x:s2>",)]
        got = query(
            graph,
            "SELECT ?s { ?s <x:p> ?o"
            "  FILTER(EXISTS { <x:z> <x:none> ?w } || ?s = <x:s2>) }",
        )
        assert rows_of(got) == [("<x:s2>",)]

    def test_bag_multiplicity_through_merged_leftjoin(self, spark):
        rows = [
            ("<x:s1>", "<x:p>", "<x:o1>", None),
            ("<x:s1>", "<x:p>", "<x:o1>", None),  # duplicate solution
            ("<x:s2>", "<x:p>", "<x:o2>", None),
            ("<x:s1>", "<x:q>", '"m1"', None),
            ("<x:s1>", "<x:q>", '"m1b"', None),
            ("<x:o1>", "<x:r>", '"yes"', None),
        ]
        df = spark.createDataFrame(rows, "s string, p string, o string, g string")
        got = query(
            df,
            "SELECT ?s ?m { ?s <x:p> ?o"
            "  OPTIONAL { ?s <x:q> ?m FILTER EXISTS { ?o <x:r> ?x } } }",
        )
        assert rows_of(got) == [
            ("<x:s1>", '"m1"'),
            ("<x:s1>", '"m1"'),
            ("<x:s1>", '"m1b"'),
            ("<x:s1>", '"m1b"'),
            ("<x:s2>", None),
        ]

    def test_exists_right_side_fast_path_still_used(self, graph):
        # only right/shared certain-bound vars → stays on the right
        # side pre-join (no merged expansion); answer identical
        got = query(
            graph,
            "SELECT ?s ?m { ?s <x:p> ?o"
            "  OPTIONAL { ?s <x:q> ?m FILTER EXISTS { ?s <x:p> ?x } } }",
        )
        assert rows_of(got) == [("<x:s1>", '"m1"'), ("<x:s2>", '"m2"')]

    def test_exists_as_bind_value(self, graph):
        got = query(
            graph,
            "SELECT ?s ?b { ?s <x:p> ?o"
            "  BIND(EXISTS { ?o <x:r> ?x } AS ?b) }",
        )
        assert rows_of(got) == [("<x:s1>", TRUE), ("<x:s2>", FALSE)]

    # -- r5 ADVICE: unbound shared var = wildcard (§18.6) ---------------

    @pytest.fixture(scope="class")
    def optgraph(self, spark):
        # s1's ?x binds to <x:c> (which has :r); s2's ?x stays unbound
        rows = [
            ("<x:s1>", "<x:p>", '"1"', None),
            ("<x:s2>", "<x:p>", '"2"', None),
            ("<x:s1>", "<x:q>", "<x:c>", None),
            ("<x:c>", "<x:r>", '"5"', None),
        ]
        df = spark.createDataFrame(
            rows, "s string, p string, o string, g string"
        )
        df.cache().count()
        yield df
        df.unpersist()

    def test_exists_unbound_shared_var_is_wildcard(self, optgraph):
        # §18.6 substitution binds only BOUND vars: s2's unbound ?x
        # leaves the subpattern variable FREE, so EXISTS is true iff
        # { ?x :r ?y } has ANY solution — it does (<x:c> :r "5")
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?x }"
            "  FILTER EXISTS { ?x <x:r> ?y } }",
        )
        assert rows_of(got) == [("<x:s1>",), ("<x:s2>",)]

    def test_not_exists_unbound_shared_var_is_wildcard(self, optgraph):
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?x }"
            "  FILTER NOT EXISTS { ?x <x:r> ?y } }",
        )
        assert rows_of(got) == []

    def test_exists_unbound_shared_var_no_sub_solution(self, optgraph):
        # the subpattern has NO solution at all — EXISTS false even for
        # the wildcard row
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?x }"
            "  FILTER EXISTS { ?x <x:none> ?y } }",
        )
        assert rows_of(got) == []

    def test_exists_bound_shared_var_still_filters(self, optgraph):
        # a BOUND ?x that does NOT satisfy the subpattern must still
        # fail: bind s2's ?x to a dead end
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?x }"
            "  FILTER EXISTS { ?x <x:r> '5' } }",
        )
        assert rows_of(got) == [("<x:s1>",), ("<x:s2>",)]
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?x }"
            "  FILTER EXISTS { ?x <x:r> '6' } }",
        )
        assert rows_of(got) == []

    def test_marker_exists_unbound_shared_var(self, optgraph):
        # EXISTS nested in a boolean expr (marker path) with a
        # maybe-unbound shared var: the semi/anti split must keep bag
        # multiplicities and honor the wildcard
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?x }"
            "  FILTER(EXISTS { ?x <x:r> ?y } && ?o != '0') }",
        )
        assert rows_of(got) == [("<x:s1>",), ("<x:s2>",)]

    def test_bind_exists_unbound_shared_var(self, optgraph):
        got = query(
            optgraph,
            "SELECT ?s ?b { ?s <x:p> ?o OPTIONAL { ?s <x:q> ?x }"
            "  BIND(EXISTS { ?x <x:r> ?y } AS ?b) }",
        )
        assert rows_of(got) == [("<x:s1>", TRUE), ("<x:s2>", TRUE)]

    def test_exists_sub_side_unbound_is_wildcard(self, optgraph):
        # the SUBPATTERN may leave the shared var unbound (its own
        # OPTIONAL miss): a NULL sub binding is compatible with every
        # outer value, so EXISTS is true for all rows — a plain equi
        # join on ?o would drop the NULL sub row and read false
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o"
            "  FILTER EXISTS { ?z <x:q> ?c OPTIONAL { ?z <x:none> ?o } } }",
        )
        assert rows_of(got) == [("<x:s1>",), ("<x:s2>",)]
        got = query(
            optgraph,
            "SELECT ?s { ?s <x:p> ?o"
            "  FILTER NOT EXISTS { ?z <x:q> ?c OPTIONAL { ?z <x:none> ?o } } }",
        )
        assert rows_of(got) == []

    def test_not_exists_as_select_expression(self, graph):
        got = query(
            graph,
            "SELECT ?s (!EXISTS { ?o <x:r> ?x } AS ?b)"
            "  { ?s <x:p> ?o }",
        )
        assert rows_of(got) == [("<x:s1>", FALSE), ("<x:s2>", TRUE)]

    def test_exists_in_order_by(self, graph):
        # false < true in SPARQL value order: DESC(EXISTS…) puts the
        # matching subject first
        got = query(
            graph,
            "SELECT ?s { ?s <x:p> ?o }"
            "  ORDER BY DESC(EXISTS { ?o <x:r> ?x }) ?s",
        )
        assert [r[0] for r in got.collect()] == ["<x:s1>", "<x:s2>"]

    def test_bare_exists_order_condition(self, graph):
        # OrderCondition := Constraint includes ExistsFunc/NotExistsFunc
        # (grammar [24]/[121]/[126]) — no brackets required; ascending
        # value order puts false first
        got = query(
            graph,
            "SELECT ?s { ?s <x:p> ?o }"
            "  ORDER BY EXISTS { ?o <x:r> ?x } ?s",
        )
        assert [r[0] for r in got.collect()] == ["<x:s2>", "<x:s1>"]
        got = query(
            graph,
            "SELECT ?s { ?s <x:p> ?o }"
            "  ORDER BY NOT EXISTS { ?o <x:r> ?x } ?s",
        )
        assert [r[0] for r in got.collect()] == ["<x:s1>", "<x:s2>"]

    def test_exists_in_having(self, graph):
        got = query(
            graph,
            "SELECT ?o (COUNT(?s) AS ?n) { ?s <x:p> ?o }"
            "  GROUP BY ?o HAVING(EXISTS { ?o <x:r> ?x })",
        )
        assert [r[0] for r in got.collect()] == ["<x:o1>"]


class TestIfErrorPropagation:
    def test_if_error_condition_is_error(self, data):
        # IF(error, …) is an ERROR (17.4.1.2) — NOT the else branch
        got = query(
            data,
            PFX + "SELECT ?s (IF(?u, 1, 2) AS ?x) { ?s :age ?a }",
        )
        assert all(x is None for _, x in rows_of(got))

    def test_if_division_error(self, data):
        got = query(
            data,
            PFX + "SELECT ?s (IF(1/0 > 0, 1, 2) AS ?x) { ?s :age ?a }",
        )
        assert all(x is None for _, x in rows_of(got))

    def test_if_true_false_still_work(self, data):
        got = query(
            data,
            PFX + "SELECT ?s (IF(?a < 10, 1, 2) AS ?x) { ?s :age ?a }",
        )
        vals = dict(rows_of(got))
        assert vals["<http://example.org/ns/bob>"].startswith('"1"')
        assert vals["<http://example.org/ns/alice>"].startswith('"2"')


def test_plan_cache_hit_recomputes(spark):
    """A repeated query reuses the compiled plan, never its results:
    both runs read the whole source."""
    xi = '"%d"^^<http://www.w3.org/2001/XMLSchema#integer>'
    src = spark.createDataFrame(
        [(f"<x:s{i}>", "<x:v>", xi % i) for i in range(10)],
        "s string, p string, o string",
    )
    reads = spark.sparkContext.accumulator(0)

    def count(batches):
        for batch in batches:
            reads.add(len(batch))
            yield batch

    triples = src.mapInPandas(count, schema=src.schema)
    text = "SELECT (SUM(?v) AS ?t) (COUNT(*) AS ?n) { ?s <x:v> ?v }"
    runs = [query(triples, text).collect() for _ in range(2)]
    assert (text, None) in plan_cache._PLANS[triples]  # the second run was a hit
    assert runs[0] == runs[1]
    assert runs[0][0]["t"] == xi % 45
    assert reads.value == 2 * 10


def test_now_is_not_frozen_by_the_plan_cache(spark, data):
    text = "SELECT (NOW() AS ?t) {}"
    first = query(data, text).collect()[0]["t"]
    second = query(data, text).collect()[0]["t"]
    assert first != second
