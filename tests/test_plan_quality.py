"""Physical-plan quality gates (the 100TB-readiness checks):

- predicate pushdown reaches the parquet scan of a materialized graph
  table (PushedFilters) and column pruning trims ReadSchema
- multi-pattern BGPs broadcast instead of shuffling when dims are small
- partition pruning on a p-partitioned graph table
- the canonical-entity rewrite broadcasts the component map
"""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as e
from sophia_rs_spark.operators import bgp as B
from sophia_rs_spark.operators.bgp import v

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def graph_parquet(spark, tmp_path_factory):
    """Materialized graph table — partitioned by predicate, as the real
    pipeline writes it."""
    out = str(tmp_path_factory.mktemp("graph") / "graph")
    t = e.queries()["dm_triples"](spark, SF)
    t.withColumn("p_part", F.regexp_extract("p", r"[#/]([A-Za-z]+)>$", 1)).write.partitionBy(
        "p_part"
    ).mode("overwrite").parquet(out)
    return out


def test_filter_pushdown_on_materialized_graph(spark, graph_parquet):
    df = spark.read.parquet(graph_parquet).filter(F.col("s") == "<http://example.org/nation/7>")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(s), EqualTo(s," in plan, plan


def test_column_pruning(spark, graph_parquet):
    df = spark.read.parquet(graph_parquet).select("p").distinct()
    plan = plan_of(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "s" not in read_schema.split("struct")[1] or "p:string" in read_schema
    assert "o:string" not in read_schema  # o pruned away


def test_partition_pruning_on_predicate(spark, graph_parquet):
    df = spark.read.parquet(graph_parquet).filter(F.col("p_part") == "name")
    plan = plan_of(df)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "p_part" in scan  # partition filter applied at scan, not after


def test_bgp_broadcasts_small_sides(spark):
    plan = plan_of(e.queries()["dm_bgp3"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the 5-pattern chain must not fall back to a cartesian product
    assert "CartesianProduct" not in plan


def test_bgp_on_parquet_pushes_constants(spark, graph_parquet):
    triples = spark.read.parquet(graph_parquet)
    b = B.bgp(
        triples,
        [
            (v("c"), "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "<http://example.org/voc#Customer>"),
            (v("c"), "<http://example.org/voc#segment>", v("seg")),
        ],
    )
    plan = plan_of(b)
    # each pattern's constant lands in a pushed filter on the scan
    assert plan.count("PushedFilters: [") >= 2
    assert "EqualTo(p," in plan or "EqualTo(o," in plan


def test_canonicalize_broadcasts_component_map(spark):
    plan = plan_of(e.queries()["link_canonicalized"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_bucketed_term_table_join_has_no_exchange(spark, tmp_path):
    """100 TB co-location: the term dictionary and an id-keyed usage
    table written with the SAME bucketing join with no shuffle exchange
    on either side (extract.py write_bucketed_terms)."""
    from pyspark.sql import functions as F

    from sophia_rs_spark.plans.extract import write_bucketed_terms

    terms = spark.range(1000).select(
        F.xxhash64(F.col("id").cast("string")).alias("term_id"),
        F.col("id").cast("string").alias("term"),
    )
    usage = spark.range(5000).select(
        F.xxhash64((F.col("id") % 1000).cast("string")).alias("term_id"),
        (F.col("id") * 3).alias("cnt"),
    )
    write_bucketed_terms(terms, "bt_terms", str(tmp_path / "bt_terms"), buckets=8)
    write_bucketed_terms(usage, "bt_usage", str(tmp_path / "bt_usage"), buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bt_terms").join(spark.table("bt_usage"), "term_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bt_terms")
        spark.sql("DROP TABLE IF EXISTS bt_usage")


def test_front_end_bgp_keeps_equi_join_fast_path(spark):
    """The compatibility-join support must not degrade plain BGP chains:
    no shared var can be unbound, so the plan stays hash-join (no
    BroadcastNestedLoopJoin / CartesianProduct from the compat path)."""
    from sophia_rs_spark.sparql import query

    NS = "http://example.org/ns/"
    rows = [(f"<{NS}s{i}>", f"<{NS}p{i%3}>", f"<{NS}o{i%5}>", None) for i in range(50)]
    df = spark.createDataFrame(rows, "s string, p string, o string, g string")
    got = query(
        df,
        f"PREFIX : <{NS}> SELECT ?a ?c WHERE {{ ?a :p0 ?b . ?b :p1 ?c . ?c :p2 ?d }}",
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_typed_expression_plan_bounded(spark):
    """Guard against the exponential-tree regression: deep nested
    arithmetic through the typed numeric plane must keep the OPTIMIZED
    plan small (Catalyst would otherwise re-inline the bound temp
    projections via filter-pushdown alias substitution and OOM at
    codegen — see eval._TmpBinder)."""
    from sophia_rs_spark.sparql import query

    df = spark.createDataFrame(
        [("<x:s>", "<x:p>", '"3"^^<http://www.w3.org/2001/XMLSchema#integer>')],
        "s string, p string, o string",
    )
    q = (
        "SELECT ?b { ?s ?p ?a "
        "BIND(ABS(?a * (?a + 1) / 2 - CEIL(?a * 1.5)) AS ?t) "
        "BIND((?t + ?a) * (?t - ?a) AS ?b) "
        "FILTER(?b * 2 > -999) }"
    )
    out = query(df, q)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 2_000_000, f"optimized plan exploded: {len(plan)} chars"
    rows = out.collect()
    # 3*4/2 - ceil(4.5) = 6 - 5 = 1; (1+3)*(1-3) = -8
    assert len(rows) == 1
    assert rows[0]["b"] == '"-8.00"^^<http://www.w3.org/2001/XMLSchema#decimal>' or \
        rows[0]["b"] == '"-8.0"^^<http://www.w3.org/2001/XMLSchema#decimal>'


def test_comparison_codegen_no_fallback(spark):
    """r3 VERDICT perf-weak #1: FILTER comparisons must COMPILE in
    whole-stage codegen (janino 64 KB) — interpreted fallback is a
    3-10× row-at-a-time slowdown at scale.  Runs the two-OPTIONAL
    filter battery with spark.sql.codegen.fallback=false so any
    codegen overflow becomes a hard failure."""
    from sophia_rs_spark.sparql import query

    df = spark.createDataFrame(
        [("<x:a>", "<x:p>", '"1"'), ("<x:a>", "<x:q>", '"1"'),
         ("<x:b>", "<x:p>", '"2"')],
        "s string, p string, o string",
    )
    battery = [
        ("""SELECT ?s WHERE { ?s ?pp ?oo . OPTIONAL { ?s <x:p> ?v1 }
            OPTIONAL { ?s <x:q> ?v2 } FILTER(?v1 = ?v2) }""", 2),
        ("""SELECT ?s WHERE { ?s ?pp ?oo . OPTIONAL { ?s <x:p> ?v1 }
            OPTIONAL { ?s <x:q> ?v2 } FILTER(?v1 = ?v2 || ?v1 < ?v2) }""", 2),
        ('SELECT ?s { ?s ?p ?o FILTER(?o IN ("1", "2", "3", "4")) }', 3),
        ('SELECT ?s { ?s ?p ?o FILTER(?o IN ("1","2","3","4","5","6","7","8")) }', 3),
        ("""SELECT ?s WHERE { ?s ?pp ?oo . OPTIONAL { ?s <x:p> ?v1 }
            OPTIONAL { ?s <x:q> ?v2 }
            FILTER(?v1 = ?v2 || ?v1 < ?v2 || ?v1 > "0" && ?v2 >= "1") }""", 2),
        ('SELECT ?s { ?s ?p ?o FILTER(STRLEN(?o) > 0 && ?o != "x" '
         '&& SUBSTR(?o,1,1) < "5") }', 3),
        # OPTIONAL whose filter references an OUTER var compiles the
        # expression into the LeftJoin CONDITION (_optional_cond) —
        # its per-side coercion views must bind as hidden columns
        # (_JoinBinder) to stay under the janino method limit
        ("""SELECT ?s WHERE { ?s ?pp ?oo .
            OPTIONAL { ?s <x:p> ?v1 FILTER(?oo = ?v1 || ?oo < ?v1) } }""", 3),
        ("""SELECT ?s WHERE { ?s <x:p> ?o .
            OPTIONAL { ?s <x:q> ?v1 FILTER(STRLEN(?o) > 0 && ?v1 >= ?o) } }""", 2),
    ]
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for q, expected in battery:
            assert query(df, q).count() == expected, q
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_hoisted_aggregate_codegen_no_fallback(spark):
    """§18.2.4.1 hoisted aggregates (SUM(?v)+1 in SELECT/HAVING/ORDER
    BY) must compile under whole-stage codegen: the typed-numeric
    planes over the aggregate output column bind their intermediates
    (_typed_view binder) and literal operands constant-fold in Python
    (_const_typed_view) — without either, a single SUM(?v)+1 overflows
    janino's 64 KB method budget AND OOMs the JVM compiling the ~1 MB
    generated class."""
    from sophia_rs_spark.sparql import query

    xi = '"%d"^^<http://www.w3.org/2001/XMLSchema#integer>'
    df = spark.createDataFrame(
        [("<x:a>", "<x:p>", xi % 1), ("<x:a>", "<x:p>", xi % 2),
         ("<x:b>", "<x:p>", xi % 5)],
        "s string, p string, o string",
    )
    battery = [
        ("SELECT ?s (SUM(?v)+1 AS ?y) WHERE { ?s ?p ?v } GROUP BY ?s", 2),
        ("SELECT ?s WHERE { ?s ?p ?v } GROUP BY ?s ORDER BY DESC(SUM(?v))", 2),
        ("SELECT ?s WHERE { ?s ?p ?v } GROUP BY ?s HAVING(SUM(?v) > 2)", 2),
        ("SELECT (AVG(?v) AS ?a) (SUM(?v)*2 AS ?d) WHERE { ?s ?p ?v }", 1),
        ("SELECT ((?v+1)*(?v-1) AS ?y) WHERE { ?s ?p ?v } ORDER BY ?y", 3),
        ("SELECT (?v+1.5 AS ?y) WHERE { ?s ?p ?v } ORDER BY ?y", 3),
    ]
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for q, expected in battery:
            # collect(), not count(): count lets Catalyst PRUNE the
            # aggregate/render expressions entirely, hiding codegen
            # overflows in the full plan
            assert len(query(df, q).collect()) == expected, q
        got = query(
            df, "SELECT ?s (SUM(?v)+1 AS ?y) WHERE { ?s ?p ?v } "
                "GROUP BY ?s ORDER BY ?s"
        ).collect()
        assert [r["y"] for r in got] == [
            '"4"^^<http://www.w3.org/2001/XMLSchema#integer>',
            '"6"^^<http://www.w3.org/2001/XMLSchema#integer>',
        ]
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_exists_plans_stay_joins(spark):
    """EXISTS compiles to distributed joins, never a cartesian product
    or a correlated per-row subquery: the bare form is a semi/anti
    join, the nested form a marker-column hash join, and the
    OPTIONAL+outer-var form (merged LeftJoin) an equi-join on the
    shared variable — all under codegen with fallback disabled."""
    from sophia_rs_spark.sparql import query

    df = spark.createDataFrame(
        [("<x:a>", "<x:p>", "<x:o1>"), ("<x:b>", "<x:p>", "<x:o2>"),
         ("<x:a>", "<x:q>", '"m"'), ("<x:o1>", "<x:r>", '"y"')],
        "s string, p string, o string",
    )
    cases = [
        # (query, expected rows, plan must NOT contain)
        ("SELECT ?s { ?s <x:p> ?o FILTER EXISTS { ?o <x:r> ?x } }", 1),
        ("SELECT ?s { ?s <x:p> ?o FILTER(EXISTS { ?o <x:r> ?x } || ?s = <x:b>) }", 2),
        ("""SELECT ?s ?m { ?s <x:p> ?o
            OPTIONAL { ?s <x:q> ?m FILTER EXISTS { ?o <x:r> ?x } } }""", 2),
    ]
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for q, expected in cases:
            got = query(df, q)
            plan = plan_of(got)
            assert "CartesianProduct" not in plan, (q, plan)
            assert got.count() == expected, q
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_aggregate_collapse_decision_pinned(spark):
    """The weighted pre-collapse runs only when every aggregate is a
    plain COUNT/SUM/AVG/MIN/MAX/SAMPLE.  Counted in the optimized
    logical plan: the headline shape has the pre-collapse plus the final
    Aggregate; two COUNT(DISTINCT)s are Spark's own two-Aggregate
    distinct rewrite; GROUP_CONCAT has the final one only.  Widening
    the collapse changes these counts — then revisit
    tests/test_two_level_agg.py, whose equivalence check relies on
    COUNT(DISTINCT) staying uncollapsed."""
    import re

    from sophia_rs_spark.sparql import query

    xi = '"%d"^^<http://www.w3.org/2001/XMLSchema#integer>'
    df = spark.createDataFrame(
        [(f"<x:o{i}>", p, o)
         for i in range(4)
         for p, o in (("<x:q>", xi % i), ("<x:rf>", '"A"'), ("<x:ls>", '"O"'))],
        "s string, p string, o string",
    )
    where = "WHERE { ?o <x:q> ?q ; <x:rf> ?rf ; <x:ls> ?ls }"
    shapes = {
        "sum_count": f"SELECT ?rf (COUNT(?q) AS ?n) (SUM(?q) AS ?t) {where} "
                     "GROUP BY ?rf",
        "count_distinct": "SELECT (COUNT(DISTINCT ?ls) AS ?n) "
                          f"(COUNT(DISTINCT ?o) AS ?no) {where}",
        "group_concat": 'SELECT ?rf (GROUP_CONCAT(?ls; separator="|") '
                        f"AS ?c) {where} GROUP BY ?rf",
    }
    got = {}
    for name, text in shapes.items():
        plan = query(df, text)._jdf.queryExecution().optimizedPlan()
        got[name] = len(re.findall(r"\bAggregate \[", plan.toString()))
    assert got == {"sum_count": 2, "count_distinct": 2, "group_concat": 1}
