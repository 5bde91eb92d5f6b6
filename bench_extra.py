#!/usr/bin/env python3
"""Extra benchmarks for optimization work (bench.py is frozen for
measurement; numbers cited in OPTIMIZATION_r06.md come from here).

Modes:
  --sparql-breakdown   stage-by-stage timing of the sparql headline
                       query (noop sink isolation, guide §1.4) + plan
  --noop <query>       noop-sink timing of one declared query
  --explain <query>    write .explain("formatted") for a declared query
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def make_spark():
    import bench

    return bench.make_spark(bench.CPUS)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    print(f"{label}: {best:.3f}s (min of {n})")
    return best


def sparql_graph(spark):
    from pyspark.sql import functions as F

    from sophia_rs_spark.sources.direct_mapping import (
        ColumnMap, TableMap, VOC, table_triples,
    )

    tm = TableMap(
        "lineitem", "l_orderkey", "order", "Order",
        [
            ColumnMap("l_quantity", VOC + "quantity", "integer"),
            ColumnMap("l_returnflag", VOC + "returnflag"),
            ColumnMap("l_linestatus", VOC + "linestatus"),
        ],
    )
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumn(
        "l_quantity", F.col("l_quantity").cast("bigint")
    )
    t = table_triples(df, tm).cache()
    t.count()
    return t


SPARQL_TEXT = """
PREFIX voc: <http://example.org/voc#>
SELECT ?rf (COUNT(?q) AS ?n) (SUM(?q)+0 AS ?tq)
WHERE {
  ?o voc:quantity ?q ; voc:returnflag ?rf .
  OPTIONAL { ?o voc:linestatus ?ls }
  FILTER(?q > 10 && BOUND(?ls))
}
GROUP BY ?rf
ORDER BY DESC(SUM(?q)+0)
"""


def sparql_breakdown():
    from sophia_rs_spark.sparql import query
    from sophia_rs_spark.sparql import parser as P
    from sophia_rs_spark.sparql import eval as E

    spark = make_spark()
    sc = spark.sparkContext
    try:
        t0 = time.time()
        t = sparql_graph(spark)
        print(f"graph build+cache: {time.time()-t0:.3f}s")
        q = P.parse_query(SPARQL_TEXT)

        # NOTE: fresh DataFrame per iteration — re-collecting the same
        # DataFrame object lets Spark skip completed shuffle stages and
        # reports only the tail stage.
        def fresh_where():
            return E._eval_group(E._Ctx(t), q.where)[0]

        sc.setJobDescription("bgp+filters (WHERE clause only)")
        timed("WHERE clause (bgp+optional+filters) noop", lambda: noop(fresh_where()))
        print("WHERE rows:", fresh_where().count())

        sc.setJobDescription("full query")
        out = query(t, SPARQL_TEXT)  # the plan written below; each timed run
        # collects a fresh DataFrame (see the NOTE above)
        timed("full query collect", lambda: query(t, SPARQL_TEXT).collect())
        with open(os.path.join(REPO, "plans", "r06", "sparql_full.txt"), "w") as f:
            f.write(out._jdf.queryExecution().explainString(spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        t.unpersist()
    finally:
        spark.stop()


def main():
    if sys.argv[1] == "--sparql-breakdown":
        sparql_breakdown()
    elif sys.argv[1] == "--noop":
        name = sys.argv[2]
        spark = make_spark()
        try:
            import __spark_entry__ as e

            qf = e.queries()[name]
            df = qf(spark, SF_DIR)
            timed(f"{name} noop", lambda: noop(qf(spark, SF_DIR)))
        finally:
            spark.stop()
    elif sys.argv[1] == "--explain":
        name, out_path = sys.argv[2], sys.argv[3]
        spark = make_spark()
        try:
            import __spark_entry__ as e

            df = e.queries()[name](spark, SF_DIR)
            with open(out_path, "w") as f:
                f.write(df._jdf.queryExecution().explainString(spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
