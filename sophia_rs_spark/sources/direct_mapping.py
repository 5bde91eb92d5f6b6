"""W3C-Direct-Mapping-style RDB→RDF source.

Maps relational tables to canonical-N-Triples triple rows — the
relational analogue of sophia's parsers as a `CollectibleGraph` source
(`api/src/graph.rs:334`).  Doubles as the engine's correctness oracle:
:func:`spark_triples` builds the Spark DataFrame and :func:`duckdb_cte`
emits the *equivalent ANSI SQL* so the driver can cross-check every
graph operator against DuckDB on the same parquet tables.

Only deterministic, dialect-identical constructs are used (string
concat, CAST of integer types) so the two sides agree byte-for-byte.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plan_cache import listing, plan

EX = "http://example.org/"
VOC = EX + "voc#"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD_INTEGER_SUFFIX = '"^^<http://www.w3.org/2001/XMLSchema#integer>'


@dataclass(frozen=True)
class ColumnMap:
    col: str
    predicate: str  # full predicate IRI
    kind: str = "string"  # string | integer | link
    target_prefix: str = ""  # for link: IRI prefix of the target entity


@dataclass(frozen=True)
class TableMap:
    table: str
    pk: str
    entity: str  # entity path segment, e.g. "nation"
    type_name: str  # class local name, e.g. "Nation"
    columns: List[ColumnMap] = field(default_factory=list)

    @property
    def subject_prefix(self) -> str:
        return f"{EX}{self.entity}/"


# The default mapping over the driver's TPC-H-ish tables.
DEFAULT_MAPPINGS: List[TableMap] = [
    TableMap(
        "region",
        "r_regionkey",
        "region",
        "Region",
        [ColumnMap("r_name", VOC + "name")],
    ),
    TableMap(
        "nation",
        "n_nationkey",
        "nation",
        "Nation",
        [
            ColumnMap("n_name", VOC + "name"),
            # typed integer literal — exercises numeric VALUE order in
            # MIN/MAX/ORDER BY (lexicographic "10" < "2" would be wrong)
            ColumnMap("n_nationkey", VOC + "key", "integer"),
            ColumnMap("n_regionkey", VOC + "inRegion", "link", EX + "region/"),
        ],
    ),
    TableMap(
        "customer",
        "c_custkey",
        "customer",
        "Customer",
        [
            ColumnMap("c_name", VOC + "name"),
            ColumnMap("c_mktsegment", VOC + "segment"),
            ColumnMap("c_nationkey", VOC + "inNation", "link", EX + "nation/"),
        ],
    ),
    TableMap(
        "supplier",
        "s_suppkey",
        "supplier",
        "Supplier",
        [
            ColumnMap("s_name", VOC + "name"),
            ColumnMap("s_nationkey", VOC + "inNation", "link", EX + "nation/"),
        ],
    ),
]


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _subject_col(tm: TableMap) -> F.Column:
    return F.concat(
        F.lit(f"<{tm.subject_prefix}"), F.col(tm.pk).cast("string"), F.lit(">")
    )


def table_triples(df: DataFrame, tm: TableMap) -> DataFrame:
    """One relational table → its direct-mapped triples (s, p, o)."""
    s = _subject_col(tm).alias("s")
    parts = [
        df.select(
            s,
            F.lit(RDF_TYPE).alias("p"),
            F.lit(f"<{VOC}{tm.type_name}>").alias("o"),
        )
    ]
    for cm in tm.columns:
        if cm.kind == "string":
            o = F.concat(F.lit('"'), F.col(cm.col), F.lit('"'))
        elif cm.kind == "integer":
            o = F.concat(
                F.lit('"'), F.col(cm.col).cast("string"), F.lit(XSD_INTEGER_SUFFIX)
            )
        elif cm.kind == "link":
            o = F.concat(
                F.lit(f"<{cm.target_prefix}"), F.col(cm.col).cast("string"), F.lit(">")
            )
        else:
            raise ValueError(cm.kind)
        parts.append(
            df.select(
                s, F.lit(f"<{cm.predicate}>").alias("p"), o.alias("o")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def spark_triples(
    spark: SparkSession, sf_dir: str, mappings: List[TableMap] = DEFAULT_MAPPINGS
) -> DataFrame:
    """All mapped tables → one triples DataFrame (s, p, o).  While every
    table's local file listing is unchanged, repeated calls return the
    same frame (:mod:`..plan_cache`), which holds no data: every action
    re-reads the files.  A path ``os`` cannot list is never reused."""
    paths = [f"{sf_dir}/{tm.table}.parquet" for tm in mappings]
    listings = tuple(listing(p) for p in paths)

    def build():
        out = None
        for tm, path in zip(mappings, paths):
            t = table_triples(spark.read.parquet(path), tm)
            out = t if out is None else out.unionByName(t)
        assert out is not None
        return out, None not in listings

    return plan(spark, (sf_dir, repr(mappings), listings), build)


# ---------------------------------------------------------------------------
# DuckDB oracle side — the SAME mapping as SQL text
# ---------------------------------------------------------------------------


def _sql_for_table(tm: TableMap) -> List[str]:
    s = f"'<{tm.subject_prefix}' || CAST({tm.pk} AS VARCHAR) || '>'"
    selects = [
        f"SELECT {s} AS s, '{RDF_TYPE}' AS p, '<{VOC}{tm.type_name}>' AS o "
        f"FROM {tm.table}"
    ]
    for cm in tm.columns:
        if cm.kind == "string":
            o = f"'\"' || {cm.col} || '\"'"
        elif cm.kind == "integer":
            o = f"'\"' || CAST({cm.col} AS VARCHAR) || '{XSD_INTEGER_SUFFIX}'"
        elif cm.kind == "link":
            o = f"'<{cm.target_prefix}' || CAST({cm.col} AS VARCHAR) || '>'"
        else:
            raise ValueError(cm.kind)
        selects.append(
            f"SELECT {s} AS s, '<{cm.predicate}>' AS p, {o} AS o FROM {tm.table}"
        )
    return selects


def duckdb_cte(mappings: List[TableMap] = DEFAULT_MAPPINGS) -> str:
    """The triples relation as a DuckDB CTE body (UNION ALL of selects)."""
    selects = []
    for tm in mappings:
        selects.extend(_sql_for_table(tm))
    return "\nUNION ALL\n".join(selects)


def with_triples(sql: str, mappings: List[TableMap] = DEFAULT_MAPPINGS) -> str:
    """Wrap a query in ``WITH triples AS (<mapping>) <sql>``."""
    return f"WITH triples AS (\n{duckdb_cte(mappings)}\n)\n{sql}"
