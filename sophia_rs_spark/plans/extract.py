"""The distributed extract stage: pages → quads → graph/term tables.

Spark shape (SURVEY.md §3.1): ``read pages`` → ``mapInPandas(extract +
parse)`` → canonical-string quad rows → quarantine split → SetGraph dedup
→ dictionary-encoded term table (ids = ``F.xxhash64`` of the canonical
encoding — deterministic, parallel, no coordination; replaces sophia's
serial ``BasicTermIndex`` counter, `inmem/src/index.rs:355-368`).

All parsing happens inside one Arrow-batched ``mapInPandas`` pass —
vectorized fast path per format across the batch, no per-row Python at
the DataFrame API level.  Everything downstream is built-in DataFrame
ops that Catalyst/AQE optimize (predicate pushdown, partial aggregation,
broadcast).

The parse output is materialized once per pass: ``extract_quads``
returns the ``mapInPandas`` output behind a lazy lineage cut, so
every consumer (the quarantine split's good and bad sides, the sameAs
edge scan, c14n, the sinks) reads the same materialized partitions
instead of re-running the Python parse.  The cut is
:func:`..operators.fixpoint.cut`, whose docstring states what executor
loss does to it.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fixpoint import cut
from ..sources.html_extract import extract_payloads
from ..sources.ntparser import _OUT_COLS, parse_nx_batch

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
QUADS_SCHEMA = (
    "url string, line int, fmt string, s string, p string, o string, g string, "
    "error string"
)

_NX_MODES = {
    "nt": dict(quads=False, generalized=False),
    "nq": dict(quads=True, generalized=False),
    "gnq": dict(quads=True, generalized=True),
}


def _parse_payload_batch(pdf: pd.DataFrame, strict: bool) -> pd.DataFrame:
    """Parse a batch of (url, fmt, text) payloads, dispatching per format.

    Vectorized per format group.  Unknown formats are quarantined rows.
    In ``strict`` mode, generalized payloads are parsed with the strict
    N-Quads grammar (FIXTURES.md F5: strict runs must quarantine them).
    """
    outs = []
    for fmt, grp in pdf.groupby("fmt", sort=True):
        if fmt in _NX_MODES:
            mode = dict(_NX_MODES[fmt])
            if strict and fmt == "gnq":
                mode["generalized"] = False
                mode["quads"] = True
            parsed = parse_nx_batch(grp[["url", "text"]], **mode)
        elif fmt in ("ttl", "trig", "gtrig"):
            from ..sources.turtle import parse_turtle_batch

            parsed = parse_turtle_batch(
                grp[["url", "text"]],
                quads=fmt in ("trig", "gtrig"),
                generalized=(fmt == "gtrig" and not strict),
            )
        elif fmt == "jsonld":
            from ..sources.jsonld import parse_jsonld_batch

            parsed = parse_jsonld_batch(grp[["url", "text"]])
        elif fmt == "rdfxml":
            from ..sources.rdfxml import parse_rdfxml_batch

            parsed = parse_rdfxml_batch(grp[["url", "text"]])
        else:
            parsed = pd.DataFrame(
                {
                    "url": grp["url"],
                    "line": 0,
                    "s": None,
                    "p": None,
                    "o": None,
                    "g": None,
                    "error": f"unsupported format {fmt!r}",
                }
            )
        parsed = parsed.copy()
        parsed["fmt"] = fmt
        outs.append(parsed)
    if not outs:
        return pd.DataFrame(columns=["url", "line", "fmt", "s", "p", "o", "g", "error"])
    out = pd.concat(outs, ignore_index=True)
    return out[["url", "line", "fmt", "s", "p", "o", "g", "error"]]


def extract_quads(
    pages: DataFrame,
    *,
    strict: bool = False,
    from_html: bool = True,
    default_fmt: str = "nt",
    microdata: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang[, fmt]) → quads DataFrame.

    ``from_html=True`` runs the deterministic HTML extractor on ``html``
    (formats discovered from the markup); otherwise ``text`` is parsed
    directly using the per-row ``fmt`` column (or ``default_fmt``).
    """
    has_fmt = "fmt" in pages.columns
    cols = ["url", "html"] if from_html else (
        ["url", "text", "fmt"] if has_fmt else ["url", "text"]
    )
    src = pages.select(*cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if from_html:
                payloads = _extract_batch(pdf)
            else:
                payloads = pdf.rename(columns=str)
                if "fmt" not in payloads.columns:
                    payloads["fmt"] = default_fmt
            out = _parse_payload_batch(payloads, strict)
            if microdata and from_html:
                from ..sources.microdata import extract_microdata_batch

                md = extract_microdata_batch(pdf)
                if len(md):
                    md = md.copy()
                    md["fmt"] = "microdata"
                    out = pd.concat(
                        [out, md[["url", "line", "fmt", "s", "p", "o", "g", "error"]]],
                        ignore_index=True,
                    )
            yield out

    # materialized once per pass (see the module docstring)
    return cut(src.mapInPandas(run, schema=QUADS_SCHEMA))


_FAST_PRE_RE = re.compile(
    r'(?s)<pre data-format="(?P<fmt>[a-z]+)">(?P<payload>.*?)</pre>'
)
_ODD_AMP_RE = re.compile(r"&(?!amp;|lt;|gt;)")


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Payload extraction for a batch of pages.

    Fast path (a handful of C-level string ops per page, no
    intermediate frames): pages with exactly one ``<pre data-format>``
    block, no JSON-LD script, and only the three entities our
    synthesizer emits.  Everything else goes through the spec-faithful
    HTMLParser-based extractor.
    """
    rows: list[tuple] = []
    for url, h in zip(pdf["url"], pdf["html"]):
        html = bytes(h).decode("utf-8", "replace")
        if (
            html.count('<pre data-format="') == 1
            and "application/ld+json" not in html
        ):
            m = _FAST_PRE_RE.search(html)
            if m is not None:
                payload = m.group("payload")
                if "&" not in payload:
                    rows.append((url, m.group("fmt"), payload))
                    continue
                if _ODD_AMP_RE.search(payload) is None:
                    rows.append(
                        (
                            url,
                            m.group("fmt"),
                            payload.replace("&lt;", "<")
                            .replace("&gt;", ">")
                            .replace("&amp;", "&"),
                        )
                    )
                    continue
        for fmt, text in extract_payloads(html):
            rows.append((url, fmt, text))
    return pd.DataFrame(rows, columns=["url", "fmt", "text"])


def split_quarantine(quads: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_quads, bad_rows) — sophia's StreamError channel
    (`api/src/source/_stream_error.rs`) as a bad-records table."""
    good = quads.filter(F.col("error").isNull()).drop("error")
    bad = quads.filter(F.col("error").isNotNull()).select("url", "line", "fmt", "error")
    return good, bad


def graph_table(good_quads: DataFrame, *, set_graph: bool = True) -> DataFrame:
    """Materialized graph rows (g, s, p, o, src_url).

    ``set_graph=True`` applies SetGraph semantics (`api/src/graph.rs:620`):
    duplicates removed *within a graph*; provenance keeps one src_url per
    quad (min — deterministic).
    """
    out = good_quads.select("s", "p", "o", "g", F.col("url").alias("src_url"))
    if set_graph:
        out = out.groupBy("s", "p", "o", "g").agg(F.min("src_url").alias("src_url"))
    return out


def term_table(good_quads: DataFrame) -> DataFrame:
    """Dictionary-encoded term table: distinct canonical terms + xxhash64 ids
    (SURVEY.md §1.4 TermIndex mapping).  Partial aggregation makes the
    distinct map-side; ids need no coordination."""
    terms = (
        good_quads.select(F.explode(F.array("s", "p", "o", "g")).alias("term"))
        .filter(F.col("term").isNotNull())
        .distinct()
    )
    return terms.select(
        F.xxhash64("term").alias("term_id"),
        F.col("term"),
        _term_kind_col(F.col("term")).alias("kind"),
    )


def _term_kind_col(c) -> F.Column:
    """Kind discriminant from a canonical encoding (cheap prefix dispatch,
    same discriminants as `api/src/term.rs:47-58`)."""
    return (
        F.when(c.startswith("_:"), F.lit(0))
        .when(c.startswith("<<("), F.lit(3))
        .when(c.startswith("<"), F.lit(1))
        .when(c.startswith('"'), F.lit(2))
        .otherwise(F.lit(4))
    )


def write_bucketed_terms(
    terms: DataFrame, table_name: str, path: str, buckets: int = 64
) -> None:
    """Persist the term dictionary bucketed by ``term_id`` — the 100 TB
    co-location path: any table keyed by term_id written with the SAME
    bucketing joins against it with NO exchange on either side (replaces
    sophia's in-memory TermIndexMap lookups with shuffle-free joins).
    """
    (
        terms.write.mode("overwrite")
        .bucketBy(buckets, "term_id")
        .sortBy("term_id")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table_name)
    )


def encode_nquads(quads: DataFrame) -> DataFrame:
    """Canonical N-Quads line per quad (`turtle/src/serializer/nq.rs`):
    pure column concat — JVM-side, codegen-friendly."""
    parts = [F.col("s"), F.col("p"), F.col("o")]
    if "g" in quads.columns:
        parts.append(F.col("g"))  # concat_ws skips NULL → default graph
    return quads.select(
        F.concat(F.concat_ws(" ", *parts), F.lit(" .")).alias("line")
    )


def lineage(
    stage: str, quads: DataFrame
) -> DataFrame:
    """Per-partition lineage rows (north rule): partition id, row count,
    error count, order-independent checksum (bit_xor of row hashes)."""
    return (
        quads.withColumn("part_id", F.spark_partition_id())
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
            F.expr("bit_xor(xxhash64(s, p, o, g))").alias("checksum"),
        )
        .withColumn("stage", F.lit(stage))
    )


def pages_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """pandas pages frame (from fixtures) → Spark DataFrame with the
    canonical pages schema + any side columns."""
    side = [c for c in pdf.columns if c not in ("url", "warc_ts", "html", "text", "lang")]
    schema = PAGES_SCHEMA + "".join(f", {c} string" for c in side)
    return spark.createDataFrame(pdf, schema=schema)
