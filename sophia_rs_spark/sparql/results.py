"""SPARQL Query Results formats: JSON, XML, CSV and TSV writers.

Emits the W3C ``application/sparql-results+json`` /
``application/sparql-results+xml`` documents for a bindings DataFrame
(SELECT) or a boolean (ASK), matching the reference's results model
(`sparql_client/src/results.rs:16-147`): term objects are tagged
``uri`` / ``literal`` / ``bnode`` / ``triple``; literals carry
``xml:lang`` (and ``its:dir`` for directional language strings, RDF 1.2)
or ``datatype``.  CSV/TSV follow sparql11-results-csv-tsv.

Two tiers (r5):

* the ``bindings_to_*`` document writers return one in-memory document.
  Below ``_DELEGATE_ROWS`` they render on the driver (the reference's
  scope — client-side parsing of small result documents); above it the
  per-cell rendering (escape decoding, term classification — the CPU
  cost) runs DISTRIBUTED via the ``*_lines_df`` twins and the driver
  only concatenates prerendered lines, so a million-row export no
  longer burns driver CPU.
* the ``csv_lines_df`` / ``json_lines_df`` / ``xml_lines_df`` /
  ``tsv_lines_df`` sinks return a ``(line_no, line)`` DataFrame that
  scales with the result set — the form a 100 TB pipeline writes to
  files (JSON-Lines per binding, XML ``<result>`` fragments, TSV/CSV
  rows).
"""

from __future__ import annotations

import json
from typing import Any, Dict, List, Optional
from xml.sax.saxutils import escape as _x

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from ..functions.triple_terms import split_triple_term
from ..terms.model import XSD, unescape

_SRJ_HEAD = "http://www.w3.org/2005/sparql-results#"


def term_to_json(enc: Optional[str]) -> Optional[Dict[str, Any]]:
    """Canonical term encoding → results-JSON term object
    (results.rs:58-82 ``Term``/``Literal``)."""
    if enc is None:
        return None
    if not isinstance(enc, str):
        # plain computed value (BIND of arithmetic etc.): plain literal
        if isinstance(enc, bool):
            return {
                "type": "literal",
                "value": "true" if enc else "false",
                "datatype": f"{XSD}boolean",
            }
        if isinstance(enc, int):
            return {"type": "literal", "value": str(enc), "datatype": f"{XSD}integer"}
        if isinstance(enc, float):
            return {"type": "literal", "value": repr(enc), "datatype": f"{XSD}double"}
        enc = str(enc)
    if enc.startswith("<<("):
        parts = split_triple_term(enc)
        if parts is None:
            return {"type": "literal", "value": enc}
        s, p, o = parts
        return {
            "type": "triple",
            "value": {
                "subject": term_to_json(s),
                "predicate": term_to_json(p),
                "object": term_to_json(o),
            },
        }
    if enc.startswith("<"):
        return {"type": "uri", "value": enc[1:-1]}
    if enc.startswith("_:"):
        return {"type": "bnode", "value": enc[2:]}
    if enc.startswith('"'):
        close = _closing_quote(enc)
        lex = unescape(enc[1:close])
        suffix = enc[close + 1 :]
        if suffix.startswith("^^<"):
            return {"type": "literal", "value": lex, "datatype": suffix[3:-1]}
        if suffix.startswith("@"):
            tag = suffix[1:]
            if "--" in tag:
                tag, dir_ = tag.rsplit("--", 1)
                return {
                    "type": "literal",
                    "value": lex,
                    "xml:lang": tag,
                    "its:dir": dir_,
                }
            return {"type": "literal", "value": lex, "xml:lang": tag}
        return {"type": "literal", "value": lex}
    # plain string value from an expression — simple literal
    return {"type": "literal", "value": enc}


def _closing_quote(enc: str) -> int:
    i = 1
    while i < len(enc):
        if enc[i] == "\\":
            i += 2
            continue
        if enc[i] == '"':
            return i
        i += 1
    return len(enc) - 1


_DELEGATE_ROWS = 10_000


class _Probed:
    """Delegation-tier probe WITHOUT running the plan twice (ADVICE r5):
    the frame is persisted around the probe, so when the large path then
    renders the full result, the partitions the probe already computed
    are served from storage instead of the whole (possibly UDF-heavy)
    plan re-executing from scratch.  A frame the caller already cached
    is used as is and left cached; otherwise the probe's own persist is
    unpersisted on exit, so no state survives the call."""

    def __init__(self, df):
        self.owned = df.storageLevel == StorageLevel.NONE
        self.df = df.persist() if self.owned else df

    def __enter__(self):
        return self.df, self.df.limit(_DELEGATE_ROWS + 1).collect()

    def __exit__(self, *exc):
        if self.owned:
            self.df.unpersist()
        return False



def bindings_to_json(
    df: DataFrame, variables: Optional[List[str]] = None
) -> Dict[str, Any]:
    """SELECT results → ``application/sparql-results+json`` document.

    Small results (≤ ``_DELEGATE_ROWS``) render on the driver; larger
    ones delegate the per-cell rendering to the executors
    (:func:`_json_line_col`) and the driver performs a single C-level
    ``json.loads`` over the prerendered binding objects."""
    cols = list(variables or df.columns)
    with _Probed(df) as (df, probe):
        if len(probe) <= _DELEGATE_ROWS:
            bindings = []
            for row in probe:
                b = {}
                for c in cols:
                    t = term_to_json(row[c])
                    if t is not None:
                        b[c] = t
                bindings.append(b)
            return {"head": {"vars": cols}, "results": {"bindings": bindings}}
        lines = [
            r["line"]
            for r in df.select(_json_line_col(cols).alias("line")).toLocalIterator()
        ]
    arr = json.loads("[" + ",".join(lines) + "]")
    return {"head": {"vars": cols}, "results": {"bindings": arr}}


def boolean_to_json(value: bool) -> Dict[str, Any]:
    """ASK result → results-JSON boolean document (results.rs:18-24)."""
    return {"head": {}, "boolean": bool(value)}


def to_json_str(doc: Dict[str, Any]) -> str:
    return json.dumps(doc, ensure_ascii=False)


# ---------------------------------------------------------------------------
# XML (https://www.w3.org/TR/rdf-sparql-XMLres/)
# ---------------------------------------------------------------------------


def _term_xml(t: Dict[str, Any]) -> str:
    kind = t["type"]
    if kind == "uri":
        return f"<uri>{_x(t['value'])}</uri>"
    if kind == "bnode":
        return f"<bnode>{_x(t['value'])}</bnode>"
    if kind == "triple":
        v = t["value"]
        return (
            "<triple>"
            f"<subject>{_term_xml(v['subject'])}</subject>"
            f"<predicate>{_term_xml(v['predicate'])}</predicate>"
            f"<object>{_term_xml(v['object'])}</object>"
            "</triple>"
        )
    attrs = ""
    if "xml:lang" in t:
        attrs += f' xml:lang="{_x(t["xml:lang"])}"'
        if "its:dir" in t:
            attrs += f' its:dir="{_x(t["its:dir"])}"'
    elif "datatype" in t:
        attrs += f' datatype="{_x(t["datatype"])}"'
    return f"<literal{attrs}>{_x(t['value'])}</literal>"


def bindings_to_xml(df: DataFrame, variables: Optional[List[str]] = None) -> str:
    """SELECT results → ``application/sparql-results+xml`` document.

    Small results render on the driver; larger ones delegate the
    per-cell rendering to the executors (:func:`_xml_line_col`) and the
    driver only joins prerendered ``<result>`` fragments."""
    cols = list(variables or df.columns)
    out = ['<?xml version="1.0"?>']
    out.append(
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#" '
        'xmlns:its="http://www.w3.org/2005/11/its">'
    )
    out.append(
        "<head>" + "".join(f'<variable name="{_x(c)}"/>' for c in cols) + "</head>"
    )
    out.append("<results>")
    with _Probed(df) as (df, probe):
        if len(probe) <= _DELEGATE_ROWS:
            for row in probe:
                cells = []
                for c in cols:
                    t = term_to_json(row[c])
                    if t is not None:
                        cells.append(
                            f'<binding name="{_x(c)}">{_term_xml(t)}</binding>'
                        )
                out.append("<result>" + "".join(cells) + "</result>")
        else:
            for r in df.select(_xml_line_col(cols).alias("line")).toLocalIterator():
                out.append(r["line"])
    out.append("</results></sparql>")
    return "".join(out)


def boolean_to_xml(value: bool) -> str:
    return (
        '<?xml version="1.0"?>'
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
        "<head></head>"
        f"<boolean>{'true' if value else 'false'}</boolean></sparql>"
    )


# ---------------------------------------------------------------------------
# CSV / TSV (https://www.w3.org/TR/sparql11-results-csv-tsv/)
# ---------------------------------------------------------------------------


def _csv_cell(t: Optional[Dict[str, Any]]) -> str:
    if t is None:
        return ""
    if t["type"] == "bnode":
        v = "_:" + t["value"]
    elif t["type"] == "triple":
        v = json.dumps(t["value"], ensure_ascii=False)
    else:
        v = t["value"]
    if any(ch in v for ch in ',"\n\r'):
        return '"' + v.replace('"', '""') + '"'
    return v


def bindings_to_csv(df: DataFrame, variables: Optional[List[str]] = None) -> str:
    cols = variables or df.columns
    lines = [",".join(cols)]
    for row in df.collect():
        lines.append(",".join(_csv_cell(term_to_json(row[c])) for c in cols))
    return "\r\n".join(lines) + "\r\n"


def csv_lines_df(df: DataFrame, order: Optional[List[str]] = None) -> DataFrame:
    """Distributed results-CSV sink: bindings DataFrame → one row per
    CSV line ``(line_no int, line string)``, header at line 0.

    The per-cell transform (sparql11-results-csv-tsv §3: lexical forms,
    ``_:`` bnodes, RFC-4180 quoting) runs as an Arrow-batched pandas UDF
    over the executors — reuses the same tested ``term_to_json`` /
    ``_csv_cell`` logic as the driver-side writer, but scales with the
    result set.  ``order`` gives the columns that define line order
    (sorted by canonical encoding); the single-partition window that
    assigns ``line_no`` is fine because *serialized result sets* are
    small relative to the corpus (bulk output goes through parquet/NQ
    sinks).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    def _cell_fn(s: pd.Series) -> pd.Series:
        return s.map(lambda enc: _csv_cell(term_to_json(enc)))

    _cell_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _cell = pandas_udf(_cell_fn, "string")

    cols = df.columns
    keys = order or cols
    body = df.select(
        *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)],
        F.concat_ws(",", *[_cell(F.col(c)) for c in cols]).alias("line"),
    )
    w = Window.orderBy(*[f"__k{i}" for i in range(len(keys))])
    body = body.select(F.row_number().over(w).alias("line_no"), "line")
    header = df.sparkSession.createDataFrame(
        [(0, ",".join(cols))], "line_no int, line string"
    )
    return header.unionByName(body)


def _tsv_cell(row_val: Optional[str]) -> str:
    if row_val is None:
        return ""
    # TSV keeps the full canonical (Turtle-like) encoding
    return str(row_val).replace("\t", "\\t").replace("\n", "\\n")


def bindings_to_tsv(df: DataFrame, variables: Optional[List[str]] = None) -> str:
    cols = list(variables or df.columns)
    lines = ["\t".join("?" + c for c in cols)]
    with _Probed(df) as (df, probe):
        if len(probe) <= _DELEGATE_ROWS:
            for row in probe:
                lines.append("\t".join(_tsv_cell(row[c]) for c in cols))
        else:
            lines.extend(
                r["line"]
                for r in df.select(_tsv_line_col(cols).alias("line")).toLocalIterator()
            )
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# distributed line renderers / sinks (r5)
# ---------------------------------------------------------------------------


def _binding_frag_udf(render):
    """Arrow-batched per-cell fragment renderer; NULL for unbound cells
    (``concat_ws`` then skips them)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(s: pd.Series) -> pd.Series:
        return s.map(lambda enc: None if enc is None else render(enc))

    fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(fn, "string")


def _json_line_col(cols: List[str]):
    """One results-JSON binding object per row, as a Column — the
    JSON-Lines body.  Reuses the tested :func:`term_to_json` renderer,
    Arrow-batched on the executors."""
    from pyspark.sql import functions as F

    frags = []
    for c in cols:
        key = json.dumps(c, ensure_ascii=False)
        frags.append(
            _binding_frag_udf(
                lambda enc, _k=key: _k
                + ": "
                + json.dumps(term_to_json(enc), ensure_ascii=False)
            )(F.col(c))
        )
    return F.concat(F.lit("{"), F.concat_ws(", ", *frags), F.lit("}"))


def _xml_line_col(cols: List[str]):
    """One ``<result>…</result>`` element per row, as a Column."""
    from pyspark.sql import functions as F

    frags = []
    for c in cols:
        head = f'<binding name="{_x(c)}">'
        frags.append(
            _binding_frag_udf(
                lambda enc, _h=head: _h
                + _term_xml(term_to_json(enc))
                + "</binding>"
            )(F.col(c))
        )
    return F.concat(F.lit("<result>"), F.concat_ws("", *frags), F.lit("</result>"))


def _tsv_line_col(cols: List[str]):
    """One TSV body line per row — pure JVM (the TSV cell transform is
    just tab/newline escaping of the canonical encoding)."""
    from pyspark.sql import functions as F

    cells = [
        F.coalesce(
            F.regexp_replace(
                F.regexp_replace(F.col(c).cast("string"), "\t", r"\\t"),
                "\n",
                r"\\n",
            ),
            F.lit(""),
        )
        for c in cols
    ]
    return F.concat_ws("\t", *cells)


def _lines_sink(
    df: DataFrame, order: Optional[List[str]], line_col, headers: List[str]
) -> DataFrame:
    """Shared ``(line_no int, line string)`` sink builder: header lines
    at 0..k-1, body lines numbered by ``row_number`` over the ``order``
    keys (sorted by canonical encoding).  The single-partition window
    is fine because *serialized result sets* are small relative to the
    corpus — bulk data belongs to the parquet / N-Quads sinks."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    keys = order or df.columns
    body = df.select(
        *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)],
        line_col.alias("line"),
    )
    w = Window.orderBy(*[f"__k{i}" for i in range(len(keys))])
    body = body.select(
        (F.row_number().over(w) + F.lit(len(headers) - 1))
        .cast("int")
        .alias("line_no"),
        "line",
    )
    header = df.sparkSession.createDataFrame(
        list(enumerate(headers)), "line_no int, line string"
    )
    return header.unionByName(body)


def json_lines_df(df: DataFrame, order: Optional[List[str]] = None) -> DataFrame:
    """Distributed results-JSON-Lines sink: line 0 is the ``head``
    document, each body line one binding object (the streaming form of
    ``application/sparql-results+json`` a large export wants)."""
    cols = df.columns
    head = json.dumps({"head": {"vars": list(cols)}}, ensure_ascii=False)
    return _lines_sink(df, order, _json_line_col(cols), [head])


def xml_lines_df(df: DataFrame, order: Optional[List[str]] = None) -> DataFrame:
    """Distributed results-XML sink: preamble + ``<head>`` +
    ``<results>`` as header lines, one ``<result>`` element per body
    line.  The consumer appends ``</results></sparql>`` after the last
    line (a footer row would need a count of the body)."""
    cols = df.columns
    headers = [
        '<?xml version="1.0"?>',
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#" '
        'xmlns:its="http://www.w3.org/2005/11/its">',
        "<head>"
        + "".join(f'<variable name="{_x(c)}"/>' for c in cols)
        + "</head>",
        "<results>",
    ]
    return _lines_sink(df, order, _xml_line_col(cols), headers)


def tsv_lines_df(df: DataFrame, order: Optional[List[str]] = None) -> DataFrame:
    """Distributed results-TSV sink (sparql11-results-csv-tsv §4) —
    pure JVM, no Python in the hot path."""
    cols = df.columns
    return _lines_sink(
        df, order, _tsv_line_col(cols), ["\t".join("?" + c for c in cols)]
    )
