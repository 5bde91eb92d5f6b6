"""The four workloads: set-up, one measured operation, the traced pass.

A workload object owns its inputs and cached frames for one Spark
session.  ``op()`` is one unit of closed-loop work (a full pass for the
flow workloads, one query or update for ``query_mix``); it returns an
``OpResult`` whose ``ok`` says whether the output matched the oracle.
``traced(tracer)`` re-runs the work with one span per layer and returns
the per-layer metrics.

Layers are the package's modules.  Spark is lazy, so a flow layer is
timed by materializing the prefix of the flow that ends at it (a noop
sink, or the pass's own digest for the final outputs); its self time is
its prefix time minus the prefix time of the layer it extends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Tuple

from . import gen, oracle
from .env import wall

Digest = Tuple[int, int]


@dataclass
class OpResult:
    seconds: float
    rows: int
    ok: bool
    kind: str = "pass"
    error: Optional[str] = None


def digest_of(df, cols) -> Digest:
    """(rows, sum of crc32 over each row's non-null fields) in one job —
    the engine-side twin of ``oracle.digest``."""
    from pyspark.sql import functions as F

    key = F.concat_ws(oracle.SEP, *[F.col(c).cast("string") for c in cols])
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.crc32(key.cast("binary"))).alias("h")
    ).first()
    return int(r["n"]), int(r["h"] or 0)


_OBS = itertools.count()


def noop_rows(df) -> int:
    """Materialize ``df`` into the noop sink; its row count comes from an
    observed metric on the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"pb_rows_{next(_OBS)}")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def rate_loop(fn: Callable[[], int], min_seconds: float = 0.3) -> Tuple[float, int]:
    """Call ``fn`` (returns items done) until ``min_seconds`` pass →
    (seconds, items)."""
    t0, items = wall(), 0
    while True:
        items += fn()
        el = wall() - t0
        if el >= min_seconds:
            return el, items


@dataclass
class Layer:
    name: str  # "<module>.<function>" of the engine call it times
    fn: Callable[[Dict[str, object]], object]
    after: Optional[str] = "<prev>"  # the layer whose prefix this extends
    sink: Optional[str] = None  # expected-digest key, for final outputs
    cols: Tuple[str, ...] = ()
    # a second output of the same upstream frames: the pass runs it right
    # after the previous layer, on the same (partly checkpointed) frames
    reuse: bool = False


class Workload:
    name = ""
    # the final outputs whose rows count as the pass's output
    output_sinks: Tuple[str, ...] = ()
    # the measured loop stops only after a whole number of these ops
    unit = 1
    # traced passes of the workload's own work (one pass of a ~1.5 s flow
    # is too noisy for its self times to add up to the untraced pass)
    trace_reps = 1

    def __init__(self, spark, seed: int, size: str, work: str):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.work = os.path.join(work, f"{self.name}-{size}")
        self.cached: List[object] = []
        self.setup_detail: Dict[str, float] = {}
        self._expected = None

    # -- lifecycle ----------------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def cache(self, df):
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df

    def close(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def expected(self):
        if self._expected is None:
            self._expected = self.compute_expected()
        return self._expected

    def compute_expected(self):
        raise NotImplementedError

    # -- measured work ------------------------------------------------------

    def op(self) -> OpResult:
        raise NotImplementedError

    def warmup(self, cold: bool) -> None:
        """Unchecked work that brings the session to steady state;
        ``cold`` is true for the first set-up in a new session."""
        raise NotImplementedError

    def summary(self, results: List[OpResult]) -> Dict[str, float]:
        """Workload-specific end-to-end figures from the measured ops."""
        raise NotImplementedError

    def traced(self, tr, reps: int = 1) -> Dict[str, float]:
        raise NotImplementedError

    def kernels(self) -> Dict[str, float]:
        """In-process timings of the engine's Python kernels."""
        return {}


# ---------------------------------------------------------------------------
# flow workloads: a chain of layers ending in digested outputs
# ---------------------------------------------------------------------------


class FlowWorkload(Workload):
    def inputs(self) -> Dict[str, object]:
        raise NotImplementedError

    def layers(self) -> List[Layer]:
        raise NotImplementedError

    def _resolved(self) -> List[Layer]:
        out, prev = [], None
        for L in self.layers():
            after = prev if L.after == "<prev>" else L.after
            out.append(Layer(L.name, L.fn, after, L.sink, L.cols, L.reuse))
            prev = L.name
        return out

    def run_flow(self) -> Dict[str, Digest]:
        env = self.inputs()
        got = {}
        for L in self._resolved():
            env[L.name] = L.fn(env)
        for L in self._resolved():
            if L.sink:
                got[L.sink] = digest_of(env[L.name], L.cols)
        return got

    # unchecked full passes in a cold session's set-up: they start the
    # Python workers, compile the plans and let the JIT settle (measured:
    # crawl_nt passes drop from 2.4 s to 1.4 s over the first two).  A
    # later set-up in the same session runs one pass.
    warmup_passes = 1

    def warmup(self, cold: bool) -> None:
        for _ in range(self.warmup_passes if cold else 1):
            self.run_flow()

    def op(self) -> OpResult:
        t0 = wall()
        try:
            got = self.run_flow()
        except Exception as e:  # a failed pass counts, and the run goes on
            return OpResult(wall() - t0, 0, False, error=f"{type(e).__name__}: {e}")
        dt = wall() - t0
        exp = self.expected()
        ok = all(got[k] == exp[k] for k in got)
        rows = sum(got[k][0] for k in self.output_sinks)
        want = {k: exp[k] for k in got}
        return OpResult(dt, rows, ok, error=None if ok else f"digest {got} != {want}")

    def summary(self, results: List[OpResult]) -> Dict[str, float]:
        ok = [r for r in results if r.ok] or results
        return {
            "triples_per_s": statistics.median(r.rows / r.seconds for r in ok),
            "op_p50_s": statistics.median(r.seconds for r in ok),
        }

    def traced(self, tr, reps: int = 1) -> Dict[str, float]:
        """One span per layer around its prefix; self times by difference,
        median over ``reps`` traced passes.  The digests of the final
        outputs are checked like a pass's."""
        layers = self._resolved()
        by_name = {L.name: L for L in layers}
        self_s: Dict[str, List[float]] = {L.name: [] for L in layers}
        rows: Dict[str, int] = {}
        self.traced_ok = True
        self._base_of = {L.name: None if L.reuse else L.after for L in layers}
        for _ in range(reps):
            prefix_s: Dict[str, float] = {}
            got: Dict[str, Digest] = {}
            self._spans = {}
            env: Dict[str, object] = {}
            with tr.span(f"{self.name}.pass", op=f"{self.name}/traced"):
                for L in layers:
                    with tr.span(L.name, op=f"{self.name}/traced") as sp:
                        if not L.reuse:
                            path, cur = [], L
                            while cur is not None:
                                path.append(cur)
                                cur = by_name.get(cur.after) if cur.after else None
                            env = self.inputs()
                            for A in reversed(path[1:]):
                                env[A.name] = A.fn(env)
                        env[L.name] = L.fn(env)
                        if L.sink:
                            got[L.sink] = digest_of(env[L.name], L.cols)
                            rows[L.name] = got[L.sink][0]
                        else:
                            rows[L.name] = noop_rows(env[L.name])
                    prefix_s[L.name] = sp.seconds
                    self._spans[L.name] = sp
                    base = self._base_of[L.name]
                    self_s[L.name].append(sp.seconds - (prefix_s[base] if base else 0.0))
            exp = self.expected()
            self.traced_ok &= all(got[k] == exp[k] for k in got)
        m = {f"{n}_s": statistics.median(v) for n, v in self_s.items()}
        m["trace.traced_total_s"] = sum(m.values())
        m.update(self.layer_counts(rows))
        return m

    def layer_cpu_self(self, name: str) -> float:
        """Executor CPU of a layer's span minus that of the prefix it
        extends (valid after ``Tracer.collect_counters``)."""
        own = self._spans[name].counters.get("executor_cpu_s", 0.0)
        base = self._base_of[name]
        return own - (self._spans[base].counters.get("executor_cpu_s", 0.0) if base else 0.0)

    def layer_counts(self, rows: Dict[str, int]) -> Dict[str, float]:
        return {}


def _extract_counts(rows: Dict[str, int]) -> Dict[str, float]:
    ext = rows["plans.extract.extract_quads"]
    good = rows["plans.extract.split_quarantine"]
    c14n = rows["operators.c14n.canonicalize_by_url"]
    return {
        "plans.extract.rows_out": float(ext),
        "plans.extract.quarantine_ratio": (ext - good) / ext if ext else 0.0,
        "plans.extract.dedup_ratio": rows["plans.extract.graph_table"] / c14n if c14n else 0.0,
    }


class CrawlNt(FlowWorkload):
    """Bulk crawl ingest over the vectorized N-Triples path."""

    name = "crawl_nt"
    output_sinks = ("graph",)
    warmup_passes = 2
    trace_reps = 3

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from sophia_rs_spark.sources.doc2rdf import doc_pages

        self.inp = gen.crawl_nt(self.seed, self.size)
        spark = self.spark
        docs = spark.createDataFrame(self.inp.docs)
        tiles = spark.range(self.inp.tiles).select(F.col("id").alias("tile"))
        suffix = F.concat(F.lit(" tile"), F.col("tile").cast("string"))
        tiled = docs.crossJoin(F.broadcast(tiles)).select(
            (F.col("doc_id") + F.col("tile") * oracle.TILE_STRIDE).alias("doc_id"),
            F.concat(F.col("text"), suffix).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + F.length(suffix)).alias("n_chars"),
            F.col("doc_id").alias("orig_id"),
            "tile",
        )
        recrawl = spark.createDataFrame(self.inp.recrawl).withColumnRenamed("doc_id", "orig_id")
        again = doc_pages(tiled.join(F.broadcast(recrawl), ["orig_id", "tile"])).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
        )
        pages = doc_pages(tiled).unionByName(again)
        order = F.xxhash64("url", "warc_ts", F.lit(self.inp.order_salt))
        npart = spark.sparkContext.defaultParallelism * 2
        self.pages = self.cache(pages.repartition(npart, order).sortWithinPartitions(order))

    def compute_expected(self):
        return oracle.crawl_nt(self.inp)

    def inputs(self):
        return {"pages": self.pages}

    def layers(self):
        from sophia_rs_spark.operators.c14n import canonicalize_by_url
        from sophia_rs_spark.plans.extract import (
            extract_quads, graph_table, split_quarantine, term_table,
        )

        c14n = "operators.c14n.canonicalize_by_url"
        return [
            Layer("plans.extract.extract_quads", lambda e: extract_quads(e["pages"], from_html=True)),
            Layer("plans.extract.split_quarantine",
                  lambda e: split_quarantine(e["plans.extract.extract_quads"])[0]),
            Layer(c14n, lambda e: canonicalize_by_url(e["plans.extract.split_quarantine"])),
            Layer("plans.extract.graph_table", lambda e: graph_table(e[c14n], set_graph=True),
                  sink="graph", cols=("s", "p", "o", "g", "src_url")),
            Layer("plans.extract.term_table", lambda e: term_table(e[c14n]), after=c14n,
                  sink="terms", cols=("term", "kind"), reuse=True),
        ]

    def layer_counts(self, rows):
        m = _extract_counts(rows)
        m["operators.c14n.bnode_url_share"] = 0.0  # doc pages carry no blank nodes
        return m

    def kernels(self):
        from sophia_rs_spark.sources.ntparser import parse_nx_batch

        batch = self.pages.select("url", "text").limit(2000).toPandas()
        sec, rows = rate_loop(lambda: len(parse_nx_batch(batch)))
        return {"sources.ntparser.rows_per_s": rows / sec}


class CrawlMixed(FlowWorkload):
    """The heterogeneous web: seven formats, blank nodes, sameAs bridges."""

    name = "crawl_mixed"
    output_sinks = ("graph",)
    unit = 2  # a pass takes about 5 s: at least two make the median
    trace_reps = 2
    warmup_passes = 2

    def setup(self) -> None:
        from sophia_rs_spark.plans.extract import pages_df

        self.pages_in = gen.crawl_mixed(self.seed, self.size)
        self.frame = gen.mixed_pages_frame(self.pages_in)
        npart = self.spark.sparkContext.defaultParallelism * 2
        self.pages = self.cache(pages_df(self.spark, self.frame).repartition(npart))
        self.cc_stats: Dict[str, int] = {}

    def compute_expected(self):
        return oracle.crawl_mixed(self.pages_in)

    def inputs(self):
        return {"pages": self.pages}

    def layers(self):
        from sophia_rs_spark.operators.c14n import canonicalize_by_url
        from sophia_rs_spark.operators.linking import (
            canonicalize_entities, connected_components, sameas_edges,
        )
        from sophia_rs_spark.plans.extract import (
            extract_quads, graph_table, split_quarantine, term_table,
        )

        good, cc = "plans.extract.split_quarantine", "operators.linking.connected_components"
        c14n = "operators.c14n.canonicalize_by_url"
        return [
            Layer("plans.extract.extract_quads", lambda e: extract_quads(e["pages"], from_html=True)),
            Layer(good, lambda e: split_quarantine(e["plans.extract.extract_quads"])[0]),
            Layer("operators.linking.sameas_edges", lambda e: sameas_edges(e[good])),
            Layer(cc, lambda e: connected_components(
                e["operators.linking.sameas_edges"], stats=self.cc_stats)),
            Layer("operators.linking.canonicalize_entities",
                  lambda e: canonicalize_entities(e[good], e[cc])),
            Layer(c14n, lambda e: canonicalize_by_url(e["operators.linking.canonicalize_entities"])),
            Layer("plans.extract.graph_table", lambda e: graph_table(e[c14n], set_graph=True),
                  sink="graph", cols=("s", "p", "o", "g", "src_url")),
            Layer("plans.extract.term_table", lambda e: term_table(e[c14n]), after=c14n,
                  sink="terms", cols=("term", "kind"), reuse=True),
        ]

    def check_quarantine(self) -> bool:
        """Bad rows are not a pass output, so they are checked once."""
        from sophia_rs_spark.plans.extract import extract_quads, split_quarantine

        bad = split_quarantine(extract_quads(self.pages, from_html=True))[1]
        return bad.count() == self.expected()["bad_rows"]

    def layer_counts(self, rows):
        m = _extract_counts(rows)
        exp = self.expected()
        m["operators.c14n.bnode_url_share"] = exp["bnode_urls"] / exp["urls"]
        m["operators.linking.rounds"] = float(self.cc_stats.get("iterations", 0))
        return m

    def kernels(self):
        from sophia_rs_spark.operators.c14n import relabel
        from sophia_rs_spark.sources.html_extract import extract_payloads
        from sophia_rs_spark.sources.jsonld import parse_jsonld_batch
        from sophia_rs_spark.sources.rdfxml import parse_rdfxml_batch
        from sophia_rs_spark.sources.turtle import parse_turtle_batch

        f = self.frame
        fmts = [p.fmt for p in self.pages_in]
        f = f.assign(fmt=fmts)

        def turtle() -> int:
            return sum(
                len(parse_turtle_batch(f[f.fmt == x][["url", "text"]], quads=x != "ttl",
                                       generalized=x == "gtrig"))
                for x in ("ttl", "trig")
            )

        out = {}
        for key, fn in [
            ("sources.turtle.rows_per_s", turtle),
            ("sources.jsonld.rows_per_s",
             lambda: len(parse_jsonld_batch(f[f.fmt == "jsonld"][["url", "text"]]))),
            ("sources.rdfxml.rows_per_s",
             lambda: len(parse_rdfxml_batch(f[f.fmt == "rdfxml"][["url", "text"]]))),
            ("sources.html_extract.pages_per_s",
             lambda: sum(1 for h in f["html"] if extract_payloads(h) is not None)),
        ]:
            sec, items = rate_loop(fn)
            out[key] = items / sec
        groups = self.expected()["bnode_groups"]
        times = []
        for _ in range(3):
            t0 = wall()
            for qs in groups:
                relabel(qs)
            times.append(wall() - t0)
        out["operators.c14n.kernel_s"] = statistics.median(times)
        return out


class LinkReason(FlowWorkload):
    """Fixpoint operators over the relational graph, no Python workers."""

    name = "link_reason"
    output_sinks = ("linked", "saturated", "reach", "pairs")

    def mappings(self):
        from sophia_rs_spark.sources.direct_mapping import DEFAULT_MAPPINGS

        return DEFAULT_MAPPINGS

    def setup(self) -> None:
        from sophia_rs_spark.sources.direct_mapping import spark_triples

        self.inp = gen.link_reason(self.seed, self.size)
        data = write_tables(self.inp.tables, self.work)
        t0 = wall()
        base = spark_triples(self.spark, data, self.mappings())
        self.setup_detail["sources.direct_mapping.spark_triples_s"] = wall() - t0
        extra = self.spark.createDataFrame(self.inp.extra, "s string, p string, o string")
        self.graph = self.cache(base.unionByName(extra))
        self.docs = self.cache(self.spark.createDataFrame(self.inp.docs[["doc_id", "text"]]))
        self.cc_stats: Dict[str, int] = {}

    def compute_expected(self):
        return oracle.link_reason(self.inp, self.mappings())

    def inputs(self):
        return {"graph": self.graph, "docs": self.docs}

    def layers(self):
        from sophia_rs_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
        from sophia_rs_spark.operators.linking import (
            canonicalize_entities, connected_components, sameas_edges,
        )
        from sophia_rs_spark.operators.paths import one_or_more, pred
        from sophia_rs_spark.operators.reasoner import rdfs_saturate

        cc = "operators.linking.connected_components"
        return [
            Layer("operators.linking.sameas_edges", lambda e: sameas_edges(e["graph"]), after=None),
            Layer(cc, lambda e: connected_components(
                e["operators.linking.sameas_edges"], stats=self.cc_stats)),
            Layer("operators.linking.canonicalize_entities",
                  lambda e: canonicalize_entities(e["graph"], e[cc]),
                  sink="linked", cols=("s", "p", "o")),
            Layer("operators.reasoner.rdfs_saturate", lambda e: rdfs_saturate(e["graph"]),
                  after=None, sink="saturated", cols=("s", "p", "o")),
            Layer("operators.paths.one_or_more",
                  lambda e: one_or_more(pred(e["graph"], f"<{gen.VOC}suppliesTo>")),
                  after=None, sink="reach", cols=("src", "dst")),
            Layer("operators.dedup.minhash_signatures",
                  lambda e: minhash_signatures(e["docs"], bands=4, k=3), after=None),
            Layer("operators.dedup.lsh_candidate_pairs",
                  lambda e: lsh_candidate_pairs(e["operators.dedup.minhash_signatures"]),
                  sink="pairs", cols=("doc_a", "doc_b")),
        ]

    def layer_counts(self, rows):
        return {
            "operators.linking.rounds": float(self.cc_stats.get("iterations", 0)),
            "operators.reasoner.inferred_rows": float(
                rows["operators.reasoner.rdfs_saturate"] - self.expected()["base_rows"]
            ),
            "operators.dedup.candidate_pairs": float(rows["operators.dedup.lsh_candidate_pairs"]),
        }


def write_tables(tables, work: str) -> str:
    """Generated tables → ``<work>/data/<name>.parquet`` (what
    ``direct_mapping.spark_triples`` reads)."""
    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(data, f"{name}.parquet"), index=False)
    return data


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

PFX = f"PREFIX voc: <{gen.VOC}>\n"
EX = gen.EX


def sparql_text(op: "gen.Op") -> str:
    a = op.args
    t = op.template
    if t == "aggregate":
        return PFX + f"""SELECT ?rf (COUNT(?q) AS ?n) (SUM(?q)+0 AS ?tq)
WHERE {{ ?o voc:quantity ?q ; voc:returnflag ?rf .
  OPTIONAL {{ ?o voc:linestatus ?ls }}
  FILTER(?q > {a['q']} && BOUND(?ls)) }}
GROUP BY ?rf ORDER BY DESC(SUM(?q)+0)"""
    if t == "bgp_star":
        return PFX + f"""SELECT ?c ?cn ?nn WHERE {{
  ?c a voc:Customer ; voc:name ?cn ; voc:inNation ?n .
  ?n voc:name ?nn ; voc:inRegion <{EX}region/{a['region']}> }}"""
    if t == "count_distinct":
        return PFX + f"""SELECT (COUNT(DISTINCT ?ls) AS ?n) (COUNT(DISTINCT ?o) AS ?no)
WHERE {{ ?o voc:returnflag "{a['rf']}" ; voc:linestatus ?ls }}"""
    if t == "min_max":
        return PFX + f"""SELECT ?rf (MIN(?q) AS ?mn) (MAX(?q) AS ?mx)
WHERE {{ ?o voc:quantity ?q ; voc:returnflag ?rf FILTER(?q >= {a['q']}) }} GROUP BY ?rf"""
    if t == "group_concat":
        return PFX + f"""SELECT ?r (GROUP_CONCAT(?nn; separator="|") AS ?names)
WHERE {{ ?n voc:inRegion ?r ; voc:name ?nn FILTER(?r = <{EX}region/{a['region']}>) }}
GROUP BY ?r"""
    if t == "exists":
        return PFX + f"""SELECT ?s WHERE {{
  ?s a voc:Supplier ; voc:inNation ?n . ?n voc:inRegion <{EX}region/{a['region']}>
  FILTER EXISTS {{ ?c voc:inNation ?n ; a voc:Customer }} }}"""
    if t == "path_plus":
        return PFX + f"SELECT ?x WHERE {{ <{EX}supplier/{a['supplier']}> voc:suppliesTo+ ?x }}"
    if t == "construct":
        return PFX + f"""CONSTRUCT {{ ?c voc:locatedIn ?r }}
WHERE {{ ?c voc:inNation <{EX}nation/{a['nation']}> . <{EX}nation/{a['nation']}> voc:inRegion ?r }}"""
    if t == "ask":
        return PFX + f"ASK {{ ?o voc:quantity ?q FILTER(?q > {a['q']}) }}"
    if t == "render_json":
        return PFX + f"""SELECT ?n ?nn WHERE {{ ?n voc:inRegion <{EX}region/{a['region']}> ;
  voc:name ?nn }}"""
    if t == "update":
        return PFX + f"""DELETE {{ ?c voc:segment ?old }} INSERT {{ ?c voc:segment "TAG{a['tag']}" }}
WHERE {{ ?c voc:segment ?old ; voc:inNation <{EX}nation/{a['nation']}> }}"""
    raise ValueError(t)


def lexical(t: Optional[str]) -> Optional[str]:
    """Literal encoding → its lexical form; IRIs and blanks unchanged."""
    if t is None or not t.startswith('"'):
        return t
    return t[1:t.rindex('"')]


def normalize(op: "gen.Op", res) -> object:
    """Engine result → the oracle's normal form."""
    if op.template == "ask":
        return bool(res)
    if op.template == "render_json":
        out = []
        for line in res[1:]:
            b = json.loads(line)
            out.append(tuple(
                f"<{b[v]['value']}>" if b[v]["type"] == "uri" else b[v]["value"]
                for v in ("n", "nn")
            ))
        return sorted(out)
    rows = [tuple(lexical(x) for x in r) for r in res]
    if op.template == "group_concat":
        rows = [(r, "|".join(sorted(names.split("|")))) for r, names in rows]
    return sorted(rows)


class QueryMix(Workload):
    """SPARQL serving: one closed-loop client, reads with some updates."""

    name = "query_mix"
    unit = gen.BLOCK
    # the warm-up runs one op of each of these; the rest compile cold in
    # the first measured block, the same for every seed
    WARMUP = ("aggregate", "bgp_star", "update")
    # the traced replay of a probe copy keeps to these
    PROBE_REPLAY = ("bgp_star", "count_distinct", "render_json", "update")

    def mappings(self):
        from sophia_rs_spark.sources.direct_mapping import (
            DEFAULT_MAPPINGS, VOC, ColumnMap, TableMap,
        )

        return DEFAULT_MAPPINGS + [
            TableMap("lineitem", "l_orderkey", "order", "Order", [
                ColumnMap("l_quantity", VOC + "quantity", "integer"),
                ColumnMap("l_returnflag", VOC + "returnflag"),
                ColumnMap("l_linestatus", VOC + "linestatus"),
            ]),
            TableMap("supplychain", "sc_suppkey", "supplier", "SupplyLink", [
                ColumnMap("sc_next", VOC + "suppliesTo", "link", EX + "supplier/"),
            ]),
        ]

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from sophia_rs_spark.sources.direct_mapping import spark_triples

        self.inp = gen.query_mix(self.seed, self.size)
        data = write_tables(self.inp.tables, self.work)
        t0 = wall()
        triples = spark_triples(self.spark, data, self.mappings())
        self.setup_detail["sources.direct_mapping.spark_triples_s"] = wall() - t0
        self.base = self.cache(triples.withColumn("g", F.lit(None).cast("string")))
        self.n_triples = self.base.count()
        self.restart()
        self.pending: List[Tuple[gen.Op, object]] = []

    def restart(self) -> None:
        """Start the op sequence from its beginning on a fresh frame (so
        the prepared-plan cache starts empty for it)."""
        self.cur = self.base.select("*")
        self.next_op = 0
        self.updated = None

    def close(self) -> None:
        if self.updated is not None:
            self.updated.unpersist()
        super().close()

    def compute_expected(self):
        return oracle.QueryOracle(self.inp.tables, self.mappings())

    def warmup(self, cold: bool) -> None:
        """A few templates on their own frame, then a fresh start."""
        for t in self.WARMUP:
            op = next(o for o in self.inp.ops if o.template == t)
            self.run_op(op)
        self.restart()
        self.pending.clear()

    def run_read(self, op: "gen.Op", tr=None):
        from sophia_rs_spark.sparql import query
        from sophia_rs_spark.sparql.results import json_lines_df

        span = tr.span if tr is not None else _no_span
        with span("sparql.eval.plan_build", op=op.template):
            res = query(self.cur, sparql_text(op))
        if op.template == "ask":
            return res
        if op.template == "render_json":
            with span("sparql.results.render", op=op.template):
                return [r["line"] for r in json_lines_df(res).orderBy("line_no").collect()]
        with span("sparql.eval.execute", op=op.template):
            cols = ["s", "p", "o"] if op.template == "construct" else res.columns
            return [tuple(r) for r in res.select(*cols).collect()]

    def run_update(self, op: "gen.Op", tr=None) -> int:
        from sophia_rs_spark.sparql import update

        span = tr.span if tr is not None else _no_span
        with span("sparql.update.plan_build", op="update"):
            new = update(self.base, sparql_text(op))
        with span("sparql.update.execute", op="update"):
            new = new.cache()
            n = new.count()
        if self.updated is not None:
            self.updated.unpersist()
        self.updated = self.cur = new
        return n

    def run_op(self, op: "gen.Op", tr=None) -> OpResult:
        t0 = wall()
        try:
            if op.template == "update":
                n = self.run_update(op, tr)
                dt = wall() - t0
                self.pending.append((op, n))
                return OpResult(dt, 1, True, kind="update")
            res = self.run_read(op, tr)
            dt = wall() - t0
        except Exception as e:  # a failed op counts, and the run goes on
            return OpResult(wall() - t0, 0, False, kind=op.template,
                            error=f"{type(e).__name__}: {e}")
        self.pending.append((op, res))
        return OpResult(dt, 1 if isinstance(res, bool) else len(res), True, kind="read")

    def op(self) -> OpResult:
        op = self.inp.ops[self.next_op % len(self.inp.ops)]
        self.next_op += 1
        r = self.run_op(op)
        if op.template == "update" and r.ok:
            r.ok = self._check_update(op)
        return r

    def _check_update(self, op: "gen.Op") -> bool:
        """Untimed: total triples unchanged, the nation's customers all
        carry the new segment tag."""
        from pyspark.sql import functions as F

        _, n = self.pending[-1]
        tag = f'"TAG{op.args["tag"]}"'
        tagged = self.cur.filter(
            (F.col("p") == f"<{gen.VOC}segment>") & (F.col("o") == tag)
        ).count()
        total, want = self.expected().answer(op)
        return n == total and tagged == want

    def check_pending(self) -> List[bool]:
        """Compare every recorded read with the oracle (after timing)."""
        ora = self.expected()
        out = [
            normalize(op, res) == ora.answer(op)
            for op, res in self.pending
            if op.template != "update"
        ]
        self.pending.clear()
        return out

    def summary(self, results: List[OpResult]) -> Dict[str, float]:
        reads = [r.seconds for r in results if r.kind == "read" and r.ok] or [
            r.seconds for r in results
        ]
        return {
            "op_p50_s": statistics.median(reads),
            # graph triples each read runs over, per second of read time
            "triples_per_s": self.n_triples * len(reads) / sum(reads),
        }

    def traced(self, tr, reps: int = 1) -> Dict[str, float]:
        """Replay the start of the op sequence with a span per call (one
        replay: its ops are the samples, so ``reps`` is not used)."""
        from sophia_rs_spark.sparql import parse_query, query

        self.restart()
        replay = self.inp.ops[: self.unit]
        if self.size != "full":
            replay = [o for o in replay if o.template in self.PROBE_REPLAY]
        with tr.span("query_mix.ops", op="query_mix/traced"):
            for op in replay:
                with tr.span(f"op.{op.template}", op=op.template):
                    self.run_op(op, tr)
            repeat = []
            for op in replay:
                if op.template in ("update", "ask"):
                    continue
                query(self.cur, sparql_text(op))  # builds it if the frame changed
                t0 = wall()
                query(self.cur, sparql_text(op))  # a prepared-plan hit
                repeat.append(wall() - t0)
        self.traced_ok = all(self.check_pending())
        texts = [sparql_text(o) for o in replay if o.template != "update"]
        sec, parsed = rate_loop(lambda: sum(1 for t in texts if parse_query(t)))
        self._repeat = repeat
        return {"sparql.parser.parse_query_ms": 1000 * sec / parsed}

    def traced_counters(self, tr) -> Dict[str, float]:
        """Span medians, once the tracer has collected Spark counters."""

        def med(name, key="seconds"):
            vals = [
                (s.seconds if key == "seconds" else s.counters.get(key, 0.0))
                for s in tr.spans
                if s.name == name
            ]
            return statistics.median(vals) if vals else 0.0

        seen = set()
        first = []
        for s in tr.spans:
            if s.name == "sparql.eval.plan_build" and s.op not in seen:
                seen.add(s.op)
                first.append(s.seconds)
        ops = [s for s in tr.spans if s.name.startswith("op.")]
        return {
            "sparql.eval.plan_build_first_s": statistics.median(first) if first else 0.0,
            "sparql.eval.plan_build_repeat_s": statistics.median(self._repeat),
            "sparql.eval.execute_s": med("sparql.eval.execute"),
            "sparql.eval.jobs_per_query": med("sparql.eval.execute", "jobs"),
            "sparql.results.render_s": med("sparql.results.render"),
            "sparql.update.plan_build_s": med("sparql.update.plan_build"),
            "sparql.update.execute_s": med("sparql.update.execute"),
            "trace.traced_total_s": sum(s.seconds for s in ops),
        }


def _no_span(name: str, op: str = ""):
    return contextlib.nullcontext()


WORKLOADS = {w.name: w for w in (CrawlNt, CrawlMixed, LinkReason, QueryMix)}
