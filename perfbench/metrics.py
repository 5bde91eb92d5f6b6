"""Metric names and units, and the statistics the benchmark reports."""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence, Tuple

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Printed with --trace 0, for every workload.
END_TO_END: Dict[str, str] = {
    "setup_s": "s",
    "triples_per_s": "1/s",
    "op_p50_s": "s",
}

# Printed with --trace 1, for every workload.  A layer that the
# workload's own flow does not reach is timed on a small probe copy of
# the workload that does (see README.md).
PER_LAYER: Dict[str, str] = {
    "sources.ntparser.rows_per_s": "1/s",
    "sources.turtle.rows_per_s": "1/s",
    "sources.jsonld.rows_per_s": "1/s",
    "sources.rdfxml.rows_per_s": "1/s",
    "sources.html_extract.pages_per_s": "1/s",
    "sources.direct_mapping.spark_triples_s": "s",
    "plans.extract.extract_quads_s": "s",
    "plans.extract.rows_out": "count",
    "plans.extract.split_quarantine_s": "s",
    "plans.extract.quarantine_ratio": "ratio",
    "plans.extract.graph_table_s": "s",
    "plans.extract.dedup_ratio": "ratio",
    "plans.extract.term_table_s": "s",
    "operators.c14n.canonicalize_by_url_s": "s",
    "operators.c14n.bnode_url_share": "ratio",
    "operators.c14n.kernel_s": "s",
    "operators.c14n.boundary_ratio": "ratio",
    "operators.linking.sameas_edges_s": "s",
    "operators.linking.connected_components_s": "s",
    "operators.linking.rounds": "count",
    "operators.linking.canonicalize_entities_s": "s",
    "operators.reasoner.rdfs_saturate_s": "s",
    "operators.reasoner.inferred_rows": "count",
    "operators.paths.one_or_more_s": "s",
    "operators.dedup.minhash_signatures_s": "s",
    "operators.dedup.lsh_candidate_pairs_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "sparql.parser.parse_query_ms": "ms",
    "sparql.eval.plan_build_first_s": "s",
    "sparql.eval.plan_build_repeat_s": "s",
    "sparql.eval.execute_s": "s",
    "sparql.eval.jobs_per_query": "count",
    "sparql.results.render_s": "s",
    "sparql.update.plan_build_s": "s",
    "sparql.update.execute_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.cpu_utilization": "ratio",
    "trace.overhead_s": "s",
    "trace.self_sum_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def tail(values: Sequence[float], beyond: int = 10) -> Optional[Tuple[float, float, int]]:
    """The highest percentile that has at least ``beyond`` samples above
    it → (percentile, value, sample count), or None when there are too
    few samples for any."""
    n = len(values)
    if n <= beyond:
        return None
    xs = sorted(values)
    k = n - 1 - beyond
    return 100.0 * (k + 1) / n, xs[k], n


def result_line(correct: bool, attempted: int, failed: int,
                metrics: Dict[str, float], units: Dict[str, str]) -> Dict[str, object]:
    """The benchmark's last stdout line: exactly the listed metrics."""
    missing = [k for k in units if k not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def bad_names(names: List[str]) -> List[str]:
    return [n for n in names if not NAME_RE.fullmatch(n)]
