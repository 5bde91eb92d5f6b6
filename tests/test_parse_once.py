"""Each page is parsed once per pass.

A Python operator's output is materialized where it is produced, so a
flow with several consumers reads its pages once: the quarantine split
consumed twice (the streaming ``foreachBatch`` shape), and the full
extract → link → canonicalize flow feeding two sinks."""

import pandas as pd

from sophia_rs_spark.operators.c14n import canonicalize_by_url
from sophia_rs_spark.operators.linking import (
    canonicalize_entities,
    connected_components,
    sameas_edges,
)
from sophia_rs_spark.plans.extract import (
    extract_quads,
    graph_table,
    split_quarantine,
    term_table,
)
from sophia_rs_spark.sources.fixtures import fixture_pages, linking_fixture


def _mixed_pages() -> pd.DataFrame:
    """All fixture formats (blank nodes and malformed pages included)
    plus the owl:sameAs bridge pages, with distinct urls."""
    link = linking_fixture()[0]
    link["url"] = link["url"].str.replace("/page/", "/link/", regex=False)
    return pd.concat([fixture_pages(), link], ignore_index=True)


def test_quarantine_split_reads_pages_once(counted_pages):
    pdf = fixture_pages()
    pages, reads = counted_pages(pdf)
    good, bad = split_quarantine(extract_quads(pages, from_html=True))
    assert good.count() > 0
    assert bad.count() > 0
    assert reads.value == len(pdf)


def test_link_and_canonicalize_flow_reads_pages_once(counted_pages):
    pdf = _mixed_pages()
    pages, reads = counted_pages(pdf)
    good = split_quarantine(extract_quads(pages, from_html=True))[0]
    comps = connected_components(sameas_edges(good))
    out = canonicalize_by_url(canonicalize_entities(good, comps))
    graph = graph_table(out, set_graph=True)
    terms = term_table(out)
    assert graph.count() > 0
    assert terms.filter(terms.term.startswith("_:c14n")).count() > 0
    assert reads.value == len(pdf)
