"""DESCRIBE — concise-bounded-description, reference-faithful.

Mirrors `sparql/src/exec/describe_iter.rs:40-115` (behavior pinned by
the DESCRIBE battery in `sparql/src/test.rs:2352-2455`):

- triples mentioning a described term in SUBJECT or OBJECT position are
  included (symmetric CBD);
- blank nodes appearing in included triples — including blank nodes
  INSIDE triple terms — are described transitively;
- reifications ride along: a triple whose object is the triple term
  ``<<( s p o )>>`` of an included triple is included too (that is how
  RDF 1.2 annotations `{| ... |}` surface), and its reifier expands
  further if it is a blank node;
- terms mentioned only INSIDE an (unasserted) triple term do not pull
  that triple in.

Each round is a pair of semi-joins over the triples table keyed by the
(small) frontier, so a round is frontier-sized, not corpus-sized; the
rounds run on the shared fixpoint driver (:mod:`.fixpoint`) until a
round includes no new triple.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import cut, fixpoint


def _tt_bnodes(enc: str, out: List[str]) -> None:
    from ..functions.triple_terms import split_triple_term

    parts = split_triple_term(enc)
    if parts is None:
        return
    for p in parts:
        if p.startswith("_:"):
            out.append(p)
        elif p.startswith("<<("):
            _tt_bnodes(p, out)


def _bnode_terms(df: DataFrame) -> DataFrame:
    """Blank nodes in s/o of the given triples, including inside triple
    terms (split-based — literals whose text merely contains '_:' do
    not false-positive)."""
    direct = (
        df.select(F.col("s").alias("term"))
        .unionByName(df.select(F.col("o").alias("term")))
        .filter(F.col("term").startswith("_:"))
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            found: List[str] = []
            for col in ("s", "o"):
                for enc in pdf[col]:
                    if enc and enc.startswith("<<("):
                        _tt_bnodes(enc, found)
            yield pd.DataFrame({"term": found})

    inside = df.select("s", "o").mapInPandas(extract, schema="term string")
    return direct.unionByName(inside).distinct()


def describe(triples: DataFrame, seeds: DataFrame) -> DataFrame:
    """CBD of the seed terms (column ``term``) over triples (s, p, o).

    Round k includes the triples that mention a frontier term in s or
    o, plus the reifications of round k-1's triples; the next frontier
    is every blank node of round k's triples.  A blank node met again
    was described when first met — its triples are already included —
    so no visited set is kept: the anti-join against the included
    triples drops the repeats."""

    def step(state):
        out, frontier, tts = state
        parts = [
            triples.join(frontier.withColumnRenamed("term", "s"), "s", "left_semi"),
            triples.join(frontier.withColumnRenamed("term", "o"), "o", "left_semi"),
        ]
        if tts is not None:
            parts.append(triples.join(tts, "o", "left_semi"))
        new = reduce(DataFrame.unionByName, parts).dropDuplicates(["s", "p", "o"])
        if out is not None:
            new = new.join(out, ["s", "p", "o"], "left_anti")

        def advance(done, row):
            if not row["n"]:
                return None
            # the triple terms of the included triples, for the
            # reification pull
            tts = done.select(
                F.concat(
                    F.lit("<<( "), "s", F.lit(" "), "p", F.lit(" "), "o", F.lit(" )>>")
                ).alias("o")
            ).distinct()
            out_next = done if out is None else out.unionByName(done)
            return out_next, _bnode_terms(done), tts

        return new, [F.count(F.lit(1)).alias("n")], advance

    out = fixpoint(step, (None, cut(seeds.select("term").distinct()), None))[0]
    if out is None:
        return triples.limit(0).select("s", "p", "o")
    # the rounds' parts are disjoint and each is distinct on (s, p, o)
    return out.select("s", "p", "o")
