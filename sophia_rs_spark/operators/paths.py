"""SPARQL 1.2 property-path evaluation over the triples DataFrame.

Mapping from sophia's path evaluator (`sparql/src/exec.rs:338-482`,
`sparql/src/exec/path_or_more.rs:21-123`):

- NamedNode        → predicate filter
- Reverse (^p)     → swap s/o
- Sequence (p1/p2) → join on the mid node
- Alternative      → union
- ZeroOrOne (p?)   → zero-pairs ∪ one step
- ZeroOrMore (p*) / OneOrMore (p+) → distributed BFS: frontier join with
  visited-set anti-join until the frontier is empty — a step on the
  shared fixpoint driver (:mod:`.fixpoint`) replacing sophia's
  single-threaded ``PathOrMore`` iterator
- NegatedPropertySet → predicate NOT IN

Every function takes and returns a *pair relation* DataFrame with
columns (src, dst); composition is ordinary DataFrame algebra, so
Catalyst fuses the simple cases.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import cut, fixpoint


def pred(triples: DataFrame, predicate: str) -> DataFrame:
    """Path `p`: all (s, o) pairs linked by the predicate."""
    return triples.filter(F.col("p") == predicate).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )


def reverse(pairs: DataFrame) -> DataFrame:
    """`^path` (exec.rs:354-357)."""
    return pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


def sequence(p1: DataFrame, p2: DataFrame) -> DataFrame:
    """`path1/path2` (exec.rs:358-378): join on the intermediate node.
    BAG semantics — each derivation counts (sparql test.rs "alt of
    seqs": duplicate rows per distinct mid node); only the closure
    paths (* + ?) are set-based per the SPARQL spec."""
    a, b = p1.alias("a"), p2.alias("b")
    return a.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
    )


def alternative(p1: DataFrame, p2: DataFrame) -> DataFrame:
    """`path1|path2` (exec.rs:379-382).  BAG semantics (a pair reachable
    through both arms appears twice, test.rs "alt with multiple paths")."""
    return p1.unionByName(p2)


def negated_property_set(triples: DataFrame, predicates: List[str]) -> DataFrame:
    """`!(p1|...)` (exec.rs:438-455)."""
    return triples.filter(~F.col("p").isin(predicates)).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )


def _nodes(triples: DataFrame) -> DataFrame:
    return (
        triples.select(F.col("s").alias("n"))
        .unionByName(triples.select(F.col("o").alias("n")))
        .distinct()
    )


def zero_or_one(pairs: DataFrame, triples: DataFrame) -> DataFrame:
    """`path?` (exec.rs:411-437): identity pairs over all graph nodes ∪
    one-step pairs."""
    zero = _nodes(triples).select(F.col("n").alias("src"), F.col("n").alias("dst"))
    return zero.unionByName(pairs).distinct()


def one_or_more(pairs: DataFrame) -> DataFrame:
    """`path+`: BFS frontier expansion with visited anti-join
    (`path_or_more.rs:21-123` as a distributed fixpoint).  ``reached``
    stays a union of cut deltas, never re-materialized (lineage depth =
    one union per round)."""
    base = cut(pairs.distinct())

    def step(state):
        reached, frontier = state
        new = (
            frontier.alias("f")
            .join(base.alias("b"), F.col("f.dst") == F.col("b.src"))
            .select(F.col("f.src").alias("src"), F.col("b.dst").alias("dst"))
            .distinct()
            .join(reached, ["src", "dst"], "left_anti")
        )
        return new, [F.count(F.lit(1)).alias("n")], lambda out, row: (
            (reached.unionByName(out), out) if row["n"] else None
        )

    return fixpoint(step, (base, base))[0]


def zero_or_more(pairs: DataFrame, triples: DataFrame) -> DataFrame:
    """`path*` (exec.rs:383-410): zero-length pairs from every node ∪ path+."""
    zero = _nodes(triples).select(F.col("n").alias("src"), F.col("n").alias("dst"))
    return zero.unionByName(one_or_more(pairs)).distinct()
