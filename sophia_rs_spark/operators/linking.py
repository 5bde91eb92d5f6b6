"""Entity linking & owl:sameAs canonicalization (north-star operators).

sophia has no distributed equivalent; the semantics come from the north
rule: owl:sameAs bridges between IRIs form undirected components; every
member is rewritten to the component's canonical id (the minimum member
in canonical-string order — deterministic, cluster-size-independent).

Algorithm: alternating large-star/small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond"), one round per
step on the shared driver in :mod:`.fixpoint` (lineage cuts, one action
per round, no round cap).  Rounds are O(log n) whatever the chain
length, so one adversarial sameAs chain cannot make linking linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import cut, fixpoint

OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"


def sameas_edges(triples: DataFrame) -> DataFrame:
    """Extract owl:sameAs edges from a triples DataFrame."""
    return triples.filter(F.col("p") == OWL_SAMEAS).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )


def _symmetrized(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., Alg. 2): symmetrize, group by
    node u with neighborhood Γ(u), m = min(Γ(u) ∪ {u}); link every
    strictly-larger neighbor to m.  String comparison = canonical-term
    order."""
    grouped = _symmetrized(edges).groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    m = F.array_min(F.array_append(F.col("nbrs"), F.col("src")))
    targets = F.filter(F.col("nbrs"), lambda v: v > F.col("src"))
    return (
        grouped.select(F.explode(targets).alias("src"), m.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round (ibid., Alg. 3): orient every edge max→min,
    group by the max node u, m = min(Γ(u) ∪ {u}) = min(Γ(u)); link u
    and all its (smaller) neighbors to m."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    grouped = directed.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    m = F.array_min(F.col("nbrs"))
    targets = F.array_append(F.col("nbrs"), F.col("src"))
    return (
        grouped.select(F.explode(targets).alias("src"), m.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """(src, dst) undirected edges → (member, comp) with comp = min member
    of the component (canonical-string order), one row per vertex.

    Every vertex of the input is a member, including one whose only edge
    is a self-loop: ``(x, x)`` alone yields the row ``(x, x)``.  Self-loops
    join no two vertices, so the contraction runs without them.
    Deterministic for any partitioning: min is order-insensitive.

    Convergence: the edge set contracts monotonically toward the star
    forest (every non-root linked to its root), so equal (count,
    order-insensitive hash) between rounds certifies the fixpoint
    without an edge⋈edge comparison join.  Round 1 always continues.

    The result is cut: callers read it more than once (canonicalize's
    size probe and its two joins), and each read would otherwise replay
    the vertex distinct and the forest join.
    """
    # the cut und lands inside round 1's job, so the edges upstream run
    # once for both the contraction and the vertex set
    und = cut(_symmetrized(edges).distinct())
    sig = [F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("src", "dst")).alias("h")]

    def step(state):
        cur, prev = state
        return _small_star(_large_star(cur)), sig, lambda out, row: (
            (out, tuple(row)) if tuple(row) != prev else None
        )

    forest = fixpoint(step, (und.filter(F.col("src") != F.col("dst")), None), stats)[0]
    vertices = und.select(F.col("src").alias("member")).distinct()
    # roots have no forest edge: they are their own component id
    return cut(
        vertices.join(forest.withColumnRenamed("src", "member"), "member", "left_outer")
        .select("member", F.coalesce("dst", "member").alias("comp"))
    )


BROADCAST_MAP_MAX_ROWS = 5_000_000  # ~a few hundred MB of canonical ids


def canonicalize_entities(triples: DataFrame, components: DataFrame) -> DataFrame:
    """Rewrite s and o through the canonical-id map; other columns pass
    through unchanged.

    The component map is usually small relative to the triple table
    (only linked entities appear) → broadcast joins, no shuffle of the
    triple table.  A 100 TB corpus's sameAs map can exceed executor
    memory, so the map is measured first: at most
    ``BROADCAST_MAP_MAX_ROWS`` rows → broadcast hint, else a plain join
    (AQE still upgrades it at runtime if the map turns out small)."""
    probe = components.limit(BROADCAST_MAP_MAX_ROWS + 1).count()
    comp = F.broadcast(components) if probe <= BROADCAST_MAP_MAX_ROWS else components
    return (
        triples.join(
            comp.withColumnRenamed("member", "s").withColumnRenamed("comp", "_cs"),
            "s",
            "left_outer",
        )
        .join(
            comp.withColumnRenamed("member", "o").withColumnRenamed("comp", "_co"),
            "o",
            "left_outer",
        )
        .select(
            F.coalesce("_cs", "s").alias("s"),
            "p",
            F.coalesce("_co", "o").alias("o"),
            *[c for c in triples.columns if c not in ("s", "p", "o")],
        )
    )
