"""Entity linking & owl:sameAs canonicalization (north-star operators).

sophia has no distributed equivalent; the semantics come from the north
rule: owl:sameAs bridges between IRIs form undirected components; every
member is rewritten to the component's canonical id (the minimum member
in canonical-string order — deterministic, cluster-size-independent).

Algorithm: iterative min-label propagation over the symmetrized edge
list — a driver-side loop of DataFrame joins with ``localCheckpoint``
per iteration to cut lineage (SURVEY.md §4 "iterative fixpoints").
Iterations = O(longest chain); sameAs chains in web data are short.
At 100 TB scale the same loop applies with persisted intermediate
tables; AQE handles the shrinking frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"


def sameas_edges(triples: DataFrame) -> DataFrame:
    """Extract owl:sameAs edges from a triples DataFrame."""
    return triples.filter(F.col("p") == OWL_SAMEAS).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_every: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """(src, dst) undirected edges → (member, comp) with comp = min member
    of the component (canonical-string order).

    Min-label propagation, O(diameter) rounds — the default because
    owl:sameAs chains in web data are short.  For long-chain/skewed
    graphs use :func:`connected_components_alternating` (O(log n)).
    Deterministic for any partitioning: min is order-insensitive.

    Convergence probe is free: the old label rides along in the same
    row as the new one, so "did anything change" is a filter over the
    just-checkpointed frame — no extra labels⋈labels join per round.
    """
    # lazy: both materialize inside round 1's changed-count job; labels
    # read the checkpointed und, so the edges upstream run once
    und = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("src").alias("member"))
        .distinct()
        .withColumn("comp", F.col("member"))
        .localCheckpoint(eager=False)
    )

    iters = 0
    for i in range(max_iter):
        iters = i + 1
        # neighbor minimum: for each vertex, min comp among its neighbors
        nbr_min = (
            und.join(labels, und["dst"] == labels["member"], "inner")
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, labels["member"] == nbr_min["src"], "left_outer")
            .select(
                "member",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("_prev"),
            )
            # lazy: materialized by the changed-count job below — ONE
            # driver action per round, not two (checkpoint + isEmpty)
            .localCheckpoint(eager=False)
        )
        labels = stepped.select("member", "comp")
        changed = stepped.agg(
            F.sum((F.col("comp") != F.col("_prev")).cast("int")).alias("c")
        ).first()["c"]
        if not changed:
            break
    if stats is not None:
        stats["iterations"] = iters
    return labels.select("member", "comp")


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", Alg. 2): symmetrize, group by node u with
    neighborhood Γ(u), m = min(Γ(u) ∪ {u}); link every strictly-larger
    neighbor to m.  String comparison = canonical-term order."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    grouped = sym.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
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


def connected_components_alternating(
    edges: DataFrame, max_iter: int = 25, stats: dict | None = None
) -> DataFrame:
    """(src, dst) undirected edges → (member, comp): alternating
    large-star/small-star — O(log n) rounds regardless of chain length,
    the scale path for long-chain or adversarial sameAs graphs (opt-in;
    min-label is the default for short web chains).

    Convergence: the edge multiset is monotonically contracting toward
    the star forest, so equal (count, order-insensitive hash) between
    rounds certifies the fixpoint without an edge⋈edge comparison join.
    """
    und = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(df: DataFrame):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    cur = und
    sig = _sig(cur)
    iters = 0
    for i in range(max_iter):
        iters = i + 1
        stepped = _small_star(_large_star(cur))
        # lazy: the signature aggregate materializes the checkpoint —
        # one driver action per round
        stepped = stepped.localCheckpoint(eager=False)
        nsig = _sig(stepped)
        cur = stepped
        if nsig == sig:
            break
        sig = nsig
    # fixpoint is a star forest: every edge (v, root) with root = comp min
    members = cur.select(F.col("src").alias("member"), F.col("dst").alias("comp"))
    roots = cur.select(F.col("dst").alias("member")).distinct().withColumn(
        "comp", F.col("member")
    )
    out = members.unionByName(roots).distinct()
    if stats is not None:
        stats["iterations"] = iters
    return out


BROADCAST_MAP_MAX_ROWS = 5_000_000  # ~a few hundred MB of canonical ids


def canonicalize_entities(
    triples: DataFrame,
    components: DataFrame,
    rewrite_g: bool = False,
    broadcast: bool | None = None,
) -> DataFrame:
    """Rewrite s/o (and optionally g) through the canonical-id map.

    The component map is usually small relative to the triple table
    (only linked entities appear) → broadcast joins, no shuffle of the
    triple table.  A 100 TB corpus's sameAs map can exceed executor
    memory, so ``broadcast=None`` (auto) measures the map: at most
    ``BROADCAST_MAP_MAX_ROWS`` rows → broadcast hint, else a plain join
    (AQE still upgrades it at runtime if the map turns out small)."""
    if broadcast is None:
        probe = components.limit(BROADCAST_MAP_MAX_ROWS + 1).count()
        broadcast = probe <= BROADCAST_MAP_MAX_ROWS
    comp = F.broadcast(components) if broadcast else components
    out = (
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
    return out
