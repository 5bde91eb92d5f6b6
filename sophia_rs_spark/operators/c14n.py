"""RDFC-1.0 dataset canonicalization + isomorphism (SURVEY.md §2.9).

Original implementation of the public W3C RDF Dataset Canonicalization
algorithm (the same spec sophia's ``c14n`` crate implements,
`c14n/src/rdfc10.rs:209-273`): hash-first-degree per bnode, canonical
ids for unique hashes, hash-n-degree with permutation exploration for
the rest, sorted canonical N-Quads output.  Poison-resistance knobs
mirror sophia's (`rdfc10.rs:277-281`): depth factor and permutation
limit.

Spark integration: blank nodes are document-scoped (url-scoped
skolemization), so canonicalization distributes per url via
``applyInPandas`` — each group is a small in-memory problem, exactly
sophia's single-document case.  Isomorphism = canonicalize both sides
and compare (`isomorphism/src/dataset.rs:24-55`) → ``exceptAll`` empty
both ways.
"""

from __future__ import annotations

import hashlib
from itertools import permutations
from typing import Dict, List, Optional, Tuple

Quad = Tuple[str, str, str, Optional[str]]

DEFAULT_DEPTH_FACTOR = 1.0
DEFAULT_PERMUTATION_LIMIT = 6


class C14nError(ValueError):
    """Raised when the poison-resistance limits are exceeded."""


def _is_bnode(t: Optional[str]) -> bool:
    return t is not None and t.startswith("_:")


def _positions(q: Quad):
    return ("s", q[0]), ("p", q[1]), ("o", q[2]), ("g", q[3])


class _Issuer:
    def __init__(self, prefix: str = "c14n"):
        self.prefix = prefix
        self.issued: Dict[str, str] = {}
        self.counter = 0

    def issue(self, bnode: str) -> str:
        if bnode not in self.issued:
            self.issued[bnode] = f"{self.prefix}{self.counter}"
            self.counter += 1
        return self.issued[bnode]

    def clone(self) -> "_Issuer":
        c = _Issuer(self.prefix)
        c.issued = dict(self.issued)
        c.counter = self.counter
        return c


def _serialize_quad(q: Quad, repl) -> str:
    parts = []
    for pos, t in _positions(q):
        if t is None:
            continue
        parts.append(repl(t) if _is_bnode(t) else t)
    return " ".join(parts) + " ."


class _Canonicalizer:
    def __init__(
        self,
        quads: List[Quad],
        depth_factor: float = DEFAULT_DEPTH_FACTOR,
        permutation_limit: int = DEFAULT_PERMUTATION_LIMIT,
    ):
        self.quads = quads
        self.bnode_quads: Dict[str, List[Quad]] = {}
        for q in quads:
            for _, t in _positions(q):
                if _is_bnode(t):
                    self.bnode_quads.setdefault(t, []).append(q)
        self.canonical = _Issuer("c14n")
        self.h1_cache: Dict[str, str] = {}
        self.max_recursions = max(
            1, int(depth_factor * len(self.bnode_quads)) if self.bnode_quads else 1
        )
        self.recursions = 0
        self.permutation_limit = permutation_limit

    # -- Hash First Degree Quads (spec §4.6; rdfc10.rs:219-223) -------------

    def hash_first_degree(self, n: str) -> str:
        if n in self.h1_cache:
            return self.h1_cache[n]
        lines = sorted(
            _serialize_quad(q, lambda t: "_:a" if t == n else "_:z")
            for q in self.bnode_quads[n]
        )
        h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
        self.h1_cache[n] = h
        return h

    # -- Hash Related Blank Node (spec §4.7) --------------------------------

    def _hash_related(self, related: str, quad: Quad, issuer: _Issuer, position: str) -> str:
        inp = position
        if position != "g":
            inp += f"<{quad[1]}>" if not quad[1].startswith("<") else quad[1]
        if related in self.canonical.issued:
            inp += "_:" + self.canonical.issued[related]
        elif related in issuer.issued:
            inp += "_:" + issuer.issued[related]
        else:
            inp += self.hash_first_degree(related)
        return hashlib.sha256(inp.encode("utf-8")).hexdigest()

    # -- Hash N-Degree Quads (spec §4.8; rdfc10.rs:238-254) -----------------

    def hash_n_degree(self, n: str, issuer: _Issuer) -> Tuple[str, _Issuer]:
        self.recursions += 1
        if self.recursions > self.max_recursions:
            raise C14nError("too many recursions (poisoned graph?)")
        hn: Dict[str, List[str]] = {}
        for quad in self.bnode_quads[n]:
            for pos, t in _positions(quad):
                if _is_bnode(t) and t != n and pos != "p":
                    h = self._hash_related(t, quad, issuer, pos)
                    hn.setdefault(h, []).append(t)
        data = hashlib.sha256()
        for related_hash in sorted(hn):
            data.update(related_hash.encode())
            blank_nodes = hn[related_hash]
            if len(blank_nodes) > self.permutation_limit:
                raise C14nError("permutation limit exceeded (poisoned graph?)")
            chosen_path = ""
            chosen_issuer = None
            for perm in permutations(sorted(set(blank_nodes))):
                issuer_copy = issuer.clone()
                path = ""
                recursion_list = []
                ok = True
                for related in perm:
                    if related in self.canonical.issued:
                        path += "_:" + self.canonical.issued[related]
                    else:
                        if related not in issuer_copy.issued:
                            recursion_list.append(related)
                        path += "_:" + issuer_copy.issue(related)
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        ok = False
                        break
                if not ok:
                    continue
                for related in recursion_list:
                    rh, ri = self.hash_n_degree(related, issuer_copy)
                    path += "_:" + issuer_copy.issue(related)
                    path += f"<{rh}>"
                    issuer_copy = ri
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        ok = False
                        break
                if not ok:
                    continue
                if not chosen_path or path < chosen_path:
                    chosen_path = path
                    chosen_issuer = issuer_copy
            data.update(chosen_path.encode())
            issuer = chosen_issuer if chosen_issuer is not None else issuer
        return data.hexdigest(), issuer

    # -- main (spec §4.4; rdfc10.rs:209-273) --------------------------------

    def run(self) -> Dict[str, str]:
        """→ mapping original bnode encoding → canonical label (no ``_:``)."""
        by_hash: Dict[str, List[str]] = {}
        for n in self.bnode_quads:
            by_hash.setdefault(self.hash_first_degree(n), []).append(n)
        nonunique: List[Tuple[str, List[str]]] = []
        for h in sorted(by_hash):
            ns = by_hash[h]
            if len(ns) == 1:
                self.canonical.issue(ns[0])
            else:
                nonunique.append((h, ns))
        for _h, ns in nonunique:
            results = []
            for n in ns:
                if n in self.canonical.issued:
                    continue
                temp = _Issuer("b")
                temp.issue(n)
                self.recursions = 0  # depth budget is per top-level call
                results.append(self.hash_n_degree(n, temp))
            for hash_, issuer in sorted(results, key=lambda r: r[0]):
                for bnode in issuer.issued:
                    self.canonical.issue(bnode)
        return dict(self.canonical.issued)


def canonical_mapping(
    quads: List[Quad],
    depth_factor: float = DEFAULT_DEPTH_FACTOR,
    permutation_limit: int = DEFAULT_PERMUTATION_LIMIT,
) -> Dict[str, str]:
    return _Canonicalizer(quads, depth_factor, permutation_limit).run()


def canonicalize(quads: List[Quad], **kw) -> List[str]:
    """Sorted canonical N-Quads lines (`rdfc10::normalize`, rdfc10.rs:28-31)."""
    mapping = canonical_mapping(quads, **kw)
    repl = lambda t: "_:" + mapping[t]
    return sorted(_serialize_quad(q, repl) for q in quads)


def relabel(quads: List[Quad], **kw) -> List[Quad]:
    """Quads with bnodes replaced by canonical labels (`rdfc10::relabel`)."""
    mapping = canonical_mapping(quads, **kw)
    fix = lambda t: ("_:" + mapping[t]) if _is_bnode(t) else t
    return [
        (fix(s), fix(p), fix(o), fix(g) if g is not None else None)
        for (s, p, o, g) in quads
    ]


def isomorphic(a: List[Quad], b: List[Quad]) -> bool:
    """`isomorphic_datasets` (`isomorphism/src/dataset.rs:24-55`)."""
    return sorted(canonicalize(a)) == sorted(canonicalize(b))


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def canonicalize_by_url(quads_df):
    """Distributed RDFC-1.0: bnodes are url-scoped, so groupBy(url) →
    applyInPandas canonicalizes each document independently — the
    embarrassing-parallel decomposition the spec's locality allows.

    Fast path: canonicalization only renames blank nodes, so documents
    containing none pass through untouched, JVM-side — in web data the
    vast majority, which keeps the per-group Python off the hot path."""
    import pandas as pd
    from pyspark.sql import functions as F
    from .fixpoint import cut

    cols = ["url", "s", "p", "o", "g"]
    df = quads_df.select(*cols)
    # The input feeds three consumers (bnode-url scan, anti-join
    # passthrough, semi-join c14n side).  It is not checkpointed here: a
    # Python producer upstream (e.g. extract_quads) materializes its own
    # output, and what is left to recompute is JVM work.
    has_bnode = (
        F.col("s").startswith("_:")
        | F.col("p").startswith("_:")  # generalized quads
        | F.col("o").startswith("_:")
        | F.col("g").startswith("_:")
        | F.col("o").contains(" _:")  # bnodes inside triple terms
        | F.col("s").contains(" _:")
    )
    bnode_urls = df.filter(has_bnode).select("url").distinct()
    passthrough = df.join(bnode_urls, "url", "left_anti")
    needs_c14n = df.join(bnode_urls, "url", "left_semi")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for url, grp in pdf.groupby("url"):
            qs = [
                (r.s, r.p, r.o, r.g if isinstance(r.g, str) else None)
                for r in grp.itertuples()
            ]
            try:
                for s, p, o, g in relabel(qs):
                    out.append((url, s, p, o, g))
            except C14nError as e:
                out.append((url, None, None, None, f"c14n-error: {e}"))
        return pd.DataFrame(out, columns=["url", "s", "p", "o", "g"])

    relabeled = needs_c14n.groupBy("url").applyInPandas(
        run, schema="url string, s string, p string, o string, g string"
    )
    # Materialized once where it is produced, so every sink shares one
    # run of the blank-node joins and of RDFC.
    return cut(passthrough.unionByName(relabeled))
