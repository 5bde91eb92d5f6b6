"""Correctness oracles, one per workload.

Each oracle computes the expected output from the generated inputs
without running the engine: DuckDB over the repository's SQL mappings,
or plain Python (union-find, forward chaining, closures, MinHash).  An
output is compared as a digest: its row count and the sum of the CRC-32
of every row, which the engine side computes with the same rule in one
aggregate (see ``workloads.digest_of``).  Oracle time is never part of
a measured figure.
"""

from __future__ import annotations

import hashlib
import zlib
from collections import defaultdict
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

from . import gen

Digest = Tuple[int, int]
SEP = "\x1f"


def row_crc(row: Sequence[Optional[object]]) -> int:
    """CRC-32 of the row's non-null fields joined by ``SEP`` (Spark's
    ``crc32(concat_ws(SEP, ...))``, which skips nulls)."""
    return zlib.crc32(SEP.join(str(x) for x in row if x is not None).encode("utf-8"))


def digest(rows: Iterable[Sequence[Optional[object]]]) -> Digest:
    n = total = 0
    for r in rows:
        n += 1
        total += row_crc(r)
    return n, total


def term_kind(t: str) -> int:
    """Kind code of a canonical term encoding (blank, IRI, literal,
    triple term, other)."""
    if t.startswith("_:"):
        return 0
    if t.startswith("<<("):
        return 3
    if t.startswith("<"):
        return 1
    if t.startswith('"'):
        return 2
    return 4


def graph_digest(quads_with_url: Iterable[Tuple[str, str, str, str, Optional[str]]]) -> Digest:
    """SetGraph semantics: one row per distinct (s, p, o, g), keeping the
    smallest source url."""
    best: Dict[tuple, str] = {}
    for url, s, p, o, g in quads_with_url:
        k = (s, p, o, g)
        if k not in best or url < best[k]:
            best[k] = url
    return digest((s, p, o, g, u) for (s, p, o, g), u in best.items())


def terms_digest(quads: Iterable[Tuple[str, str, str, Optional[str]]]) -> Digest:
    terms = {t for q in quads for t in q if t is not None}
    return digest((t, term_kind(t)) for t in terms)


# ---------------------------------------------------------------------------
# crawl_nt: DuckDB over doc2rdf.doc_triples_oracle_sql, tiled
# ---------------------------------------------------------------------------

URL_PREFIX = "https://docs.example.org/doc/"
TILE_STRIDE = 10_000_000


def crawl_nt(inp: "gen.CrawlNtInputs") -> Dict[str, Digest]:
    """Expected graph and term digests.  Re-crawled pages repeat a url
    and payload, so SetGraph dedup removes them: the expected graph is
    the tiled documents' triples, each with its page url."""
    import duckdb

    from sophia_rs_spark.sources.doc2rdf import doc_triples_oracle_sql

    con = duckdb.connect()
    try:
        con.register("docs", inp.docs)
        con.execute(
            f"""CREATE TABLE documents AS
            SELECT d.doc_id + t.tile * {TILE_STRIDE} AS doc_id,
                   d.text || ' tile' || CAST(t.tile AS VARCHAR) AS text,
                   d.lang, d.source,
                   d.n_chars + length(' tile' || CAST(t.tile AS VARCHAR)) AS n_chars
            FROM docs d CROSS JOIN range({inp.tiles}) t(tile)"""
        )
        triples = con.execute(doc_triples_oracle_sql()).fetchall()
    finally:
        con.close()
    # subject <http://example.org/doc/ID> came from the page URL_PREFIX + ID
    cut = len("<http://example.org/doc/")
    rows = [(s, p, o, URL_PREFIX + s[cut:-1]) for s, p, o in triples]
    return {
        "graph": digest(rows),
        "terms": terms_digest((s, p, o, None) for s, p, o, _ in rows),
    }


# ---------------------------------------------------------------------------
# crawl_mixed: fixture goldens, union-find linking, in-process RDFC relabel
# ---------------------------------------------------------------------------


def union_find_min(edges: Iterable[Tuple[str, str]]) -> Dict[str, str]:
    """member → smallest member of its undirected component."""
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _has_bnode(s: str, o: str, g: Optional[str]) -> bool:
    return (
        s.startswith("_:")
        or o.startswith("_:")
        or (g is not None and g.startswith("_:"))
        or " _:" in o
        or " _:" in s
    )


def crawl_mixed(pages: List["gen.MixedPage"]) -> Dict[str, object]:
    from sophia_rs_spark.operators.c14n import relabel
    from sophia_rs_spark.sources.fixtures import FixtureCase, expected_skolemized

    rows: List[Tuple[str, str, str, str, Optional[str]]] = []
    for pg in pages:
        case = FixtureCase("page", pg.fmt, pg.payload, pg.expected)
        rows.extend((pg.url, *q) for q in expected_skolemized(case, pg.url))
    comp = union_find_min(
        (s, o) for _, s, p, o, _ in rows if p == gen.OWL_SAMEAS
    )
    by_url: Dict[str, List[tuple]] = defaultdict(list)
    for url, s, p, o, g in rows:
        by_url[url].append((comp.get(s, s), p, comp.get(o, o), g))
    out: List[Tuple[str, str, str, str, Optional[str]]] = []
    groups: List[List[tuple]] = []
    for url, qs in by_url.items():
        if any(_has_bnode(s, o, g) for s, _, o, g in qs):
            groups.append(qs)
            qs = relabel(qs)
        out.extend((url, *q) for q in qs)
    return {
        "graph": graph_digest(out),
        "terms": terms_digest(q[1:] for q in out),
        "bad_rows": sum(pg.error_lines for pg in pages),
        "bnode_urls": len(groups),
        "urls": len(pages),
        "bnode_groups": groups,  # the in-process c14n kernel's input
    }


# ---------------------------------------------------------------------------
# link_reason: union-find, RDFS forward chaining, closure, MinHash
# ---------------------------------------------------------------------------

T_TYPE = gen.RDF_TYPE
T_SC = f"<{gen.RDFS}subClassOf>"
T_SP = f"<{gen.RDFS}subPropertyOf>"
T_DOM = f"<{gen.RDFS}domain>"
T_RNG = f"<{gen.RDFS}range>"


def base_triples(tables, mappings) -> List[Tuple[str, str, str]]:
    """The direct-mapped triples, from ``direct_mapping.duckdb_cte``."""
    import duckdb

    from sophia_rs_spark.sources.direct_mapping import duckdb_cte

    con = duckdb.connect()
    try:
        for name, df in tables.items():
            con.register(name, df)
        return con.execute(duckdb_cte(mappings)).fetchall()
    finally:
        con.close()


def rdfs_closure(triples: Iterable[Tuple[str, str, str]]) -> set:
    """Naive forward chaining of rdfs2/3/5/7/9/11 to a fixpoint."""
    g = set(triples)
    while True:
        sc = {(s, o) for s, p, o in g if p == T_SC}
        sp = {(s, o) for s, p, o in g if p == T_SP}
        dom = defaultdict(set)
        rng = defaultdict(set)
        for s, p, o in g:
            if p == T_DOM:
                dom[s].add(o)
            elif p == T_RNG:
                rng[s].add(o)
        sup_c = defaultdict(set)
        for a, b in sc:
            sup_c[a].add(b)
        sup_p = defaultdict(set)
        for a, b in sp:
            sup_p[a].add(b)
        new = set()
        new |= {(a, T_SC, c) for a, b in sc for c in sup_c.get(b, ())}
        new |= {(a, T_SP, c) for a, b in sp for c in sup_p.get(b, ())}
        for s, p, o in g:
            for p2 in sup_p.get(p, ()):
                new.add((s, p2, o))
            for c in dom.get(p, ()):
                new.add((s, T_TYPE, c))
            if not o.startswith('"'):
                for c in rng.get(p, ()):
                    new.add((o, T_TYPE, c))
            if p == T_TYPE:
                for c in sup_c.get(o, ()):
                    new.add((s, T_TYPE, c))
        if new <= g:
            return g
        g |= new


def transitive_pairs(edges: Iterable[Tuple[str, str]]) -> set:
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    out = set()
    for start in list(adj):
        stack, seen = list(adj[start]), set()
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            out.add((start, x))
            stack.extend(adj.get(x, ()))
    return out


def lsh_pairs(docs, bands: int = 4, k: int = 3, max_bucket: int = 1000) -> set:
    """MinHash LSH candidate pairs with the engine's documented rule:
    word k-shingles, per band the min md5 of ``"{band}:{shingle}"``,
    pairs sharing a (band, minhash) bucket of at most ``max_bucket``."""
    buckets = defaultdict(list)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        t = text.split(" ")
        if len(t) < k:
            continue
        sh = {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}
        for band in range(bands):
            m = min(hashlib.md5(f"{band}:{s}".encode()).hexdigest() for s in sh)
            buckets[(band, m)].append(int(doc_id))
    pairs = set()
    for ids in buckets.values():
        if len(ids) > max_bucket:
            continue
        ids = sorted(ids)
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:] if a < b)
    return pairs


def link_reason(inp: "gen.LinkReasonInputs", mappings) -> Dict[str, Digest]:
    g = [tuple(t) for t in base_triples(inp.tables, mappings)] + list(inp.extra)
    comp = union_find_min(inp.sameas)
    linked = [(comp.get(s, s), p, comp.get(o, o)) for s, p, o in g]
    return {
        "components": digest(comp.items()),
        "linked": digest(linked),
        "saturated": digest(rdfs_closure(g)),
        "reach": digest(transitive_pairs(inp.supply)),
        "pairs": digest(lsh_pairs(inp.docs)),
        "base_rows": len(set(g)),
    }


# ---------------------------------------------------------------------------
# query_mix: DuckDB over direct_mapping.duckdb_cte, per template
# ---------------------------------------------------------------------------

V = gen.VOC
Q_INT = "CAST(split_part(o, '\"', 2) AS BIGINT)"


def _lex(o: str) -> str:
    """Lexical form of a literal encoding (the text between the quotes)."""
    return o[1:o.rindex('"')] if o.startswith('"') else o


class QueryOracle:
    """Answers each query_mix op from DuckDB.  Results are normalized the
    same way as the engine's (see ``workloads.normalize``): a sorted list
    of tuples of lexical values, IRIs kept in angle brackets."""

    def __init__(self, tables, mappings):
        import duckdb

        from sophia_rs_spark.sources.direct_mapping import duckdb_cte

        self.con = duckdb.connect()
        for name, df in tables.items():
            self.con.register(name, df)
        self.con.execute(f"CREATE TABLE triples AS {duckdb_cte(mappings)}")
        self._memo: Dict[gen.Op, object] = {}

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> List[tuple]:
        return self.con.execute(sql).fetchall()

    def _pred(self, name: str, cols: str = "s, o") -> str:
        return f"(SELECT {cols} FROM triples WHERE p = '<{V}{name}>')"

    def answer(self, op: "gen.Op"):
        if op not in self._memo:
            self._memo[op] = self._answer(op)
        return self._memo[op]

    def _answer(self, op: "gen.Op"):
        a = op.args
        t = op.template
        P = self._pred
        if t == "aggregate":
            rows = self._rows(
                f"""SELECT rf.o, COUNT(*), SUM(q.v) FROM
                (SELECT s, {Q_INT} AS v FROM triples WHERE p = '<{V}quantity>') q
                JOIN {P('returnflag')} rf USING (s) JOIN {P('linestatus', 's')} ls USING (s)
                WHERE q.v > {a['q']} GROUP BY rf.o"""
            )
            return sorted((_lex(rf), str(n), str(tq)) for rf, n, tq in rows)
        if t == "bgp_star":
            rows = self._rows(
                f"""SELECT c.s, cn.o, nn.o FROM
                (SELECT s FROM triples WHERE p = '{gen.RDF_TYPE}' AND o = '<{V}Customer>') c
                JOIN {P('name')} cn ON cn.s = c.s
                JOIN {P('inNation')} n ON n.s = c.s
                JOIN {P('name')} nn ON nn.s = n.o
                JOIN {P('inRegion')} r ON r.s = n.o
                WHERE r.o = '<{gen.EX}region/{a['region']}>'"""
            )
            return sorted((c, _lex(cn), _lex(nn)) for c, cn, nn in rows)
        if t == "count_distinct":
            rows = self._rows(
                f"""SELECT COUNT(DISTINCT ls.o), COUNT(DISTINCT rf.s) FROM {P('returnflag')} rf
                JOIN {P('linestatus')} ls USING (s) WHERE rf.o = '"{a['rf']}"'"""
            )
            return sorted(tuple(str(x) for x in r) for r in rows)
        if t == "min_max":
            rows = self._rows(
                f"""SELECT rf.o, MIN(q.v), MAX(q.v) FROM
                (SELECT s, {Q_INT} AS v FROM triples WHERE p = '<{V}quantity>') q
                JOIN {P('returnflag')} rf USING (s) WHERE q.v >= {a['q']} GROUP BY rf.o"""
            )
            return sorted((_lex(rf), str(mn), str(mx)) for rf, mn, mx in rows)
        if t == "group_concat":
            rows = self._rows(
                f"""SELECT r.o, nn.o FROM {P('inRegion')} r JOIN {P('name')} nn USING (s)
                WHERE r.o = '<{gen.EX}region/{a['region']}>'"""
            )
            if not rows:
                return []
            return [(rows[0][0], "|".join(sorted(_lex(nn) for _, nn in rows)))]
        if t == "exists":
            rows = self._rows(
                f"""SELECT DISTINCT s.s FROM
                (SELECT s FROM triples WHERE p = '{gen.RDF_TYPE}' AND o = '<{V}Supplier>') s
                JOIN {P('inNation')} n ON n.s = s.s JOIN {P('inRegion')} r ON r.s = n.o
                WHERE r.o = '<{gen.EX}region/{a['region']}>' AND n.o IN (
                  SELECT cn.o FROM {P('inNation')} cn JOIN
                  (SELECT s FROM triples WHERE p = '{gen.RDF_TYPE}' AND o = '<{V}Customer>') c
                  ON c.s = cn.s)"""
            )
            # EXISTS keeps every solution of the outer pattern
            mult = self._rows(
                f"""SELECT s.s, COUNT(*) FROM
                (SELECT s FROM triples WHERE p = '{gen.RDF_TYPE}' AND o = '<{V}Supplier>') s
                JOIN {P('inNation')} n ON n.s = s.s JOIN {P('inRegion')} r ON r.s = n.o
                WHERE r.o = '<{gen.EX}region/{a['region']}>' GROUP BY s.s"""
            )
            keep = {r[0] for r in rows}
            return sorted((s,) for s, c in mult if s in keep for _ in range(c))
        if t == "path_plus":
            rows = self._rows(
                f"""WITH RECURSIVE r(x) AS (
                  SELECT o FROM triples WHERE p = '<{V}suppliesTo>'
                    AND s = '<{gen.EX}supplier/{a['supplier']}>'
                  UNION SELECT t.o FROM triples t JOIN r ON t.s = r.x
                    WHERE t.p = '<{V}suppliesTo>')
                SELECT x FROM r"""
            )
            return sorted(rows)
        if t == "construct":
            rows = self._rows(
                f"""SELECT DISTINCT n.s, r.o FROM {P('inNation')} n JOIN {P('inRegion')} r
                ON r.s = n.o WHERE n.o = '<{gen.EX}nation/{a['nation']}>'"""
            )
            return sorted((s, f"<{V}locatedIn>", o) for s, o in rows)
        if t == "ask":
            rows = self._rows(
                f"SELECT COUNT(*) FROM triples WHERE p = '<{V}quantity>' AND {Q_INT} > {a['q']}"
            )
            return rows[0][0] > 0
        if t == "render_json":
            rows = self._rows(
                f"""SELECT r.s, nn.o FROM {P('inRegion')} r JOIN {P('name')} nn USING (s)
                WHERE r.o = '<{gen.EX}region/{a['region']}>'"""
            )
            return sorted((s, _lex(nn)) for s, nn in rows)
        if t == "update":
            n_total = self._rows("SELECT COUNT(*) FROM triples")[0][0]
            n_tagged = self._rows(
                f"""SELECT COUNT(*) FROM {P('segment')} sg JOIN {P('inNation')} n USING (s)
                WHERE n.o = '<{gen.EX}nation/{a['nation']}>'"""
            )[0][0]
            return (n_total, n_tagged)
        raise ValueError(t)
