"""Seeded input generators for the benchmark workloads.

Everything here is plain Python: a generator takes the seed (and a size
class) and returns the inputs the engine will receive, plus what the
oracles need.  The same seed always gives byte-identical inputs; sizes
do not depend on the seed, so different seeds give the same amount of
work and the same expected output size.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

import pandas as pd

EX = "http://example.org/"
VOC = EX + "voc#"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"
SCHEMA_ID = "<https://schema.org/identifier>"
EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

Quad = Tuple[str, str, str, Optional[str]]

# Sizes per workload.  "full" is what the measured runs use; "probe" is
# the small copy a traced run of another workload uses to time the
# layers its own flow does not reach.
SIZES: Dict[str, Dict[str, Dict[str, int]]] = {
    "crawl_nt": {
        "full": dict(docs=1000, tiles=16, recrawl_pct=10),
        "probe": dict(docs=150, tiles=2, recrawl_pct=10),
    },
    "crawl_mixed": {
        "full": dict(pages=360),
        "probe": dict(pages=80),
    },
    "link_reason": {
        "full": dict(customers=2000, suppliers=300, chains=100, chain_len=3,
                     big_comp=200, schema_depth=3, supply_chains=20,
                     supply_len=3, docs=600),
        "probe": dict(customers=200, suppliers=40, chains=10, chain_len=3,
                      big_comp=20, schema_depth=3, supply_chains=4,
                      supply_len=3, docs=60),
    },
    "query_mix": {
        "full": dict(customers=1500, suppliers=200, lineitems=8000,
                     supply_chains=20, supply_len=4, blocks=40),
        "probe": dict(customers=200, suppliers=40, lineitems=1000,
                      supply_chains=4, supply_len=4, blocks=1),
    },
}

_SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu", "an", "ek"]
WORDS = [a + b + c for a in _SYL for b in _SYL for c in ("", "n", "s")]
LANGS = ["en", "fr", "de", "es", "it"]
SOURCES = [f"src{i}" for i in range(8)]


def _rng(seed: int, stream: str) -> random.Random:
    """One independent, reproducible random stream per purpose."""
    return random.Random(f"{seed}:{stream}")


def _text(rng: random.Random, lo: int = 12, hi: int = 30) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def documents(seed: int, n: int, near_dup_share: float = 0.0) -> pd.DataFrame:
    """``documents(doc_id, text, lang, source, n_chars)`` with ``n`` rows.

    ``near_dup_share`` of the rows copy an earlier document with one word
    changed, so near-duplicate detection has true candidates."""
    rng = _rng(seed, "documents")
    texts: List[str] = []
    for i in range(n):
        if texts and rng.random() < near_dup_share:
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng))
    return pd.DataFrame(
        {
            "doc_id": pd.Series(range(n), dtype="int64"),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n)],
            "source": [rng.choice(SOURCES) for _ in range(n)],
            "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
        }
    )


# ---------------------------------------------------------------------------
# crawl_nt
# ---------------------------------------------------------------------------


@dataclass
class CrawlNtInputs:
    docs: pd.DataFrame
    tiles: int
    recrawl: pd.DataFrame  # (doc_id, tile) pairs fetched a second time
    order_salt: int  # seeds the page order


def crawl_nt(seed: int, size: str = "full") -> CrawlNtInputs:
    z = SIZES["crawl_nt"][size]
    rng = _rng(seed, "crawl_nt")
    pairs = [(d, t) for d in range(z["docs"]) for t in range(z["tiles"])]
    picked = sorted(rng.sample(pairs, len(pairs) * z["recrawl_pct"] // 100))
    return CrawlNtInputs(
        docs=documents(seed, z["docs"]),
        tiles=z["tiles"],
        recrawl=pd.DataFrame(picked, columns=["doc_id", "tile"]).astype("int64"),
        order_salt=rng.getrandbits(31),
    )


# ---------------------------------------------------------------------------
# crawl_mixed
# ---------------------------------------------------------------------------


@dataclass
class MixedPage:
    url: str
    fmt: str
    payload: str
    expected: List[Quad]  # raw bnode labels; skolemized by the oracle
    error_lines: int


def _has_bnode(quads) -> bool:
    return any(t is not None and "_:" in t for q in quads for t in q)


def _case_pools():
    from sophia_rs_spark.sources.fixtures import ALL_CASES

    exact = [c for c in ALL_CASES if c.expected is not None]
    bnode = [c for c in exact if not c.error_lines and _has_bnode(c.expected)]
    plain = [c for c in exact if not c.error_lines and not _has_bnode(c.expected)]
    broken = [c for c in exact if c.error_lines]
    return bnode, plain, broken


def _uniquify(text: str, i: int) -> str:
    """Per-page IRIs, as ``fixtures.tiled_pages`` does, extended to the
    IRI bases of the Turtle, JSON-LD and RDF/XML fixtures."""
    return (
        text.replace("<x:s>", f"<x:s/{i}>")
        .replace("<x:o>", f"<x:o/{i % 97}>")
        .replace("http://example.org/ns/", f"http://example.org/ns/{i}/")
        .replace("http://ex.org/", f"http://ex.org/{i}/")
        .replace("http://e/", f"http://e/{i}/")
    )


def _bridge_pages(k: int, base: int) -> List[Tuple[str, List[Quad]]]:
    """owl:sameAs bridges for entity ``k``: A↔B on one page and, for
    every other entity, B↔C on a second page (multi-hop across pages)."""
    a, b, c = (f"<http://site{x}.example.org/entity/{base + k}>" for x in "ABC")
    pages = [[(a, OWL_SAMEAS, b, None), (a, SCHEMA_ID, f'"ent-{base + k}"', None)]]
    if k % 2 == 0:
        pages.append([(b, OWL_SAMEAS, c, None)])
    return [("\n".join(f"{s} {p} {o}." for s, p, o, _ in qs), qs) for qs in pages]


def crawl_mixed(seed: int, size: str = "full") -> List[MixedPage]:
    """A seeded page mix over all seven fixture formats: about half the
    pages carry blank nodes, 4% are malformed, 6% are sameAs bridges."""
    n = SIZES["crawl_mixed"][size]["pages"]
    rng = _rng(seed, "crawl_mixed")
    bnode, plain, broken = _case_pools()
    n_bridge, n_broken = n * 6 // 100, n * 4 // 100
    kinds = ["bridge"] * n_bridge + ["broken"] * n_broken
    rest = n - len(kinds)
    kinds += ["bnode"] * (rest // 2) + ["plain"] * (rest - rest // 2)
    rng.shuffle(kinds)
    base = rng.randrange(1_000_000)
    bridges: List[Tuple[str, List[Quad]]] = []
    k = 0
    while len(bridges) < n_bridge:
        bridges.extend(_bridge_pages(k, base))
        k += 1
    bridges = bridges[:n_bridge]
    # each pool is cycled in a fixed order over the seeded page order: the
    # seed moves cases between pages but keeps how often each occurs, and
    # so the output size
    pools = {"bnode": bnode, "plain": plain, "broken": broken}
    used = {k: 0 for k in pools}
    pages: List[MixedPage] = []
    for i, kind in enumerate(kinds):
        url = f"https://site{i % 20}.example.org/page/{base}/{i}"
        if kind == "bridge":
            payload, quads = bridges.pop()
            pages.append(MixedPage(url, "nt", payload, quads, 0))
            continue
        case = pools[kind][used[kind] % len(pools[kind])]
        used[kind] += 1
        expected = [
            tuple(_uniquify(t, i) if t is not None else None for t in q)
            for q in case.expected
        ]
        pages.append(
            MixedPage(url, case.fmt, _uniquify(case.payload, i), expected, case.error_lines)
        )
    return pages


def mixed_pages_frame(pages: List[MixedPage]) -> pd.DataFrame:
    """Pages schema (url, warc_ts, html, text, lang) for ``pages_df``."""
    from sophia_rs_spark.sources.html_extract import synthesize_html

    rows = []
    for i, pg in enumerate(pages):
        lang = LANGS[i % len(LANGS)]
        rows.append(
            {
                "url": pg.url,
                "warc_ts": EPOCH + _dt.timedelta(seconds=i),
                "html": synthesize_html(pg.url, [(pg.fmt, pg.payload)], lang).encode("utf-8"),
                "text": pg.payload,
                "lang": lang,
            }
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# relational tables (link_reason, query_mix)
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def relational_tables(seed: int, customers: int, suppliers: int) -> Dict[str, pd.DataFrame]:
    """region/nation/customer/supplier in the shape of the TPC-H-style
    tables ``direct_mapping.DEFAULT_MAPPINGS`` reads.  Customers live in
    nations 0-19 only, so nations 20-24 have none."""
    rng = _rng(seed, "tables")
    region = pd.DataFrame(
        {"r_regionkey": pd.Series(range(5), dtype="int32"),
         "r_name": [f"REGION{r}" for r in range(5)]}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": pd.Series(range(25), dtype="int32"),
            "n_name": [f"NATION{n}_{rng.choice(WORDS)}" for n in range(25)],
            "n_regionkey": pd.Series([n % 5 for n in range(25)], dtype="int32"),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": pd.Series(range(1, customers + 1), dtype="int64"),
            "c_name": [f"Customer#{rng.randrange(10**9):09d}" for _ in range(customers)],
            "c_nationkey": pd.Series(
                [rng.randrange(20) for _ in range(customers)], dtype="int32"
            ),
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(customers)],
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": pd.Series(range(1, suppliers + 1), dtype="int64"),
            "s_name": [f"Supplier#{rng.randrange(10**9):09d}" for _ in range(suppliers)],
            "s_nationkey": pd.Series(
                [rng.randrange(25) for _ in range(suppliers)], dtype="int32"
            ),
        }
    )
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier}


def supply_chains(rng: random.Random, suppliers: int, chains: int, length: int) -> List[Tuple[int, int]]:
    """``chains`` disjoint supplier chains of ``length`` edges each."""
    keys = rng.sample(range(1, suppliers + 1), chains * (length + 1))
    return [
        (keys[c * (length + 1) + j], keys[c * (length + 1) + j + 1])
        for c in range(chains)
        for j in range(length)
    ]


# ---------------------------------------------------------------------------
# link_reason
# ---------------------------------------------------------------------------


@dataclass
class LinkReasonInputs:
    tables: Dict[str, pd.DataFrame]
    extra: List[Tuple[str, str, str]]  # sameAs edges, schema, supply links
    sameas: List[Tuple[str, str]]
    supply: List[Tuple[str, str]]
    docs: pd.DataFrame


def _cust(k: int) -> str:
    return f"<{EX}customer/{k}>"


def _supp(k: int) -> str:
    return f"<{EX}supplier/{k}>"


def link_reason(seed: int, size: str = "full") -> LinkReasonInputs:
    """Relational graph plus seeded owl:sameAs chains (fixed length, so
    the round count does not depend on the seed), one oversized
    component, an RDFS schema of fixed depth and supplier chains."""
    z = SIZES["link_reason"][size]
    rng = _rng(seed, "link_reason")
    tables = relational_tables(seed, z["customers"], z["suppliers"])
    members = rng.sample(
        range(1, z["customers"] + 1), z["chains"] * (z["chain_len"] + 1) + z["big_comp"]
    )
    sameas: List[Tuple[str, str]] = []
    step = z["chain_len"] + 1
    for c in range(z["chains"]):
        chain = members[c * step:(c + 1) * step]
        sameas.extend((_cust(a), _cust(b)) for a, b in zip(chain, chain[1:]))
    big = members[z["chains"] * step:]
    # a shallow random tree: every member links to one of the first five,
    # so the component is large but its diameter (the rounds) is small
    sameas.extend((_cust(big[i]), _cust(big[rng.randrange(min(i, 5))])) for i in range(1, len(big)))
    supply = [(_supp(a), _supp(b)) for a, b in
              supply_chains(rng, z["suppliers"], z["supply_chains"], z["supply_len"])]
    sc, dom, rng_ = f"<{RDFS}subClassOf>", f"<{RDFS}domain>", f"<{RDFS}range>"
    sp = f"<{RDFS}subPropertyOf>"
    classes = [f"<{VOC}Customer>"] + [
        f"<{VOC}Party{d}_{rng.randrange(1000)}>" for d in range(z["schema_depth"])
    ]
    schema = [(a, sc, b) for a, b in zip(classes, classes[1:])]
    schema += [
        (f"<{VOC}Supplier>", sc, classes[1]),
        (f"<{VOC}inNation>", rng_, f"<{VOC}Nation>"),
        (f"<{VOC}Nation>", sc, f"<{VOC}Place>"),
        (f"<{VOC}inNation>", sp, f"<{VOC}locatedIn>"),
        (f"<{VOC}locatedIn>", dom, f"<{VOC}Located>"),
        (f"<{VOC}suppliesTo>", dom, f"<{VOC}Supplier>"),
        (f"<{VOC}suppliesTo>", rng_, f"<{VOC}Supplier>"),
    ]
    extra = [(s, OWL_SAMEAS, o) for s, o in sameas]
    extra += schema + [(s, f"<{VOC}suppliesTo>", o) for s, o in supply]
    return LinkReasonInputs(
        tables=tables, extra=extra, sameas=sameas, supply=supply,
        docs=documents(seed, z["docs"], near_dup_share=0.3),
    )


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

READ_TEMPLATES = [
    "aggregate", "bgp_star", "count_distinct", "min_max", "group_concat",
    "exists", "path_plus", "construct", "ask", "render_json",
]


@dataclass(frozen=True)
class Op:
    template: str  # one of READ_TEMPLATES, or "update"
    params: Tuple[Tuple[str, object], ...]

    @property
    def args(self) -> Dict[str, object]:
        return dict(self.params)


@dataclass
class QueryMixInputs:
    tables: Dict[str, pd.DataFrame]
    ops: List[Op]


def _params(rng: random.Random, template: str, z: Dict[str, int]) -> Dict[str, object]:
    if template == "aggregate":
        return {"q": rng.randrange(5, 40)}
    if template == "bgp_star":
        return {"region": rng.randrange(5)}
    if template == "count_distinct":
        return {"rf": rng.choice("ANR")}
    if template == "min_max":
        return {"q": rng.randrange(1, 30)}
    if template in ("group_concat", "render_json"):
        return {"region": rng.randrange(5)}
    if template == "exists":
        return {"region": rng.randrange(5)}
    if template == "path_plus":
        return {"chain": rng.randrange(z["supply_chains"])}
    if template == "construct":
        return {"nation": rng.randrange(25)}
    if template == "ask":
        return {"q": rng.choice([rng.randrange(1, 50), 50 + rng.randrange(10)])}
    if template == "update":
        return {"nation": rng.randrange(20), "tag": rng.randrange(10**6)}
    raise ValueError(template)


BLOCK = len(READ_TEMPLATES) + 1
REPEATS_PER_BLOCK = 2


def query_mix(seed: int, size: str = "full") -> QueryMixInputs:
    """Tables for the direct-mapped graph plus the lineitem mapping, and
    a seeded op sequence in blocks of ``BLOCK`` ops: each read template
    once and one update, in a seeded order, so every seed runs the same
    mix.  In each block after the first, ``REPEATS_PER_BLOCK`` reads
    repeat an earlier read exactly (same template and constants)."""
    z = SIZES["query_mix"][size]
    rng = _rng(seed, "query_mix")
    tables = relational_tables(seed, z["customers"], z["suppliers"])
    n = z["lineitems"]
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": pd.Series([rng.randrange(1, n // 4 + 1) for _ in range(n)], dtype="int64"),
            "l_quantity": pd.Series([rng.randrange(1, 51) for _ in range(n)], dtype="int64"),
            "l_returnflag": [rng.choice("ANR") for _ in range(n)],
            "l_linestatus": [rng.choice("OF") for _ in range(n)],
        }
    )
    chains = supply_chains(rng, z["suppliers"], z["supply_chains"], z["supply_len"])
    tables["supplychain"] = pd.DataFrame(chains, columns=["sc_suppkey", "sc_next"]).astype("int64")
    heads = [chains[c * z["supply_len"]][0] for c in range(z["supply_chains"])]
    ops: List[Op] = []
    seen: Dict[str, List[Op]] = {}
    for b in range(z["blocks"]):
        block = READ_TEMPLATES + ["update"]
        rng.shuffle(block)
        repeat = set(rng.sample(READ_TEMPLATES, REPEATS_PER_BLOCK)) if b else set()
        for t in block:
            if t in repeat:
                ops.append(rng.choice(seen[t]))
                continue
            p = _params(rng, t, z)
            if t == "path_plus":
                p = {"supplier": heads[p["chain"]]}
            op = Op(t, tuple(sorted(p.items())))
            ops.append(op)
            seen.setdefault(t, []).append(op)
    return QueryMixInputs(tables=tables, ops=ops)
