"""Forward-chaining RDFS entailment as DataFrame joins (SURVEY.md §2.9).

Re-expresses sophia's ``reasoner`` crate rulesets (Simple/RDF/RDFS,
`reasoner/src/ruleset/_rdfs.rs:32-99`): the same rule battery — rdfs2
(domain), rdfs3 (range), rdfs5/rdfs11 (subPropertyOf/subClassOf
transitive closure), rdfs7 (property inheritance), rdfs9 (class
inheritance) — each rule a distributed join; saturation runs on the
shared fixpoint driver (:mod:`.fixpoint`) until a round derives no new
row (sophia's ``while changed`` at `_rdfs.rs:57-97`), with the small
schema tables (subClassOf/subPropertyOf/domain/range) broadcast so
instance-side rules never shuffle the big triple table.

Vocabulary-axiom preparation (``prepare_rdf_vocab``/``prepare_rdfs_
vocab``) and container-membership rules are out of scope for round 1;
the core class/property entailment (the rules with data-scale impact)
is complete.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..terms.model import RDF, RDFS
from .fixpoint import cut, fixpoint

T_TYPE = f"<{RDF}type>"
T_SUBCLASS = f"<{RDFS}subClassOf>"
T_SUBPROP = f"<{RDFS}subPropertyOf>"
T_DOMAIN = f"<{RDFS}domain>"
T_RANGE = f"<{RDFS}range>"
T_MEMBER = f"<{RDFS}member>"
T_CMP = f"<{RDFS}ContainerMembershipProperty>"
T_DATATYPE = f"<{RDFS}Datatype>"
T_LITERAL_CLS = f"<{RDFS}Literal>"
_CONTAINER_PRED_RE = f"^<{RDF}_[0-9]+>$"


def _pairs(triples: DataFrame, pred: str) -> DataFrame:
    return triples.filter(F.col("p") == pred).select("s", "o")


def transitive_closure(pairs: DataFrame) -> DataFrame:
    """Transitive closure of an (s, o) relation by iterated doubling:
    O(log(path length)) joins (vs sophia's one-step-per-iteration inner
    loops, `_rdfs.rs:73-78,85-90`).  The closure is a union of disjoint
    cut deltas; each round joins it with itself and keeps the new pairs."""

    def step(closure):
        a, b = closure.alias("a"), closure.alias("b")
        new = (
            a.join(b, F.col("a.o") == F.col("b.s"))
            .select(F.col("a.s").alias("s"), F.col("b.o").alias("o"))
            .distinct()
            .join(closure, ["s", "o"], "left_anti")
        )
        return new, [F.count(F.lit(1)).alias("n")], lambda out, row: (
            closure.unionByName(out) if row["n"] else None
        )

    return fixpoint(step, cut(pairs.distinct()))


# Axiomatic triples of the RDF/RDFS vocabularies (rdf12-semantics §9;
# the prepare_rdf_vocab/prepare_rdfs_vocab step, _rdfs.rs:38-40) — the
# subset with inferential effect through our rule battery.
_AXIOMS = [
    (f"<{RDF}type>", f"<{RDFS}domain>", f"<{RDFS}Resource>"),
    (f"<{RDF}type>", f"<{RDFS}range>", f"<{RDFS}Class>"),
    (f"<{RDFS}domain>", f"<{RDFS}range>", f"<{RDFS}Class>"),
    (f"<{RDFS}range>", f"<{RDFS}range>", f"<{RDFS}Class>"),
    (f"<{RDFS}subClassOf>", f"<{RDFS}domain>", f"<{RDFS}Class>"),
    (f"<{RDFS}subClassOf>", f"<{RDFS}range>", f"<{RDFS}Class>"),
    (f"<{RDFS}subPropertyOf>", f"<{RDF}type>", f"<{RDF}Property>"),
    (f"<{RDF}first>", f"<{RDF}type>", f"<{RDF}Property>"),
    (f"<{RDF}rest>", f"<{RDF}type>", f"<{RDF}Property>"),
    (f"<{RDFS}member>", f"<{RDF}type>", f"<{RDF}Property>"),
    (f"<{RDF}nil>", f"<{RDF}type>", f"<{RDF}List>"),
    (f"<{RDFS}Datatype>", f"<{RDFS}subClassOf>", f"<{RDFS}Class>"),
]


class _Schema:
    """Driver-side accumulator for the (tiny) schema: subPropertyOf /
    subClassOf / domain / range pairs plus ContainerMembershipProperty
    and Datatype memberships.  Vocabularies are KB-scale even when the
    instance data is 100 TB — sophia's in-memory ruleset makes the same
    assumption (`reasoner/src/ruleset/_rdfs.rs:32-55`)."""

    def __init__(self):
        self.sp: set = set()  # (p1, p2) subPropertyOf
        self.sc: set = set()  # (c1, c2) subClassOf
        self.dom: set = set()  # (p, C)
        self.rng: set = set()  # (p, C)
        self.cmp: set = set()  # properties typed ContainerMembershipProperty
        self.dts: set = set()  # resources typed rdfs:Datatype

    def absorb(self, rows) -> bool:
        """Fold schema-relevant triples in; True if anything was new."""
        changed = False
        for s, p, o in rows:
            if p == T_SUBPROP:
                changed |= (s, o) not in self.sp
                self.sp.add((s, o))
            elif p == T_SUBCLASS:
                changed |= (s, o) not in self.sc
                self.sc.add((s, o))
            elif p == T_DOMAIN:
                changed |= (s, o) not in self.dom
                self.dom.add((s, o))
            elif p == T_RANGE:
                changed |= (s, o) not in self.rng
                self.rng.add((s, o))
            elif p == T_TYPE and o == T_CMP:
                changed |= s not in self.cmp
                self.cmp.add(s)
            elif p == T_TYPE and o == T_DATATYPE:
                changed |= s not in self.dts
                self.dts.add(s)
        return changed

    def close(self):
        """Schema-internal fixpoint (rdfs5/11/12/13): transitive closures
        plus CMP→subPropertyOf-member and Datatype→subClassOf-Literal."""
        for p in self.cmp:
            self.sp.add((p, T_MEMBER))
        for x in self.dts:
            self.sc.add((x, T_LITERAL_CLS))
        self.sp = _transitive_pairs(self.sp)
        self.sc = _transitive_pairs(self.sc)

    def closure_triples(self):
        out = [(a, T_SUBPROP, b) for a, b in self.sp]
        out += [(a, T_SUBCLASS, b) for a, b in self.sc]
        out += [(p, T_TYPE, T_CMP) for p in self.cmp]
        return out


def _transitive_pairs(pairs: set) -> set:
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    out = set(pairs)
    for src in list(adj):
        seen = set()
        stack = list(adj.get(src, ()))
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        out |= {(src, n) for n in seen}
    return out


_SCHEMA_PREDS = (T_SUBPROP, T_SUBCLASS, T_DOMAIN, T_RANGE)
# collect() guard: a "schema" bigger than this is not a vocabulary and
# the driver-side closure would not be safe — fail loudly rather than OOM.
_SCHEMA_COLLECT_CAP = 2_000_000


def _is_schema_row():
    return F.col("p").isin(*_SCHEMA_PREDS) | (
        (F.col("p") == T_TYPE) & F.col("o").isin(T_CMP, T_DATATYPE)
    )


def _extract_schema_rows(df: DataFrame):
    sel = df.filter(_is_schema_row()).select("s", "p", "o")
    rows = sel.limit(_SCHEMA_COLLECT_CAP + 1).collect()
    if len(rows) > _SCHEMA_COLLECT_CAP:
        raise ValueError(
            f"schema exceeds {_SCHEMA_COLLECT_CAP} triples — not a vocabulary; "
            "driver-side schema closure disabled at this size"
        )
    return [(r[0], r[1], r[2]) for r in rows]


# above this many entries a schema relation is applied via broadcast
# join; below it, a literal map expression (pure whole-stage codegen —
# saves a broadcast exchange per rule per round, which dominates at
# vocabulary scale)
_MAP_EXPR_MAX = 2000


def _rel_apply(spark, pairs: set, src: DataFrame, key: str) -> DataFrame:
    """Apply a (key → value) multi-relation to ``src``: inner-join
    semantics, result = src columns + exploded ``v`` column."""
    if len(pairs) <= _MAP_EXPR_MAX:
        entries: dict = {}
        for a, b in sorted(pairs):
            entries.setdefault(a, []).append(b)
        m = F.map_from_arrays(
            F.array(*[F.lit(k) for k in entries]),
            F.array(
                *[F.array(*[F.lit(x) for x in vs]) for vs in entries.values()]
            ),
        )
        # explode of a NULL array yields no rows — exactly inner-join
        return src.select(*src.columns, F.explode(m[F.col(key)]).alias("v"))
    df = spark.createDataFrame(sorted(pairs), f"{key} string, v string")
    return src.join(F.broadcast(df), key).select(*src.columns, "v")


def _rule_pass(spark, sp, dom, rng, sc, data: DataFrame) -> list:
    """The instance rules over ``data`` with the given schema relations,
    composed: rdfs7 feeds rdfs2/3, whose type conclusions feed rdfs9 --
    the whole common cascade lands in ONE delta round (the closed sp/sc
    relations make each rule one-shot-complete)."""
    parts = []
    with_r7 = data
    # rdfs7: (s p1 o) & (p1 subPropertyOf p2) -> (s p2 o)
    if sp:
        r7 = _rel_apply(spark, sp, data, "p").select(
            "s", F.col("v").alias("p"), "o"
        )
        parts.append(r7)
        with_r7 = data.unionByName(r7)
    types = [data.filter(F.col("p") == T_TYPE).select("s", F.col("o").alias("C1"))]
    # rdfs2: (s p o) & domain(p)=C -> (s rdf:type C)
    # rdfs3: (s p o) & range(p)=C -> (o type C); literal objects excluded
    for rel, subject in ((dom, "s"), (rng, "o")):
        if rel:
            t = _rel_apply(spark, rel, with_r7, "p")
            if subject == "o":
                t = t.filter(~F.col("o").startswith('"'))
            t = t.select(
                F.col(subject).alias("s"),
                F.lit(T_TYPE).alias("p"),
                F.col("v").alias("o"),
            )
            parts.append(t)
            types.append(t.select("s", F.col("o").alias("C1")))
    # rdfs9: (x type C1) & (C1 subClassOf C2) -> (x type C2) over the
    # input's types AND the type triples just produced by rdfs2/3
    if sc:
        parts.append(
            _rel_apply(spark, sc, reduce(DataFrame.unionByName, types), "C1").select(
                "s", F.lit(T_TYPE).alias("p"), F.col("v").alias("o")
            )
        )
    return parts


def rdfs_saturate(triples: DataFrame, with_axioms: bool = False) -> DataFrame:
    """RDFS-saturate a triples DataFrame (s, p, o) → saturated triples.

    Semi-naive (delta-only) evaluation: the schema (subClassOf /
    subPropertyOf / domain / range, rdfs5/11/12/13) is closed driver-side
    — it is vocabulary-sized — and broadcast; each round joins ONLY
    the previous round's delta against the broadcast schema (rdfs2/3/7/9),
    anti-joins against the accumulated known partitions, and stops on an
    empty delta.  The full triple table is scanned exactly once (round 1)
    and never re-shuffled: `distinct()` leaves every accumulated part
    hash-partitioned on (s,p,o), so the per-round anti-joins shuffle only
    the delta side.  Rule semantics match `reasoner/src/ruleset/_rdfs.rs:
    57-97`; the loop-until-empty-delta replaces sophia's `while changed`.

    ``with_axioms=True`` seeds the RDF/RDFS vocabulary axioms (sophia's
    ``prepare_*_vocab``); off by default so data-only entailment stays
    oracle-comparable.
    """
    spark = triples.sparkSession
    base = triples.select("s", "p", "o")
    if with_axioms:
        ax = spark.createDataFrame(_AXIOMS, "s string, p string, o string")
        base = base.unionByName(ax)
    # distinct() hash-partitions on (s,p,o); the cut preserves it
    base = cut(base.distinct())

    schema = _Schema()
    schema.absorb(_extract_schema_rows(base))
    schema.close()

    # schema entries already joined against ALL data (round 1 joins the
    # full base): when the schema grows later, ONLY the new entries are
    # re-applied to the accumulated data (rules-as-deltas semi-naive)
    applied = {k: set(getattr(schema, k)) for k in ("sp", "dom", "rng", "sc")}

    def step(state):
        # known: mutually-disjoint distinct parts, all (s,p,o)-partitioned
        known, frontier, schema_changed = state
        parts = _rule_pass(
            spark, schema.sp, schema.dom, schema.rng, schema.sc, frontier
        )
        # container membership: rdf:_N used as a predicate -> typed CMP
        parts.append(
            frontier.filter(F.col("p").rlike(_CONTAINER_PRED_RE))
            .select(F.col("p").alias("s"))
            .distinct()
            .select("s", F.lit(T_TYPE).alias("p"), F.lit(T_CMP).alias("o"))
        )
        # schema DELTAS (entries added after round 1, e.g. rdfs12's
        # (rdf:_N ⊑ rdfs:member)) must see ALL accumulated triples once,
        # not just the frontier — join them against the known parts
        deltas = [getattr(schema, k) - v for k, v in applied.items()]
        if any(deltas):
            parts += _rule_pass(spark, *deltas, reduce(DataFrame.unionByName, known))
            for k in applied:
                applied[k] = set(getattr(schema, k))
        # schema-closure triples (rdfs5/11/12/13 conclusions) are entailed;
        # emitted in round 1 and whenever the schema changed — the
        # anti-join below drops the already-known ones
        if schema_changed:
            ct = schema.closure_triples()
            if ct:
                parts.append(
                    spark.createDataFrame(ct, "s string, p string, o string")
                )

        new = reduce(DataFrame.unionByName, parts).distinct()
        for k in known:
            # shuffle-hash: both sides are already hash-partitioned on
            # (s,p,o) from their distinct(), so the anti-join needs no
            # exchange and no sort
            new = new.join(k.hint("shuffle_hash"), ["s", "p", "o"], "left_anti")
        # The round's one action returns emptiness AND the (vocabulary-
        # sized) new schema rows together — one scheduler barrier instead
        # of three (checkpoint + isEmpty + collect).
        summary = [
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(_is_schema_row(), F.struct("s", "p", "o"))).alias(
                "schema_rows"
            ),
        ]

        def advance(out, row):
            if row["n"] == 0:
                return None
            rows = [(r["s"], r["p"], r["o"]) for r in row["schema_rows"]]
            if len(rows) > _SCHEMA_COLLECT_CAP:
                raise ValueError(
                    f"schema exceeds {_SCHEMA_COLLECT_CAP} triples — not a "
                    "vocabulary; driver-side schema closure disabled at this size"
                )
            # inferred triples may extend the schema (e.g. an inferred
            # (p type CMP) enables rdfs12) — deltas are small, absorb is cheap
            changed = schema.absorb(rows)
            if changed:
                schema.close()
            return known + [out], out, changed

        return new, summary, advance

    return reduce(DataFrame.unionByName, fixpoint(step, ([base], base, True))[0])


def _is_existential(enc: str) -> bool:
    """True if the canonical term is (or contains, inside a triple term)
    a blank node or variable — an existential in the probe graph.
    Split-based: literals whose TEXT contains '_:' are still ground."""
    if enc.startswith("_:") or enc.startswith("?"):
        return True
    if enc.startswith("<<("):
        from ..functions.triple_terms import split_triple_term

        parts = split_triple_term(enc)
        return parts is not None and any(_is_existential(p) for p in parts)
    return False


def _var_name(enc: str) -> str:
    return "eb_" + enc[2:] if enc.startswith("_:") else "ev_" + enc[1:]


def entails(
    graph: DataFrame,
    query: DataFrame,
    saturate: bool = True,
    d: Optional[str] = None,
) -> bool:
    """`ReasonableGraph::entails` (`reasoner/src/_graph_impl.rs:91-99`,
    battery `reasoner/src/test.rs:70-95`): the probe graph is entailed
    iff a homomorphism into the saturated graph exists — blank nodes and
    variables in the probe are existentials (same label must map to the
    SAME term), including inside triple terms (matched structurally via
    the SUBJECT/PREDICATE/OBJECT accessors).  Ground probes reduce to
    the subset check.  ``saturate=False`` gives simple entailment.

    ``d="sparql"`` adds SPARQL D-entailment (`reasoner/src/
    d_entailment.rs` Sparql): literals of recognized datatypes compare
    by VALUE (1 ≡ 01 ≡ "1"^^xsd:int ≡ 1.0) and ill-typed literals raise
    :class:`~..operators.validate.IllTypedError`."""
    from ..functions import triple_terms as TT
    from ..operators import bgp as B

    base = (
        rdfs_saturate(graph)
        if saturate
        else graph.select("s", "p", "o").distinct()
    )
    if d == "sparql":
        from ..operators.validate import _ILL_MARK, d_normalize_column_batch

        def _norm(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {c: d_normalize_column_batch(pdf[c]) for c in ("s", "p", "o")}
                )

        base = base.mapInPandas(_norm, schema="s string, p string, o string")
        ill = base.filter(
            F.col("s").startswith(_ILL_MARK)
            | F.col("p").startswith(_ILL_MARK)
            | F.col("o").startswith(_ILL_MARK)
        ).limit(1).collect()
        if ill:
            from ..operators.validate import IllTypedError

            bad = next(v for v in ill[0] if v and v.startswith(_ILL_MARK))
            raise IllTypedError(bad[len(_ILL_MARK):])
        # Eager, not fixpoint.cut: B.bgp self-joins ``base`` inside one
        # job, where a lazy cut would be computed once per scan.
        base = base.localCheckpoint(eager=True)
    rows = [(r[0], r[1], r[2]) for r in query.select("s", "p", "o").collect()]
    if d == "sparql":
        from ..operators.validate import d_normalize

        rows = [tuple(d_normalize(t) for t in row) for row in rows]
    if not rows:
        return True  # the empty graph is entailed by anything
    if not any(_is_existential(t) for row in rows for t in row):
        probe = graph.sparkSession.createDataFrame(
            rows, "s string, p string, o string"
        )
        missing = probe.join(base, ["s", "p", "o"], "left_anti")
        return missing.limit(1).count() == 0

    fresh = [0]
    var_exprs: dict = {}  # existential label → [(position var, builder)]
    pos_conds: list = []  # (position var, fn Column→bool) after the join

    def tt_constraints(enc: str, path, vname: str):
        """Structural constraints for a triple-term pattern: ``path`` is
        the accessor chain from position column ``vname`` to this term."""
        parts = TT.split_triple_term(enc)
        accs = (TT.tt_subject, TT.tt_predicate, TT.tt_object)
        for acc, part in zip(accs, parts):
            p = path + (acc,)

            def build(col, _p=p):
                for a in _p:
                    col = a(col)
                return col

            if part.startswith("_:") or part.startswith("?"):
                var_exprs.setdefault(_var_name(part), []).append((vname, build))
            elif part.startswith("<<(") and _is_existential(part):
                tt_constraints(part, p, vname)
            else:
                pos_conds.append(
                    (vname, lambda col, _b=build, _v=part: _b(col) == _v)
                )

    patterns = []
    for s, p, o in rows:
        pat = []
        for term in (s, p, o):
            if term.startswith("_:") or term.startswith("?"):
                pat.append(B.v(_var_name(term)))
            elif term.startswith("<<(") and _is_existential(term):
                fresh[0] += 1
                vname = f"ett_{fresh[0]}"
                pat.append(B.v(vname))
                tt_constraints(term, (), vname)
            else:
                pat.append(term)
        patterns.append(tuple(pat))

    df = B.bgp(base, patterns)
    for vname, fn in pos_conds:
        df = df.filter(fn(F.col(vname)))
    # same existential label everywhere → equal values across all its
    # occurrences (column occurrences are already unified by the BGP
    # join; tie tt-embedded occurrences to them / to each other)
    for label, occurrences in var_exprs.items():
        exprs = []
        if label in df.columns:
            exprs.append(F.col(label))
        for occ in occurrences:
            vname, builder = occ
            exprs.append(builder(F.col(vname)))
        for e in exprs[1:]:
            df = df.filter(exprs[0] == e)
    return df.limit(1).count() > 0
