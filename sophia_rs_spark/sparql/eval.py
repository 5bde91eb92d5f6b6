"""SPARQL evaluator: AST (parser.py) → DataFrame plans.

Dispatcher parity with `sparql/src/exec.rs:125-181`: each algebra node
maps to the operators of :mod:`sophia_rs_spark.operators.bgp` /
``paths`` and the function library; Catalyst then optimizes the whole
tree (join reordering, broadcast, pushdown) — strictly stronger than
the reference's fixed-order bind-join interpreter.

Value semantics: comparisons use the SPARQL value layer (numeric when
both operands are numeric literals, term identity otherwise); errors
map to NULL (rows dropped by FILTER) — `sparql/src/expression.rs`
error-poisoning.  MIN/MAX/ORDER BY use SPARQL VALUE order (the
composite order key, exec.rs:826-893) for terms and plain computed
values alike; SUM/AVG/MIN/MAX/GROUP_CONCAT are error-poisoned like the
reference (aggregate_iter.rs:236-309).

Typed numeric tower (value/_number.rs): arithmetic, numeric functions,
casts and aggregates carry integer/decimal/float/double typing with
the reference's promotion rules and emit canonical typed literals
("12"^^xsd:integer, "1.6"^^xsd:decimal, "5e0"^^xsd:double — value.rs
lexical_form).  Boolean-valued expressions (comparisons, logic,
boolean built-ins) emit canonical "true"/"false"^^xsd:boolean terms
when used as VALUES (BIND/SELECT exprs), so equality, EBV and the
results serializers see typed literals; FILTER conditions compile to
raw Spark booleans internally (no term round-trip).  String-function
arguments are coerced strictly like the reference (expression.rs
as_string_lit / as_xsd_string / as_xsd_date_time): IRIs, bnodes and
non-string typed literals ERROR instead of passing their lexical
form, and the xsd-string positions (hash args, regex patterns,
LANGMATCHES, STRLANG/STRDT lex) reject language-tagged strings.
String-function results carry their language/direction tags
(UCASE/LCASE/SUBSTR/REPLACE keep the source tag, STRBEFORE/STRAFTER
only on a match, CONCAT the common tag — function.rs:600-795); a
tagged result is a full langString term with escaped lexical, while
untagged results stay plain Spark strings (≡ simple literals, which
is exact: simple ≡ xsd:string).  Integers beyond 38 digits promote to
the exact string-backed bignum plane (value/_number.rs BigInt parity).
"""

from __future__ import annotations

import dataclasses
import itertools
import re
import threading
from typing import List, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sparql_fns as FN
from ..operators import bgp as B
from ..operators import paths as P
from ..plan_cache import plan
from ..terms.model import RDF as _RDF_NS
from ..terms.model import XSD as _XSD_NS
from . import parser as A


class _Ctx:
    def __init__(self, triples: DataFrame, graph: Optional[Union[A.Var, str]] = None):
        self.all = triples  # full dataset (may carry g)
        self.graph = graph  # active GRAPH scope

    def scoped(self) -> DataFrame:
        t = self.all
        if "g" not in t.columns:
            return t
        if self.graph is None:
            return t.filter(F.col("g").isNull()).drop("g")
        if isinstance(self.graph, A.Var):
            return t.filter(F.col("g").isNotNull())
        return t.filter(F.col("g") == self.graph).drop("g")


def _qterm(t):
    """Blank-node labels in QUERY patterns are variables scoped to the
    query (sparql11-query §4.1.4) — not matches on skolemized data
    bnodes (test.rs:152-162).  The '#' prefix cannot appear in a SPARQL
    VARNAME, so these synthetic columns never collide with user
    variables and are excluded from SELECT * projection."""
    if isinstance(t, str) and t.startswith("_:"):
        return A.Var("#bnq_" + t[2:])
    return t


def _pattern_df(ctx: _Ctx, tp: A.TriplePattern) -> DataFrame:
    t = ctx.scoped()
    tp = A.TriplePattern(_qterm(tp.s), tp.p, _qterm(tp.o))
    gvar = ctx.graph.name if isinstance(ctx.graph, A.Var) else None

    if isinstance(tp.p, A.PathExpr):
        if gvar:
            # GRAPH ?g { path }: the path is evaluated PER active graph
            # (exec.rs path_rec under a graph matcher) — prefix every
            # node with its graph id so walks cannot cross graphs and
            # ?g rides along.  \x1D cannot occur raw in a canonical
            # term (C0 controls are \u-escaped by the encoder), so the
            # decode is unambiguous.
            sep = "\x1d"
            tg = t.select(
                F.concat(F.col("g"), F.lit(sep), F.col("s")).alias("s"),
                F.col("p"),
                F.concat(F.col("g"), F.lit(sep), F.col("o")).alias("o"),
            )
            pairs = _compile_path(tg, tp.p).select(
                F.substring_index(F.col("src"), sep, 1).alias("#pg"),
                F.substring_index(F.col("src"), sep, -1).alias("#ps"),
                F.substring_index(F.col("dst"), sep, -1).alias("#po"),
            )
            df = pairs
            proj: dict = {}
            for col, term in (
                ("#pg", A.Var(gvar)),
                ("#ps", tp.s),
                ("#po", tp.o),
            ):
                if isinstance(term, A.Var):
                    if term.name in proj:  # repeated var → unify
                        df = df.filter(F.col(col) == F.col(proj[term.name]))
                    else:
                        proj[term.name] = col
                else:
                    df = df.filter(F.col(col) == term)
            return df.select(
                *[F.col(c).alias(n) for n, c in proj.items()]
            )
        pairs = _compile_path(t, tp.p)
        df = pairs
        proj = []
        for col, term in (("src", tp.s), ("dst", tp.o)):
            if isinstance(term, A.Var):
                proj.append(F.col(col).alias(term.name))
            else:
                df = df.filter(F.col(col) == term)
        return df.select(*proj) if proj else df.select()

    pat = []
    for term in (tp.s, tp.p, tp.o):
        pat.append(B.v(term.name) if isinstance(term, A.Var) else term)
    if gvar:
        # the g position participates like any other: Var(gvar) projects
        # g (and unifies if gvar repeats an s/p/o variable)
        return B.match_pattern(t, [*pat, B.v(gvar)])
    return B.match_pattern(t, pat)


def _tterm_df(df: DataFrame, el: "A.TTermPattern") -> DataFrame:
    """Destructuring frame for a triple-term PATTERN ``<<( s p o )>>``
    (sparql-12, `sparql/src/test.rs:674-696`): over the DISTINCT values
    already bound to the slot variable, keep only triple terms whose
    constant components match, and bind the variable components via the
    SUBJECT/PREDICATE/OBJECT accessors.  Joining this frame back on the
    slot variable (standard compatibility join) unifies repeated and
    outer-bound variables for free, and the distinct() keeps the
    Arrow-batched accessor UDFs off the full row stream."""
    from ..functions import triple_terms as TT

    v = el.var.name
    base = (
        df.select(v)
        .where(F.col(v).isNotNull())
        .distinct()
        .where(FN.is_triple(F.col(v)))
    )
    proj = {v: F.col(v)}
    for comp, acc in (
        (_qterm(el.s), TT.tt_subject),
        (_qterm(el.p), TT.tt_predicate),
        (_qterm(el.o), TT.tt_object),
    ):
        e = acc(F.col(v))
        if isinstance(comp, A.Var):
            if comp.name in proj:  # repeated var inside the term → unify
                base = base.where(e == proj[comp.name])
            else:
                proj[comp.name] = e
        else:
            base = base.where(e == F.lit(comp))
    return base.select(*[c.alias(n) for n, c in proj.items()])


def _compile_path(triples: DataFrame, p) -> DataFrame:
    if isinstance(p, str):
        return P.pred(triples, p)
    if isinstance(p, A.Var):
        raise A.SparqlError("variable predicates inside paths not supported")
    op, args = p.op, p.args
    if op == "seq":
        return P.sequence(_compile_path(triples, args[0]), _compile_path(triples, args[1]))
    if op == "alt":
        return P.alternative(_compile_path(triples, args[0]), _compile_path(triples, args[1]))
    if op == "inv":
        return P.reverse(_compile_path(triples, args[0]))
    if op == "star":
        return P.zero_or_more(_compile_path(triples, args[0]), triples)
    if op == "plus":
        return P.one_or_more(_compile_path(triples, args[0]))
    if op == "opt":
        return P.zero_or_one(_compile_path(triples, args[0]), triples)
    if op == "neg":
        return P.negated_property_set(triples, list(args))
    raise A.SparqlError(f"unknown path op {op}")


# ---------------------------------------------------------------------------
# expressions
# ---------------------------------------------------------------------------


class _TmpBinder:
    """Materializes intermediate expression values as hidden '#tmp'
    columns.  Catalyst duplicates a subexpression TREE for every
    reference, so a nested typed-numeric expression (whose emit /
    parse helpers reference operands dozens of times) grows
    exponentially with depth — binding each level to a column keeps the
    analysis tree linear.

    Each binding is wrapped in a value-preserving NONDETERMINISTIC
    no-op (``shuffle(array(x))[0]`` — a 1-element shuffle is the
    identity): Catalyst's CollapseProject and the filter-pushdown alias
    substitution both refuse to inline nondeterministic projections,
    which is what keeps the bound levels from being re-inlined
    (PushPredicateThroughNonJoin would otherwise substitute every temp
    back into a predicate while pushing a FILTER down, rebuilding the
    exponential tree at codegen time).  The trade — predicates above a
    computed BIND don't push past it — costs nothing here: triple-
    pattern constants are filtered at the scan by match_pattern itself.
    Temps start with '#' (impossible in a SPARQL VARNAME) and are
    dropped by the caller or swallowed by groupBy/projection."""

    _counter = 0

    def __init__(self, df: DataFrame):
        self._base = df
        self._pending: List = []  # (name, col, referenced-temp set)
        self._pending_names: set = set()
        self.names: List[str] = []
        self._memo: dict = {}

    @property
    def df(self) -> DataFrame:
        """The DataFrame with all bound temps materialized.  Binds are
        BATCHED: temps accumulate unmaterialized and flush in dependency
        LAYERS (one ``select`` per layer, several temps each) when the
        frame is read — r5: the previous one-``withColumn``-per-bind
        shape cost two py4j round trips per temp at plan build and one
        Project operator per temp at execution (row re-materialization
        under the per-operator codegen fallback)."""
        self._flush()
        return self._base

    def _flush(self) -> None:
        if not self._pending:
            return
        layer: List = []
        layer_names: set = set()

        def emit():
            nonlocal layer, layer_names
            if layer:
                self._base = self._base.select(
                    "*", *[_opaque(c).alias(n) for n, c in layer]
                )
                layer, layer_names = [], set()

        for name, col, refs in self._pending:
            if refs is None or (refs & layer_names):
                # references a temp of the CURRENT layer (or unknown):
                # materialize the layer first so resolution succeeds
                emit()
            layer.append((name, col))
            layer_names.add(name)
        emit()
        self._pending = []
        self._pending_names = set()

    def bind(self, col: Column) -> Column:
        # memoize on the unresolved expression string: IN / repeated
        # comparisons decompose the SAME operand once per element —
        # without the memo each repeat re-emits the full lex/datatype
        # code and a 4-element IN alone overflows janino's 64 KB
        try:
            key = str(col._jc)
        except Exception:
            key = None
        if key is not None and key in self._memo:
            return F.col(self._memo[key])
        _TmpBinder._counter += 1
        name = f"#tmp{_TmpBinder._counter}"
        # temp references inside the expression (they can only point at
        # EARLIER binds); None = unknown → conservative flush
        refs = (
            {m for m in re.findall(r"#tmp\d+", key) if m in self._pending_names}
            if key is not None
            else None
        )
        self._pending.append((name, col, refs))
        self._pending_names.add(name)
        self.names.append(name)
        if key is not None:
            self._memo[key] = name
        return F.col(name)


def _opaque(col: Column) -> Column:
    """Value-preserving nondeterministic no-op — blocks Catalyst from
    re-inlining the expression through CollapseProject / filter-pushdown
    alias substitution (see :class:`_TmpBinder`).  Applied to
    non-trivial BIND / SELECT-expr / GROUP BY-expr values: a later
    FILTER(?x) would otherwise substitute the full definition into
    every reference of ?x and explode at codegen.

    Implementation: ``shuffle`` of a 1-element array with a FIXED seed.
    shuffle is nondeterministic (which is all _opaque needs) regardless
    of the seed, but an unseeded ``shuffle(array(col))[0]`` draws a
    fresh random seed at every analysis, embedding it in the generated
    Java — re-running the same query text then generated different
    code and MISSED the whole-stage-codegen cache, re-paying
    multi-second janino compilation per run (r5: this was most of the
    headline SPARQL bench).  With the seed pinned the generated code is
    byte-identical across rebuilds and the compiled class is reused."""
    return F.call_function("shuffle", F.array(col), F.lit(42))[0]


# built-ins whose value is xsd:boolean (function.rs returns
# EvalResult::Boolean for these) — wrapped as canonical boolean TERMS
# when used as values, compiled raw inside FILTER conditions
_BOOL_FNS = frozenset({
    "BOUND", "CONTAINS", "STRSTARTS", "STRENDS", "REGEX",
    "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC",
    "LANGMATCHES", "SAMETERM", "ISTRIPLE", "HASLANG", "HASLANGDIR",
    "XSD:boolean",
})


def _boolterm(b: Column) -> Column:
    """Raw boolean → canonical xsd:boolean term (errors stay NULL)."""
    return (
        F.when(b, F.lit(f'"true"^^<{_XSD_NS}boolean>'))
        .when(~b, F.lit(f'"false"^^<{_XSD_NS}boolean>'))
        .otherwise(F.lit(None).cast("string"))
    )


def _ebv_any(c: Column) -> Column:
    """EBV (sparql11-query 17.2.2) of a term-or-plain value: canonical
    terms through FN.ebv; plain computed values are string-function
    results, i.e. SIMPLE literals — non-empty ⇒ true (so
    STRAFTER("a0","a") = "0" and a computed "false" are both truthy,
    matching the reference's is_truthy); NULL stays NULL.  Numerics and
    booleans arrive as typed terms and take the FN.ebv branch."""
    cs = c.cast("string")
    return F.when(cs.rlike('^["<_]'), FN.ebv(cs)).otherwise(F.length(cs) > 0)


def _const_num_probe(term):
    """Python-side fold of the numeric-datatype suffix probe for a
    CONSTANT term operand: ``(rank-class, raw lexical)`` or
    ``(None, None)``.  Char-based slicing instead of the column form's
    octet arithmetic — identical for the ASCII lexicals that can ever
    be valid; a multi-byte lexical differs only in the (invalid)
    extracted text, which every consumer rejects the same way."""
    if not isinstance(term, str) or not term.startswith('"'):
        return None, None
    for sfx, k in FN._NUM_DT_DISPATCH:
        if term.endswith(sfx):
            return k, term[1 : len(term) - len(sfx)]
    return None, None


def _term_col(e: A.Expr, df: DataFrame, binder: Optional[_TmpBinder] = None) -> Column:
    """Compile an expression to a canonical-term / plain-value Column.

    With a ``binder``, nested numeric levels are materialized as hidden
    columns (see :class:`_TmpBinder`); without one the expression is
    compiled purely (fine for flat expressions — deep nesting needs the
    binder)."""
    if e.op == "var":
        # a variable not in scope is an expression ERROR (NULL), not an
        # analysis crash — COALESCE(?unbound, x) must fall through
        if e.args[0] not in df.columns:
            return F.lit(None).cast("string")
        return F.col(e.args[0])
    if e.op == "term":
        return F.lit(e.args[0])
    if e.op == "call":
        if e.args[0] in _TYPED_NUM_FNS:
            # numeric functions stay in the typed plane (single lexical
            # emit at the top — avoids tree blowup on nesting)
            return FN.typed_num_term(*_typed_expr(e, df, binder))
        c = _call(
            e.args[0], [_term_col(a, df, binder) for a in e.args[1]], e.args[1],
            binder,
        )
        # boolean-valued built-ins surface as canonical xsd:boolean terms
        return _boolterm(c) if e.args[0] in _BOOL_FNS else c
    if e.op in ("neg", "arith"):
        return FN.typed_num_term(*_typed_expr(e, df, binder))
    if e.op in ("cmp", "and", "or", "not", "in", "marker"):
        # boolean expression used as a value (BIND((?a = ?b) AS ?x),
        # BIND(EXISTS{…} AS ?x) via its marker column): emit a
        # canonical xsd:boolean TERM so EBV / comparisons / results
        # all see a typed literal (errors stay NULL)
        return _boolterm(_bool(e, df, df, binder))
    raise A.SparqlError(f"cannot compile {e.op} as value")


def _typed_view(c: Column, binder: Optional[_TmpBinder] = None):
    """(rank, decimal view, double view, big view) of a term-or-plain
    operand — the typed numeric tower (value/_number.rs).  Plain
    computed values (legacy paths) rank as integer when
    integral-looking, else double.  ``big`` carries the canonical
    integer lexical ONLY when the value is an integer beyond the
    decimal(38,10) plane (the SparqlNumber::BigInt promotion,
    _number.rs:70-77).

    With a ``binder``, the intermediate trees (lexical decode, rank)
    are materialized as hidden columns BEFORE composing the dependent
    planes — without this, ``big`` embeds the full rank+dec+lex trees
    and a single operand's typed view alone approaches janino's 64 KB
    method budget."""
    cs = c.cast("string")
    is_term = cs.rlike('^["<_]')
    # RAW lexical (escapes not decoded): the planes below parse it only
    # as a number, where raw ≡ decoded (see FN.lex_num)
    lexv = F.when(is_term, FN.lex_num(cs)).otherwise(cs)
    if binder is not None:
        # r6: suffix-dispatch probe replaces datatype()+lex_num()+
        # num_rank_parts() (regex-free; equivalence pinned by
        # test_num_probe) — bound as hidden columns, which also keeps
        # the derived planes from re-inlining the trees (binder-less
        # callers keep the regex forms below: the probe chain is too
        # big to leave unbound).  Non-numeric literals now carry a NULL
        # lexical; every consumer is rank-gated, and a non-numeric
        # operand NULLs the rank (expression error) either way.
        nv = binder.bind(F.when(cs.startswith('"'), FN.num_term_probe(cs)))
        lexv = binder.bind(
            F.when(cs.startswith('"'), FN.num_lex_at(cs, nv["w"])).otherwise(cs)
        )
        rank = F.when(is_term, FN.num_rank_probe(nv["k"], lexv)).otherwise(
            F.when(FN.int_lex_valid(cs), F.lit(0))
            .when(cs.try_cast("double").isNotNull(), F.lit(3))
            .otherwise(F.lit(None).cast("int"))
        )
        rank = binder.bind(rank)
        dbl = F.when(is_term, FN.num_dbl_parts(lexv)).otherwise(
            cs.try_cast("double")
        )
    else:
        rank = F.when(is_term, FN.num_rank(cs)).otherwise(
            F.when(cs.rlike(r"^[+-]?\d+$"), F.lit(0))
            .when(cs.try_cast("double").isNotNull(), F.lit(3))
            .otherwise(F.lit(None).cast("int"))
        )
        dbl = F.when(is_term, FN.num_dbl(cs)).otherwise(
            cs.try_cast("double")
        )
    dec = lexv.try_cast("decimal(38,10)")
    if binder is not None:
        dec = binder.bind(dec)
        dbl = binder.bind(dbl)
    # big engages for integers beyond decimal(38) AND for decimals the
    # (38,10) plane cannot hold exactly (overflow, or >10 fraction
    # digits — try_cast silently rounds those)
    frac_len = F.octet_length(F.regexp_extract(lexv, r"\.(\d+)", 1))
    big = F.when(
        (rank == 0) & dec.isNull(), FN.canon_int_lex(lexv)
    ).when(
        (rank == 1) & (dec.isNull() | (frac_len > 10)),
        FN.canon_dec_lex(lexv),
    )
    return rank, dec, dbl, big


def _const_typed_view(term: str):
    """Python-side constant fold of :func:`_typed_view` for a LITERAL
    operand (``e.op == 'term'``): the planes become ``F.lit`` columns
    instead of a ~60 KB runtime decode tower.  This matters doubly
    because binder temps are nondeterministic (`_opaque`), so Catalyst
    would refuse to constant-fold them itself — ``?x + 1`` would pay
    the full typed-view tree for the ``1``."""
    import decimal as _d

    rank = dec = dbl = big = None
    m = re.match(r'^"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>)?$', term or "")
    if m is not None and "\\" not in m.group(1):
        lx, dt = m.group(1), m.group(2) or f"{_XSD_NS}string"
        fp_ok = lx in ("INF", "-INF", "NaN") or bool(
            re.match(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$", lx)
        )
        if dt in FN._INT_RANK_DTS and re.match(FN._INT_LEX_RE, lx):
            rank = 0
        elif dt == f"{_XSD_NS}decimal" and re.match(FN._DEC_LEX_RE, lx):
            rank = 1
        elif dt == f"{_XSD_NS}float" and fp_ok:
            rank = 2
        elif dt == f"{_XSD_NS}double" and fp_ok:
            rank = 3
        if rank is not None:
            if lx == "INF":
                dbl = float("inf")
            elif lx == "-INF":
                dbl = float("-inf")
            elif lx == "NaN":
                dbl = float("nan")
            else:
                dbl = float(lx)
            if rank <= 1:
                # local high-precision context: the default prec=28
                # raises InvalidOperation quantizing >28-digit literals
                try:
                    with _d.localcontext() as _ctx:
                        _ctx.prec = max(60, len(lx) + 20)
                        q = _d.Decimal(lx).quantize(
                            _d.Decimal("1e-10"), rounding=_d.ROUND_HALF_UP
                        )
                    dec = str(q) if len(q.as_tuple().digits) <= 38 else None
                except _d.InvalidOperation:
                    dec = None
                frac = re.search(r"\.(\d+)", lx)
                flen = len(frac.group(1)) if frac else 0
                if (rank == 0 and dec is None) or (
                    rank == 1 and (dec is None or flen > 10)
                ):
                    # canonical big lexical (canon_int_lex/canon_dec_lex)
                    s = lx.lstrip("+")
                    neg = s.startswith("-")
                    s = s.lstrip("-")
                    if rank == 0:
                        s = s.lstrip("0") or "0"
                        big = ("-" if neg and s != "0" else "") + s
                    else:
                        ip, _, fr = s.partition(".")
                        ip = ip.lstrip("0") or "0"
                        fr = fr.rstrip("0") or "0"
                        s = f"{ip}.{fr}"
                        big = ("-" if neg and s != "0.0" else "") + s
    return (
        F.lit(rank).cast("int"),
        F.lit(dec).cast("decimal(38,10)"),
        F.lit(dbl).cast("double"),
        F.lit(big).cast("string"),
    )


_TYPED_NUM_FNS = ("ABS", "CEIL", "FLOOR", "ROUND")


def _typed_expr(e: A.Expr, df: DataFrame, binder: Optional[_TmpBinder] = None):
    """Compile a numeric expression to (rank, dec, dbl) — arith/neg and
    the rank-preserving numeric functions stay in the typed plane (no
    lexical round-trip per level; the canonical literal is emitted ONCE
    at the top by the caller).  Promotion rules = value/_number.rs
    coercing_operator: int∘int→int, ∘decimal→decimal, ∘float→float,
    ∘double→double; int/int and dec/dec division → decimal with a zero
    check (error); float/double division is IEEE (INF, no error).
    Each level is bound to hidden columns when a binder is given."""

    def out(r, dec, dbl, big):
        if binder is not None:
            return (
                binder.bind(r),
                binder.bind(dec),
                binder.bind(dbl),
                binder.bind(big),
            )
        return r, dec, dbl, big

    if e.op == "neg":
        r, dec, dbl, big = _typed_expr(e.args[0], df, binder)
        nbig = F.when(
            big.startswith("-"), F.substring(big, 2, 2_000_000)
        ).otherwise(F.concat(F.lit("-"), big))
        return out(r, (-dec).try_cast("decimal(38,10)"), -dbl, nbig)
    if e.op == "call" and e.args[0] in _TYPED_NUM_FNS and len(e.args[1]) == 1:
        fn = e.args[0]
        r, dec, dbl, big = _typed_expr(e.args[1][0], df, binder)
        op_dec = {
            "ABS": F.abs,
            "CEIL": lambda c: F.ceil(c).cast("decimal(38,10)"),
            "FLOOR": lambda c: F.floor(c).cast("decimal(38,10)"),
            "ROUND": lambda c: F.round(c, 0).cast("decimal(38,10)"),
        }[fn]
        op_dbl = {
            "ABS": F.abs,
            "CEIL": lambda c: F.ceil(c).cast("double"),
            "FLOOR": lambda c: F.floor(c).cast("double"),
            "ROUND": lambda c: F.round(c, 0),
        }[fn]
        # big values: ABS strips the sign (works for integer and
        # decimal lexicals alike); CEIL/FLOOR/ROUND are the identity
        # on integer-formed bigs and go through the exact UDF for the
        # (rare) decimal-formed ones
        if fn == "ABS":
            op_big = F.regexp_replace(big, r"^-", "")
        else:
            frac = big.contains(".")
            op_big = F.when(
                frac, FN.bigop(fn, F.when(frac, big), None, r)
            ).otherwise(big)
        return out(r, op_dec(dec), op_dbl(dbl), op_big)
    if e.op == "term":
        # literal operand: constant-fold the planes in Python (no
        # binding — F.lit is free and folds through Catalyst)
        return _const_typed_view(e.args[0])
    if e.op != "arith":
        return out(*_typed_view(_term_col(e, df, binder), binder))
    sym, l, r = e.args
    lr, ldec, ldbl, lbig = _typed_expr(l, df, binder)
    rr, rdec, rdbl, rbig = _typed_expr(r, df, binder)
    rank = F.when(
        lr.isNull() | rr.isNull(), F.lit(None).cast("int")
    ).otherwise(F.greatest(lr, rr))
    if sym == "/":
        rank = F.when(rank <= 1, F.lit(1)).otherwise(rank)
        # Exact-division contract (bigop: '/' is EXACT whenever the
        # quotient terminates): the dec plane may only carry a quotient
        # PROVEN exact.  Spark's own decimal division rounds (at scale 6
        # for (38,10) operands), so (a) divide with down-cast operands —
        # (28,10)/(18,10) yields scale 10 — and (b) verify by
        # re-multiplying in the loss-free (18,10)x(18,10)->decimal(37,20)
        # plane; any inexact/rounded quotient fails the check, NULLs the
        # plane, and need_big routes the row to the exact big path
        # (terminating -> exact lexical, else 100 significant digits).
        _q10 = F.when(
            rdec != 0,
            F.try_divide(
                ldec.try_cast("decimal(28,10)"),
                rdec.try_cast("decimal(18,10)"),
            ),
        ).try_cast("decimal(38,10)")
        if binder is not None:
            _q10 = binder.bind(_q10)
        dec = F.when(
            (_q10.try_cast("decimal(18,10)") * rdec.try_cast("decimal(18,10)"))
            == ldec,
            _q10,
        )
        dbl = (
            F.when(rdbl != 0.0, ldbl / rdbl)
            .when(ldbl > 0.0, F.lit(float("inf")))
            .when(ldbl < 0.0, F.lit(float("-inf")))
            .when(ldbl == 0.0, F.lit(float("nan")))
        )
    else:
        # try_* variants: decimal overflow → NULL (ANSI mode would
        # throw), which the big plane below then picks up exactly
        dec = {
            "+": F.try_add(ldec, rdec),
            "-": F.try_subtract(ldec, rdec),
            "*": F.try_multiply(ldec, rdec),
        }[sym]
        dbl = {"+": ldbl + rdbl, "-": ldbl - rdbl, "*": ldbl * rdbl}[sym]
    dec = dec.try_cast("decimal(38,10)")  # overflow beyond 38 digits → big
    # exact BigInt/BigDecimal path (_number.rs coercing_operator
    # promoting through BigInt): engaged ONLY when the result rank is
    # integer/decimal and either operand carries a big value or the
    # decimal plane overflowed — the UDF inputs are NULL-masked for
    # all other rows, so the Arrow round trip carries (nearly) empty
    # columns on the common path.  Mixed big∘decimal works: each
    # operand contributes its exact lexical (big string, or the
    # in-range plane rendered by its own rank).
    if binder is not None:
        # bind the planes BEFORE composing need_big / the bigop UDF
        # inputs / the final validity expression — each of those
        # references rank+dec several times, and the raw trees would
        # multiply back past janino's 64 KB method budget
        rank = binder.bind(rank)
        dec = binder.bind(dec)
        dbl = binder.bind(dbl)
    need_big = (rank <= 1) & (
        lbig.isNotNull() | rbig.isNotNull() | dec.isNull()
    )
    _opl = F.coalesce(
        lbig,
        F.when(lr == 0, FN.integer_lexical(ldec)).otherwise(
            FN.decimal_lexical(ldec)
        ),
    )
    _opr = F.coalesce(
        rbig,
        F.when(rr == 0, FN.integer_lexical(rdec)).otherwise(
            FN.decimal_lexical(rdec)
        ),
    )
    if binder is not None:
        need_big = binder.bind(need_big)
        _opl = binder.bind(_opl)
        _opr = binder.bind(_opr)
    big = FN.bigop(
        sym, F.when(need_big, _opl), F.when(need_big, _opr), rank
    )
    # validity: some plane must carry a value (zero-division / overflow
    # without a big fallback → error)
    rank = F.when(
        rank <= 1, F.when(dec.isNotNull() | big.isNotNull(), rank)
    ).otherwise(F.when(dbl.isNotNull(), rank))
    return out(rank, dec, dbl, big)


def _num_from_col(c: Column) -> Column:
    """Numeric view of a term-or-plain column: literals through the
    SPARQL numeric layer, plain values through try_cast."""
    return F.when(c.cast("string").startswith('"'), FN.numeric_value(c.cast("string"))).otherwise(
        c.cast("string").try_cast("double")
    )


_RECOGNIZED_DTS = None  # built lazily (needs FN constants)


def _recognized_dts() -> list:
    """Datatypes whose values = / != compares (test.rs matrix)."""
    global _RECOGNIZED_DTS
    from ..terms.model import RDF, XSD

    if _RECOGNIZED_DTS is None:
        _RECOGNIZED_DTS = FN._NUMERIC_DTS + [
            f"{XSD}string",
            f"{RDF}langString",
            f"{RDF}dirLangString",
            f"{XSD}boolean",
            f"{XSD}dateTime",
            f"{XSD}date",
        ]
    return _RECOGNIZED_DTS


def _term_family(t: str) -> str:
    """Compile-time value family of a GROUND canonical term — used to
    PRUNE comparison branches (and their per-row plane decompositions)
    that a constant operand can never reach: FILTER(?q > 10) needs no
    dateTime/boolean/lang-tag/escape-decode machinery per row."""
    if not isinstance(t, str) or not t.startswith('"'):
        return "other"  # IRI / bnode / triple term
    m = re.match(r'^"(?:[^"\\]|\\.)*"', t)
    rest = t[m.end():] if m else ""
    if rest.startswith("^^<"):
        dt = rest[3:-1]
        if dt in FN._NUMERIC_DTS:
            return "num"
        if dt == f"{_XSD_NS}dateTime":
            return "dt"
        if dt == f"{_XSD_NS}boolean":
            return "bool"
        if dt == f"{_XSD_NS}string":
            return "str"
        return "lit-other"  # unrecognized datatype
    return "str"  # simple or language-tagged literal


def _lit_unrecognized(term_str: Column) -> Column:
    """Literal with an unrecognized datatype OR an ill-formed lexical for
    a recognized one — the operands that poison = / != (test.rs matrix)."""
    from ..operators.validate import is_ill_typed

    return ~FN.datatype(term_str).isin(_recognized_dts()) | is_ill_typed(term_str)


def _bool(
    e: A.Expr,
    df: DataFrame,
    triples: DataFrame,
    binder: Optional[_TmpBinder] = None,
) -> Column:
    op = e.op
    if op == "marker":
        # EXISTS marker column (see _rewrite_exists): TRUE where a
        # compatible solution of the subpattern exists, NULL otherwise
        return F.coalesce(F.col(e.args[0]), F.lit(False))
    if op == "and":
        return _bool(e.args[0], df, triples, binder) & _bool(e.args[1], df, triples, binder)
    if op == "or":
        return _bool(e.args[0], df, triples, binder) | _bool(e.args[1], df, triples, binder)
    if op == "not":
        return ~_bool(e.args[0], df, triples, binder)
    if op == "cmp":
        sym, l, r = e.args
        lc, rc = _term_col(l, df, binder), _term_col(r, df, binder)
        if binder is not None:
            # the comparison layer references each operand ~20× (string
            # view, numeric view, dateTime view, ill-typed probe) — bind
            # computed operands so those references stay column refs
            if l.op not in ("var", "term"):
                lc = binder.bind(lc)
            if r.op not in ("var", "term"):
                rc = binder.bind(rc)
        ls, rs = lc.cast("string"), rc.cast("string")

        def termify(c):
            return F.when(
                F.substring(c, 1, 1).isin('"', "<", "_"), c
            ).otherwise(F.concat(F.lit('"'), c, F.lit('"')))

        # Decompose each operand ONCE into (termified, datatype, lexical)
        # temp columns; every derived view below is a small tree over
        # those column refs.  lex() alone is a ~20-step escape-decode
        # chain and datatype() a multi-regex CASE — inlining them into
        # each view (numeric, dateTime, boolean, ill-typed probe)
        # overflowed janino's 64 KB method limit on a single
        # FILTER(?v1 = ?v2) and fell back to interpreted mode
        # (r3 VERDICT perf-weak #1).  CONSTANT operands are left
        # unbound: the _opaque temp wrapper is nondeterministic, which
        # would block Catalyst from constant-folding their
        # decomposition (an IN list compiles one eq per element —
        # folded constants cost zero generated code).
        ident = lambda c: c
        if binder is None:
            bind_l = bind_r = ident
        else:
            bind_l = ident if l.op == "term" else binder.bind
            bind_r = ident if r.op == "term" else binder.bind
        # compile-time branch pruning: a CONSTANT operand pins its
        # value family, so every other family's plane (and its per-row
        # regex/cast cost) is dropped from the generated code entirely
        lfam = _term_family(l.args[0]) if l.op == "term" else None
        rfam = _term_family(r.args[0]) if r.op == "term" else None

        def may(fam):
            return lfam in (None, fam) and rfam in (None, fam)

        lt, rt = bind_l(termify(ls)), bind_r(termify(rs))
        # r6: the numeric plane runs on the datatype-SUFFIX probe
        # (endswith dispatch, no regex) — the datatype/raw-lexical
        # regex decomposition is only built when a surviving branch
        # actually consults it (equality's unrecognized-datatype
        # probe, or a live dateTime/boolean/string family).  A pure
        # numeric ORDER comparison — the FILTER hot path — emits no
        # regex at all.
        # Without a binder the probe pieces cannot be pinned as columns
        # and would be re-inlined at every reference (the probe is a
        # 16-branch tree, far bigger than the single-regex leaves it
        # replaces — unbound it OOMed the driver at plan build), so the
        # binder-less path keeps the regex decomposition.  _JoinBinder
        # counts as binder-less here: views over a maybe-unbound SHARED
        # var straddle both join sides and stay inline, and the inlined
        # probe chains pushed a BroadcastHashJoin consume method past
        # janino's 64 KB limit (test_comparison_codegen_no_fallback).
        use_probe = may("num") and isinstance(binder, _TmpBinder)
        need_dtlex = (
            sym in ("=", "!=")
            or may("dt")
            or may("bool")
            or may("str")
            or (may("num") and not use_probe)
        )
        ldt_ = rdt_ = llex = rlex = None
        if need_dtlex:
            if sym not in ("=", "!=") and not may("str"):
                # ORDER comparison whose string-family branch is pruned:
                # the explicit ^^<dt> suffix is all the surviving
                # branches (dateTime / boolean isin-tests) consult — the
                # full datatype()'s langString/xsd:string defaulting
                # (two extra rlikes per row) only matters to str
                _dt = lambda t: F.regexp_extract(t, r"\^\^<([^>]*)>$", 1)
            else:
                _dt = FN.datatype
            ldt_, rdt_ = bind_l(_dt(lt)), bind_r(_dt(rt))
            # RAW lexical (single regexp, escapes NOT decoded):
            # equivalent for every view below — numeric/dateTime/
            # boolean/integer lexicals never contain escapes, and VALUE
            # equality of strings is covered by term identity (the
            # canonical encoding is injective).  The full ~20-step
            # escape decode (FN.lex) is emitted ONLY for the
            # string-family ORDER compare further down.
            _rawlex = lambda t: F.regexp_extract(t, r'^"((?:[^"\\]|\\.)*)"', 1)
            llex, rlex = bind_l(_rawlex(lt)), bind_r(_rawlex(rt))

        if use_probe:
            # probe guarded to LITERALS: an IRI/bnode whose text happens
            # to end in '"^^<xsd:int…>' must not rank numeric (the old
            # datatype() path returned NULL for non-literals).
            # CONSTANT operands are folded in PYTHON (_const_num_probe):
            # the probe chain is a ~16-branch tree, and an unbound
            # constant instance gets re-inlined at every derived
            # reference — Spark 4's ColumnNode→Expression conversion
            # walks shared subtrees without memoization, so the raw
            # constant tree multiplied out and OOMed the driver.
            def _side(e, t_col, bindf):
                if e.op == "term":
                    k, lex = _const_num_probe(e.args[0])
                    pv = (
                        F.lit(None).cast("struct<k:int,w:int>")
                        if k is None
                        else F.struct(
                            F.lit(k).alias("k"), F.lit(0).alias("w")
                        )
                    )
                    return pv, F.lit(lex).cast("string")
                pv = bindf(F.when(t_col.startswith('"'), FN.num_term_probe(t_col)))
                return pv, bindf(FN.num_lex_at(t_col, pv["w"]))

            lpv, lplex = _side(l, lt, bind_l)
            rpv, rplex = _side(r, rt, bind_r)
            l_is_num, r_is_num = lpv.isNotNull(), rpv.isNotNull()
        elif may("num"):
            lplex, rplex = llex, rlex
            l_is_num = ldt_.isin(FN._NUMERIC_DTS)
            r_is_num = rdt_.isin(FN._NUMERIC_DTS)
        if may("num"):

            def num_view(raw, is_num, plex):
                # literals via the SPARQL numeric layer; plain computed
                # values (raw without quotes) via try_cast.  Used by the
                # EQUALITY branch, where Spark's NaN semantics match the
                # reference's sparql_eq exactly; the ORDER branches use
                # a NaN-excluding variant instead (partial_cmp → None)
                return F.when(
                    F.substring(raw, 1, 1).isin('"', "<", "_"),
                    F.when(is_num, plex.try_cast("double")),
                ).otherwise(raw.try_cast("double"))

            ln = bind_l(num_view(ls, l_is_num, lplex))
            rn = bind_r(num_view(rs, r_is_num, rplex))
        else:
            lplex = rplex = F.lit(None).cast("string")
            l_is_num = r_is_num = F.lit(False)
            ln = rn = F.lit(None).cast("double")
        numeric = ln.isNotNull() & rn.isNotNull()
        # exact integer refinement: two INTEGER-datatyped literals
        # compare on the bignum sort key (sign, signed digit count,
        # digit-complemented magnitude).  It is only NEEDED when a
        # side's magnitude exceeds double's 53-bit mantissa: every
        # ≤15-digit integer is exactly representable and double
        # rounding is monotonic, so short-int comparisons through the
        # double plane are already exact — the length gate keeps the
        # digit-complement machinery off the per-row hot path.
        if may("num"):
            if use_probe:
                l_int = (lpv["k"] == 0) & FN.int_lex_valid(lplex)
                r_int = (rpv["k"] == 0) & FN.int_lex_valid(rplex)
                l_keys = FN.int_order_keys_probe(lpv["k"], lplex)
                r_keys = FN.int_order_keys_probe(rpv["k"], rplex)
            else:
                l_int = ldt_.isin(FN._INT_RANK_DTS) & llex.rlike(FN._INT_LEX_RE)
                r_int = rdt_.isin(FN._INT_RANK_DTS) & rlex.rlike(FN._INT_LEX_RE)
                l_keys = FN.int_order_keys(ldt_, llex)
                r_keys = FN.int_order_keys(rdt_, rlex)
            # octet_length: O(1) vs getNumChars's per-row UTF-8 scan (JFR:
            # 12.5% of exec samples); numeric lexicals are ASCII, and a
            # multi-byte string tripping the gate only computes keys
            # that come out NULL (is_int false) — semantics unchanged.
            # The probe lexical is NULL for non-numeric literals, which
            # NULLs int_long — the when() below then skips the branch
            # exactly like the old always-false l_int did.
            int_long = (F.octet_length(lplex) > 15) | (F.octet_length(rplex) > 15)
            # int_long FIRST: And short-circuits in codegen, so the
            # validity checks behind l_int/r_int never run for the
            # (overwhelmingly common) short-lexical rows
            both_int = (
                int_long
                & ls.startswith('"') & rs.startswith('"')
                & l_int & r_int
            )
            l_ikey = F.when(int_long, F.struct(*l_keys))
            r_ikey = F.when(int_long, F.struct(*r_keys))
            if binder is not None:
                l_ikey, r_ikey = bind_l(l_ikey), bind_r(r_ikey)
        else:
            both_int = F.lit(False)
            l_ikey = r_ikey = F.lit(None).cast("int")
        ops = {
            "=": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
            "<": lambda a, b: a < b,
            ">": lambda a, b: a > b,
            "<=": lambda a, b: a <= b,
            ">=": lambda a, b: a >= b,
        }

        def bool_view(dt, lx):
            # xsd:boolean compares by VALUE (value.rs:120 sparql_eq):
            # "1"^^xsd:boolean = "true"^^xsd:boolean
            return F.when(
                dt == f"{_XSD_NS}boolean",
                F.when(lx.isin("true", "1"), 1).when(lx.isin("false", "0"), 0),
            )

        if sym in ("=", "!="):
            # RDFterm-equal + D (matrix `sparql/src/test.rs:2048-2158`):
            # same term → equal; numeric/dateTime by value; two literals
            # where either has an unrecognized datatype or an ill-formed
            # lexical → type error (NULL); anything else → not equal.
            # Plain computed values count as simple literals.
            from ..operators.validate import is_ill_typed_parts

            def unrecognized(t, dt, lx):
                return ~dt.isin(_recognized_dts()) | is_ill_typed_parts(
                    t, dt, lx
                )

            # eq dateTime view: xsd:dateTime-TYPED literals only — the
            # reference maps exactly the xsd:dateTime datatype to its
            # DateTime value (value.rs:62); an unguarded cast let a
            # PLAIN STRING with a parseable lexical compare
            # instant-equal to a typed dateTime (cross-family must be
            # plain false).  Built HERE so ORDER comparisons never pay
            # the per-row timestamp casts.
            if may("dt"):
                ldt = bind_l(
                    F.when(ldt_ == f"{_XSD_NS}dateTime", llex).try_cast(
                        "timestamp"
                    )
                )
                rdt = bind_r(
                    F.when(rdt_ == f"{_XSD_NS}dateTime", rlex).try_cast(
                        "timestamp"
                    )
                )
                both_dt = ldt.isNotNull() & rdt.isNotNull()
            else:
                ldt = rdt = F.lit(None).cast("timestamp")
                both_dt = F.lit(False)
            # lu/ru stay INLINE (each appears once): as bound temps the
            # ill-typed regex battery would run for EVERY row; inline
            # under the CASE it only runs for rows no earlier branch
            # resolved
            lu = unrecognized(lt, ldt_, llex)
            ru = unrecognized(rt, rdt_, rlex)
            if may("bool"):
                lbv = bind_l(bool_view(ldt_, llex))
                rbv = bind_r(bool_view(rdt_, rlex))
            else:
                lbv = rbv = F.lit(None).cast("int")
            eq = (
                # unbound/error operand → type error (NULL), NOT equal:
                # two unbound vars must not compare true (expression.rs
                # error-poisoning; eqNullSafe would yield TRUE here)
                F.when(lt.isNull() | rt.isNull(), F.lit(None).cast("boolean"))
                .when(lt == rt, F.lit(True))
                .when(both_int, l_ikey == r_ikey)
                .when(numeric, ln == rn)
                .when(both_dt, ldt == rdt)
                .when(lbv.isNotNull() & rbv.isNotNull(), lbv == rbv)
                .when(
                    lt.startswith('"') & rt.startswith('"') & (lu | ru),
                    F.lit(None).cast("boolean"),
                )
                .otherwise(F.lit(False))
            )
            return eq if sym == "=" else ~eq
        # ORDER comparisons follow SparqlValue::partial_cmp
        # (value.rs:223-237): within ONE value family only — numeric,
        # dateTime (datatype-strict), boolean (by value), or string
        # with the same taggedness (tag order, then lexical; plain
        # computed values count as untagged simple literals).
        # Cross-family operands, IRIs, bnodes, triple terms and
        # unrecognized literals are a type error (NULL) — unless the
        # two operands are literal-IDENTICAL (Equal: <=/>= hold, </>
        # fail), the sparql_cmp literal-equality fallback.
        # All views reuse the bound (lt, ldt_, llex) decomposition.
        if may("num"):
            # NaN excluded: any NaN ORDER comparison is a type error
            # (Rust partial_cmp → None), not Spark's NaN-sorts-highest
            num_l = F.when(
                ls.startswith('"'),
                F.when(
                    l_is_num & (lplex != "NaN"),
                    lplex.try_cast("double"),
                ),
            )
            num_r = F.when(
                rs.startswith('"'),
                F.when(
                    r_is_num & (rplex != "NaN"),
                    rplex.try_cast("double"),
                ),
            )
            num_l, num_r = bind_l(num_l), bind_r(num_r)
        else:
            num_l = num_r = F.lit(None).cast("double")
        if may("dt"):
            dtv_l = F.when(ldt_ == f"{_XSD_NS}dateTime", llex).try_cast("timestamp")
            dtv_r = F.when(rdt_ == f"{_XSD_NS}dateTime", rlex).try_cast("timestamp")
            dtv_l, dtv_r = bind_l(dtv_l), bind_r(dtv_r)
        else:
            dtv_l = dtv_r = F.lit(None).cast("timestamp")
        _STR_DTS2 = (
            f"{_XSD_NS}string",
            f"{_RDF_NS}langString",
            f"{_RDF_NS}dirLangString",
        )
        if may("bool"):
            bool_l, bool_r = bool_view(ldt_, llex), bool_view(rdt_, rlex)
            bool_l, bool_r = bind_l(bool_l), bind_r(bool_r)
        else:
            bool_l = bool_r = F.lit(None).cast("int")
        if may("str"):
            tag_l = F.regexp_extract(lt, _FULL_TAG_RE, 1)
            tag_r = F.regexp_extract(rt, _FULL_TAG_RE, 1)
            tag_l, tag_r = bind_l(tag_l), bind_r(tag_r)
            # string-family ORDER compares on the DECODED lexical
            # ("a\nb" must sort by 0x0A, not by the escape's 0x5C) —
            # the one place that pays for the full escape-decode chain
            slex_l, slex_r = bind_l(FN.lex(lt)), bind_r(FN.lex(rt))
            str_ok = (
                ldt_.isin(*_STR_DTS2)
                & rdt_.isin(*_STR_DTS2)
                & ((tag_l == "") == (tag_r == ""))
            )
        else:
            tag_l = tag_r = F.lit("")
            slex_l = slex_r = F.lit(None).cast("string")
            str_ok = F.lit(False)
        return (
            F.when(both_int, ops[sym](l_ikey, r_ikey))
            .when(num_l.isNotNull() & num_r.isNotNull(), ops[sym](num_l, num_r))
            .when(dtv_l.isNotNull() & dtv_r.isNotNull(), ops[sym](dtv_l, dtv_r))
            .when(
                bool_l.isNotNull() & bool_r.isNotNull(),
                ops[sym](bool_l, bool_r),
            )
            .when(
                str_ok,
                ops[sym](
                    F.struct(tag_l.alias("t"), slex_l.alias("x")),
                    F.struct(tag_r.alias("t"), slex_r.alias("x")),
                ),
            )
            .when(
                lt.startswith('"') & rt.startswith('"') & (lt == rt),
                ops[sym](F.lit(0), F.lit(0)),
            )
            .otherwise(F.lit(None).cast("boolean"))
        )
    if op == "in":
        # IN is sparql_eq against each element in order, failing on the
        # FIRST error even if a later element matches (expression.rs:
        # 253-268, Jena behavior): 2 IN (2.0) is TRUE by numeric value,
        # not term identity.  Build right-to-left so the compiled CASE
        # checks elements in list order.
        target, items = e.args
        res = F.lit(False).cast("boolean")
        for it in reversed(items):
            eq_i = _bool(A.Expr("cmp", ("=", target, it)), df, triples, binder)
            res = (
                F.when(eq_i, F.lit(True))
                .when(eq_i.isNull(), F.lit(None).cast("boolean"))
                .otherwise(res)
            )
        return res
    if op == "call":
        if e.args[0] in _BOOL_FNS:
            # compile raw — no boolean-term round-trip inside FILTER
            return _call(
                e.args[0],
                [_term_col(a, df, binder) for a in e.args[1]],
                e.args[1],
                binder,
            )
        return _ebv_any(_term_col(e, df, binder))
    if op == "var":
        if e.args[0] not in df.columns:
            return F.lit(None).cast("boolean")
        return _ebv_any(F.col(e.args[0]))
    if op in ("term", "arith", "neg"):
        # EBV of a constant / computed value (sparql11-query 17.2.2):
        # canonical terms through FN.ebv, plain numerics non-zero
        c = _term_col(e, df, binder)
        if binder is not None and op != "term":
            c = binder.bind(c)
        return F.when(
            c.cast("string").rlike('^["<_]'), FN.ebv(c.cast("string"))
        ).otherwise(c.cast("string").try_cast("double") != 0.0)
    raise A.SparqlError(f"cannot compile boolean {op}")


_FULL_TAG_RE = r'"@([A-Za-z0-9-]+(?:--(?:ltr|rtl))?)$'


def _args_compatible(lc: Column, rc: Column) -> Column:
    """Binary string-function argument compatibility (sparql11-query
    §17.4.3.1.1 + RDF 1.2 directions, function test.rs:343-400): the
    second arg must be a simple/xsd:string literal or carry the first's
    FULL language+direction tag — otherwise error (NULL)."""
    ll = F.regexp_extract(lc.cast("string"), _FULL_TAG_RE, 1)
    rl = F.regexp_extract(rc.cast("string"), _FULL_TAG_RE, 1)
    return (rl == "") | (ll == rl)


def _regex_with_flags(pat: Column, flags: Column) -> Column:
    """Apply SPARQL regex flags (XPath fn:matches §5.6.2: ``s m i x q``)
    to a Java regex pattern.  ``smix`` have inline Java equivalents;
    ``q`` quotes the whole pattern (``\\Q…\\E``); an EMPTY flag string
    adds no prefix (``(?)`` would be a syntax error); any other letter is
    an invalid-argument error → NULL pattern → expression error (the
    row drops instead of the query throwing)."""
    valid = flags.rlike("^[smixq]*$")
    inline = F.regexp_replace(flags, "q", "")
    # a pattern containing a literal \E cannot be \Q-quoted — error
    quoted = F.when(pat.contains("\\E"), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("\\Q"), pat, F.lit("\\E"))
    )
    base = F.when(flags.contains("q"), quoted).otherwise(pat)
    prefixed = F.when(inline == "", base).otherwise(
        F.concat(F.lit("(?"), inline, F.lit(")"), base)
    )
    return F.when(valid, prefixed).otherwise(F.lit(None).cast("string"))


def _call(
    fn: str,
    cols: List[Column],
    raw_args,
    binder: Optional[_TmpBinder] = None,
) -> Column:
    # every coercion view below goes through the (memoizing) binder:
    # each inlines the full lex/datatype decode chains, and a FILTER
    # with several string-function calls would otherwise re-emit them
    # per use site and overflow janino's 64 KB whole-stage method
    _b = binder.bind if binder is not None else (lambda c: c)

    # string view: lexical form for terms; plain computed values via
    # cast, with integral doubles rendered integer-style ("1", not
    # "1.0" — arithmetic flattens to double in our value plane)
    s = lambda c: _b(
        F.when(c.cast("string").startswith('"'), FN.lex(c.cast("string"))).otherwise(
            F.when(c.cast("string").startswith("<"), FN.str_(c.cast("string"))).otherwise(
                F.regexp_replace(c.cast("string"), r"^(-?\d+)\.0$", "$1")
            )
        )
    )
    n = lambda c: _b(_num_from_col(c))

    # strict argument coercions (expression.rs:441-479): ``sl`` accepts
    # any STRING literal — simple / xsd:string / language-tagged
    # (as_string_lit); ``xs`` accepts ONLY simple / xsd:string
    # (as_xsd_string — a language-tagged arg errors).  Both treat plain
    # computed values as simple literals, and error (NULL) on IRIs,
    # bnodes, triple terms and non-string typed literals — the
    # reference never coerces e.g. STRLEN(<iri>) or UCASE(42) through
    # the lexical form.
    def _lit_ok(c, xsd_only):
        cs = c.cast("string")
        allowed = (
            (FN.datatype(cs) == f"{_XSD_NS}string")
            if xsd_only
            else FN.datatype(cs).isin(
                f"{_XSD_NS}string",
                f"{_RDF_NS}langString",
                f"{_RDF_NS}dirLangString",
            )
        )
        return F.when(cs.startswith('"'), allowed).otherwise(~cs.rlike("^[<_]"))

    sl = lambda c: _b(F.when(_lit_ok(c, False), s(c)))
    xs = lambda c: _b(F.when(_lit_ok(c, True), s(c)))

    # plain computed values ARE literal values (EvalResult::Value in
    # the reference) — wrap them as simple-literal terms for the
    # term-introspection functions (LANG/DATATYPE/LANGDIR/ISLITERAL)
    def tf(c):
        cs = c.cast("string")
        return _b(
            F.when(cs.rlike('^["<_]'), cs).otherwise(
                F.concat(F.lit('"'), cs, F.lit('"'))
            )
        )

    # language/direction-tag propagation (function.rs:688-729, 767-795,
    # 600-613): UCASE/LCASE/SUBSTR/REPLACE keep the source's tag,
    # STRBEFORE/STRAFTER keep it only on a match, CONCAT keeps the
    # common tag.  A tagged result is emitted as a full langString TERM
    # (lexical escaped); untagged results stay plain (≡ simple literal).
    def _tag_of(c):
        return F.regexp_extract(c.cast("string"), _FULL_TAG_RE, 1)

    def _retag(lexres, tag):
        return F.when(tag == "", lexres).otherwise(
            F.concat(F.lit('"'), FN.escape_lex(lexres), F.lit('"@'), tag)
        )

    if fn == "STR":
        # IRI or literal only (function.rs:41-53) — a bnode errors
        # instead of leaking its label through the plain-value branch
        return F.when(
            cols[0].cast("string").startswith("_:"),
            F.lit(None).cast("string"),
        ).otherwise(s(cols[0]))
    if fn == "LANG":
        return FN.lang(tf(cols[0]))
    if fn == "DATATYPE":
        # returns an IRI TERM (function.rs:78 → ResultTerm IRI), so
        # FILTER(DATATYPE(?x) = xsd:string) compares term-to-term
        return FN.iri_term(FN.datatype(tf(cols[0])))
    if fn == "BOUND":
        return cols[0].isNotNull()
    if fn in ("IRI", "URI"):
        # valid on IRIs (pass-through) and xsd:string literals whose
        # text is a well-formed IRI REFERENCE (function.rs:84-107:
        # IriRef::new validation — "not a iri" errors); bnodes/triple
        # terms error to NULL.  BASE-relative resolution happens at
        # parse time for constants; runtime IRI() keeps relative refs
        # as-is (reference without a base does the same).
        from ..terms.iri import IRELATIVE_REF_RE, IRI_RE

        c = cols[0].cast("string")
        txt = xs(cols[0])
        wellformed = txt.rlike(IRI_RE.pattern) | txt.rlike(
            IRELATIVE_REF_RE.pattern
        )
        return F.when(FN.is_iri(c), c).when(
            FN.is_blank(c) | FN.is_triple(c), F.lit(None).cast("string")
        ).otherwise(F.when(wellformed, FN.iri_term(txt)))
    if fn == "STRLEN":
        return FN.int_term(F.length(sl(cols[0])))
    if fn == "UCASE":
        return _retag(F.upper(sl(cols[0])), _tag_of(cols[0]))
    if fn == "LCASE":
        return _retag(F.lower(sl(cols[0])), _tag_of(cols[0]))
    if fn in ("CONTAINS", "STRSTARTS", "STRENDS"):
        op = {
            "CONTAINS": lambda a, b: a.contains(b),
            "STRSTARTS": lambda a, b: a.startswith(b),
            "STRENDS": lambda a, b: a.endswith(b),
        }[fn]
        return F.when(
            _args_compatible(cols[0], cols[1]), op(sl(cols[0]), sl(cols[1]))
        ).otherwise(F.lit(None).cast("boolean"))
    if fn == "SUBSTR":
        # XPath fn:substring: positions ROUND (test.rs:213-214), and the
        # window is [start, start+len) over 1-based positions — a
        # negative start eats into the length rather than counting from
        # the end (test.rs:209: SUBSTR("foobar", -2, 6) = "foo")
        st = F.round(n(cols[1]), 0).cast("int")
        begin = F.greatest(st, F.lit(1))
        if len(cols) == 2:
            return _retag(
                sl(cols[0]).substr(begin, F.lit(2147483647)), _tag_of(cols[0])
            )
        ln = F.round(n(cols[2]), 0).cast("int")
        eff = F.greatest(st + ln - begin, F.lit(0))
        return _retag(sl(cols[0]).substr(begin, eff), _tag_of(cols[0]))
    if fn == "REPLACE":
        pat = xs(cols[1])
        if len(cols) >= 4:  # REPLACE(str, pat, rep, flags)
            pat = _regex_with_flags(pat, xs(cols[3]))
        return _retag(
            F.regexp_replace(sl(cols[0]), pat, xs(cols[2])), _tag_of(cols[0])
        )
    if fn == "CONCAT":
        tags = [_tag_of(c) for c in cols]
        common = tags[0] if tags else F.lit("")
        for _t in tags[1:]:
            common = F.when(common == _t, common).otherwise(F.lit(""))
        return _retag(F.concat(*[sl(c) for c in cols]), common)
    if fn == "REGEX":
        pat = xs(cols[1])
        if len(cols) >= 3:  # REGEX(str, pat, flags)
            pat = _regex_with_flags(pat, xs(cols[2]))
        return F.regexp_like(sl(cols[0]), pat)
    if fn in ("ABS", "CEIL", "FLOOR", "ROUND"):
        # rank-PRESERVING numeric functions (xpath fn:abs/ceiling/floor/
        # round return the argument's type; function.rs numeric dispatch)
        r, dec, dbl, big = _typed_view(cols[0])
        if binder is not None:
            r, dec, dbl, big = (
                binder.bind(r), binder.bind(dec), binder.bind(dbl),
                binder.bind(big),
            )
        op_dec = {
            "ABS": F.abs,
            "CEIL": lambda c: F.ceil(c).cast("decimal(38,10)"),
            "FLOOR": lambda c: F.floor(c).cast("decimal(38,10)"),
            "ROUND": lambda c: F.round(c, 0).cast("decimal(38,10)"),
        }[fn]
        op_dbl = {
            "ABS": F.abs,
            "CEIL": lambda c: F.ceil(c).cast("double"),
            "FLOOR": lambda c: F.floor(c).cast("double"),
            "ROUND": lambda c: F.round(c, 0),
        }[fn]
        op_big = F.regexp_replace(big, r"^-", "") if fn == "ABS" else big
        return FN.typed_num_term(r, op_dec(dec), op_dbl(dbl), op_big)
    if fn in ("ISIRI", "ISURI"):
        return FN.is_iri(cols[0].cast("string"))
    if fn == "ISBLANK":
        return FN.is_blank(cols[0].cast("string"))
    if fn == "ISLITERAL":
        return FN.is_literal(tf(cols[0]))
    if fn == "ISNUMERIC":
        return FN.is_numeric(cols[0].cast("string"))
    if fn == "COALESCE":
        return F.coalesce(*cols)
    if fn == "IF":
        # condition is EBV of the (possibly boolean-term) value; an
        # ERROR condition makes the whole IF an error (17.4.1.2) — it
        # does NOT fall through to the else branch
        eb = _ebv_any(cols[0])
        if binder is not None:
            eb = binder.bind(eb)
        return (
            F.when(eb, cols[1])
            .when(~eb, cols[2])
            .otherwise(F.lit(None).cast("string"))
        )
    if fn == "MD5":
        return F.md5(xs(cols[0]).cast("binary"))
    if fn == "SHA1":
        return F.sha1(xs(cols[0]).cast("binary"))
    if fn == "SHA256":
        return F.sha2(xs(cols[0]).cast("binary"), 256)
    if fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES"):
        # xsd:integer results (xpath fn:year-from-dateTime etc.); the
        # arg must BE an xsd:dateTime literal (as_xsd_date_time,
        # expression.rs:482-492) — a dateTime-shaped plain string or
        # xsd:date errors
        # field access reads the LITERAL'S OWN clock (chrono
        # DateTime<FixedOffset> accessors, `value/_xsd_date_time.rs:
        # 265-281`): hours("…T14:45:13-05:00") = 14, NOT the
        # session-timezone instant — so the fields come from the
        # lexical; the timestamp cast is only the validity probe
        # (rejects 2023-02-29 etc.)
        cdt = cols[0].cast("string")
        lexs = F.when(FN.datatype(cdt) == f"{_XSD_NS}dateTime", FN.lex(cdt))
        valid = lexs.try_cast("timestamp").isNotNull()
        pat = {
            "YEAR": r"^(-?\d{4,})-",
            "MONTH": r"^-?\d{4,}-(\d\d)-",
            "DAY": r"^-?\d{4,}-\d\d-(\d\d)T",
            "HOURS": r"T(\d\d):",
            "MINUTES": r"T\d\d:(\d\d):",
        }[fn]
        fld = F.regexp_extract(lexs, pat, 1)
        return FN.int_term(
            F.when(valid & (fld != ""), fld).cast("int")
        )
    if fn == "SECONDS":
        # xsd:decimal, fraction preserved — taken from the LEXICAL
        # seconds field (F.second truncates sub-second digits); arg
        # must be an xsd:dateTime literal (as_xsd_date_time)
        cdt = cols[0].cast("string")
        lexs = F.when(FN.datatype(cdt) == f"{_XSD_NS}dateTime", FN.lex(cdt))
        valid = lexs.try_cast("timestamp").isNotNull()
        sec = F.regexp_extract(lexs, r"T\d\d:\d\d:(\d\d(?:\.\d+)?)", 1)
        dec = F.when(valid & (sec != ""), sec.try_cast("decimal(38,10)"))
        if binder is not None:
            dec = binder.bind(dec)
        return FN.typed_num_term(
            F.when(dec.isNotNull(), F.lit(1)), dec, dec.cast("double")
        )
    if fn == "LANGMATCHES":
        # an INVALID tag or range is false, checked before the "*"
        # shortcut (function.rs:615-636 LanguageTag::new validation) —
        # the BCP47 grammar runs JVM-side via the shared pattern
        from ..terms.bcp47 import LANGTAG_RE

        tag, rng = xs(cols[0]), xs(cols[1])
        jpat = "(?i)" + LANGTAG_RE.pattern
        tag_ok = tag.rlike(jpat)
        rng_ok = (rng == "*") | rng.rlike(jpat)
        res = F.when(rng == "*", F.lit(True)).otherwise(
            (F.lower(tag) == F.lower(rng))
            | F.lower(tag).startswith(F.concat(F.lower(rng), F.lit("-")))
        )
        return (
            F.when(tag.isNull() | rng.isNull(), F.lit(None).cast("boolean"))
            .when(~tag_ok | ~rng_ok, F.lit(False))
            .otherwise(res)
        )
    if fn == "SAMETERM":
        return cols[0].cast("string") == cols[1].cast("string")
    if fn == "STRBEFORE":
        src, sep = sl(cols[0]), sl(cols[1])
        i = F.instr(src, sep)
        # haystack tag kept only on a MATCH; no-match → "" untagged
        hit_tag = F.when(i > 0, _tag_of(cols[0])).otherwise(F.lit(""))
        return F.when(
            _args_compatible(cols[0], cols[1]),
            _retag(
                F.when(
                    i > 0, F.substring(src, F.lit(1), (i - 1).cast("int"))
                ).otherwise(F.lit("")),
                hit_tag,
            ),
        ).otherwise(F.lit(None).cast("string"))
    if fn == "STRAFTER":
        src, sep = sl(cols[0]), sl(cols[1])
        i = F.instr(src, sep)
        hit_tag = F.when(i > 0, _tag_of(cols[0])).otherwise(F.lit(""))
        return F.when(
            _args_compatible(cols[0], cols[1]),
            _retag(
                F.when(
                    i > 0, src.substr(i + F.length(sep), F.length(src))
                ).otherwise(F.lit("")),
                hit_tag,
            ),
        ).otherwise(F.lit(None).cast("string"))
    if fn == "ENCODE_FOR_URI":
        # XPath fn:encode-for-uri unreserved set is A-Za-z0-9~.-_ —
        # java's URLEncoder escapes '~' and keeps '*', fix both
        e = F.replace(F.url_encode(sl(cols[0])), F.lit("+"), F.lit("%20"))
        e = F.replace(e, F.lit("%7E"), F.lit("~"))
        return F.replace(e, F.lit("*"), F.lit("%2A"))
    if fn == "SHA384":
        return F.sha2(xs(cols[0]).cast("binary"), 384)
    if fn == "SHA512":
        return F.sha2(xs(cols[0]).cast("binary"), 512)
    if fn == "TZ":
        cdt = cols[0].cast("string")
        return F.when(
            FN.datatype(cdt) == f"{_XSD_NS}dateTime", FN.tz(cdt)
        )
    if fn == "TIMEZONE":
        cdt = cols[0].cast("string")
        return F.when(
            FN.datatype(cdt) == f"{_XSD_NS}dateTime",
            FN.timezone_duration(cdt),
        )
    if fn == "LANGDIR":
        return FN.lang_dir(tf(cols[0]))
    if fn == "HASLANG":
        return FN.has_lang(cols[0].cast("string"))
    if fn == "HASLANGDIR":
        return FN.has_lang_dir(cols[0].cast("string"))
    if fn == "STRDT":
        # the datatype arg must be an IRI (as_iri, function.rs:363)
        dt_iri = F.when(
            FN.is_iri(cols[1].cast("string")),
            F.regexp_extract(cols[1].cast("string"), r"^<(.*)>$", 1),
        )
        return FN.strdt(xs(cols[0]), dt_iri)
    if fn == "STRLANG":
        # tag must be valid BCP47 (function.rs:902-910) — else error
        from ..terms.bcp47 import LANGTAG_RE

        tagc = xs(cols[1])
        return F.when(
            tagc.rlike("(?i)" + LANGTAG_RE.pattern),
            FN.strlang(xs(cols[0]), tagc),
        )
    if fn == "STRLANGDIR":
        from ..terms.bcp47 import LANGTAG_RE

        tagc = xs(cols[1])
        return F.when(
            tagc.rlike("(?i)" + LANGTAG_RE.pattern),
            FN.strlangdir(xs(cols[0]), tagc, xs(cols[2])),
        )
    if fn == "TRIPLE":
        return FN.triple_term(
            cols[0].cast("string"), cols[1].cast("string"), cols[2].cast("string")
        )
    if fn in ("SUBJECT", "PREDICATE", "OBJECT"):
        from ..functions import triple_terms as TT

        acc = {"SUBJECT": TT.tt_subject, "PREDICATE": TT.tt_predicate,
               "OBJECT": TT.tt_object}[fn]
        return acc(cols[0].cast("string"))
    if fn == "ISTRIPLE":
        return FN.is_triple(cols[0].cast("string"))
    if fn.startswith("XSD:"):
        # xsd:* constructor casts (function.rs:426-451 Custom dispatch);
        # plain computed values are wrapped as simple literals first
        typ = fn[4:]
        t = F.when(
            cols[0].cast("string").rlike('^["<_]'), cols[0].cast("string")
        ).otherwise(F.concat(F.lit('"'), cols[0].cast("string"), F.lit('"')))
        bind = binder.bind if binder is not None else (lambda col: col)
        t = bind(t)
        if typ == "boolean":
            return FN.xsd_boolean(t)
        if typ == "integer":
            return FN.int_term(bind(FN.xsd_integer(t)))
        if typ in ("double", "float"):
            dbl = bind(FN.xsd_double(t))
            return FN.typed_num_term(
                F.when(dbl.isNotNull(), F.lit(3 if typ == "double" else 2)),
                F.lit(None).cast("decimal(38,10)"),
                dbl,
            )
        if typ == "decimal":
            dec = bind(FN.xsd_decimal(t))
            return FN.typed_num_term(
                F.when(dec.isNotNull(), F.lit(1)), dec, dec.cast("double")
            )
        if typ == "string":
            return s(cols[0])
        if typ == "dateTime":
            # emit a canonical xsd:dateTime TERM (keeps the original
            # lexical) so downstream YEAR/TZ/comparisons see a typed
            # literal, not a raw Spark timestamp
            dtl = FN.lex(t)
            return F.when(
                dtl.try_cast("timestamp").isNotNull(),
                F.concat(
                    F.lit('"'), dtl, F.lit(f'"^^<{_XSD_NS}dateTime>')
                ),
            )
        raise A.SparqlError(f"cast to xsd:{typ} not supported")
    if fn == "NOW":
        # fixed per query evaluation (exec.rs:76 `state.now()`)
        return F.lit(_query_now_literal())
    if fn == "BNODE":
        if not cols:
            # fresh bnode per row (function.rs:109 bnode0)
            return F.concat(
                F.lit("_:qb"),
                F.lower(F.hex(F.xxhash64(F.monotonically_increasing_id()))),
            )
        # bnode1: same label → same bnode within the query (function.rs:109)
        return F.concat(
            F.lit("_:qb"), F.lower(F.hex(F.xxhash64(F.lit("\x03bnode1"), xs(cols[0]))))
        )
    raise A.SparqlError(f"unsupported function {fn}")


_NOW_LITERAL: Optional[str] = None

# serializes plan compilation (the spark.sql.caseSensitive flip in
# evaluate() is session-global; see its docstring)
_COMPILE_LOCK = threading.RLock()


def _query_now_literal() -> str:
    """The per-evaluation NOW() literal; evaluate() pins it once so every
    NOW() in a query sees the same instant (exec.rs:76)."""
    global _NOW_LITERAL
    if _NOW_LITERAL is None:
        from datetime import datetime, timezone

        dt = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")
        _NOW_LITERAL = (
            f'"{dt}Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
        )
    return _NOW_LITERAL


# ---------------------------------------------------------------------------
# groups & query
# ---------------------------------------------------------------------------


def _subst_vars(e, mapping: dict):
    """Substitute variables in an expression tree (used to recompile an
    OPTIONAL's filter against the MERGED LeftJoin domain, where the
    right side's columns are temporarily renamed)."""
    if not isinstance(e, A.Expr):
        return e
    if e.op == "var":
        return mapping.get(e.args[0], e)
    if e.op in ("exists", "not_exists"):
        return e  # pattern scope — never substituted

    def walk(x):
        if isinstance(x, A.Expr):
            return _subst_vars(x, mapping)
        if isinstance(x, (tuple, list)):
            return tuple(walk(y) for y in x)
        return x

    return A.Expr(e.op, tuple(walk(a) for a in e.args))


def _contains_exists(e) -> bool:
    if not isinstance(e, A.Expr):
        return False
    if e.op in ("exists", "not_exists"):
        return True

    def any_in(x):
        if isinstance(x, A.Expr):
            return _contains_exists(x)
        if isinstance(x, (tuple, list)):
            return any(any_in(y) for y in x)
        return False

    return any(any_in(a) for a in e.args)


_MARKER_SEQ = itertools.count()  # compilation is serialized (_COMPILE_LOCK)


def _ast_vars(node) -> set:
    """All variable names mentioned anywhere in a pattern AST subtree.
    Over-approximation by design: it only decides whether an EXISTS
    must see outer bindings, and extra hits just route the filter to
    the slower-but-correct merged path."""
    out: set = set()
    stack = [node]
    while stack:
        x = stack.pop()
        if isinstance(x, A.Var):
            out.add(x.name)
        elif isinstance(x, A.Expr):
            if x.op == "var":
                out.add(x.args[0])
            else:
                stack.extend(x.args)
        elif isinstance(x, A.Values):
            out.update(x.names)
        elif isinstance(x, (tuple, list)):
            stack.extend(x)
        elif isinstance(x, A.Query):
            out.update(x.variables)
            out.update(al for _, al in x.select_exprs)
            stack.extend(getattr(x, f.name) for f in dataclasses.fields(x))
        elif dataclasses.is_dataclass(x) and not isinstance(x, type):
            stack.extend(getattr(x, f.name) for f in dataclasses.fields(x))
    return out


def _exists_pattern_vars(e) -> set:
    """Variables mentioned inside the EXISTS/NOT EXISTS subpatterns of
    an expression — the complement of :func:`_expr_vars`, which
    excludes them."""
    out: set = set()
    if not isinstance(e, A.Expr):
        return out
    if e.op in ("exists", "not_exists"):
        return _ast_vars(e.args[0])

    def walk(x):
        if isinstance(x, A.Expr):
            out.update(_exists_pattern_vars(x))
        elif isinstance(x, (tuple, list)):
            for y in x:
                walk(y)

    for a in e.args:
        walk(a)
    return out


def _rewrite_exists(
    ctx: "_Ctx", df: DataFrame, e, names: List[str], nullable=()
):
    """Replace every exists/not_exists node nested inside a boolean
    expression with a precomputed MARKER column (`sparql/src/
    expression.rs:60` Exists, sparql11-query §18.6): the subpattern is
    evaluated once, projected to its variables shared with ``df``,
    deduplicated, and LEFT-joined back — the marker reads TRUE where a
    compatible solution exists and NULL otherwise (distinct keeps
    multiplicities intact).  A correlated per-row substitution becomes
    one distributed hash join.  Returns ``(df-with-markers, rewritten
    expr)``; ``names`` collects the marker columns for the caller to
    drop after filtering."""
    if not isinstance(e, A.Expr):
        return df, e
    if e.op in ("exists", "not_exists"):
        sub, _sm = _eval_group(ctx, e.args[0])
        name = f"#ex{next(_MARKER_SEQ)}"
        shared = [c for c in df.columns if c in sub.columns]
        compat = [c for c in shared if c in set(nullable) or c in _sm]
        if compat:
            # §18.6: only BOUND outer vars substitute — a NULL shared
            # var is a wildcard, so the marker joins with compatibility
            # semantics.  A plain LEFT join would then MULTIPLY rows
            # (a NULL matches every distinct sub value), so the marker
            # is attached as a semi/anti SPLIT instead, which keeps bag
            # multiplicities exact.
            pos = B.exists_filter(
                df, sub, negated=False, nullable=nullable, right_nullable=_sm
            )
            neg = B.exists_filter(
                df, sub, negated=True, nullable=nullable, right_nullable=_sm
            )
            df = pos.withColumn(name, F.lit(True)).unionByName(
                neg.withColumn(name, F.lit(None).cast("boolean"))
            )
        elif shared:
            marker = sub.select(*shared).distinct().withColumn(name, F.lit(True))
            df = df.join(marker, shared, "left")
        else:
            # no shared vars: the subpattern either matches for every
            # row or for none — ≤1-row broadcast, no driver action
            one = sub.limit(1).select(F.lit(True).alias(name))
            df = df.join(F.broadcast(one), F.lit(True), "left")
        names.append(name)
        m = A.Expr("marker", (name,))
        return df, (A.Expr("not", (m,)) if e.op == "not_exists" else m)

    new_args = []
    for a in e.args:
        if isinstance(a, A.Expr):
            df, a = _rewrite_exists(ctx, df, a, names, nullable)
        elif isinstance(a, (tuple, list)):
            aa = []
            for y in a:
                if isinstance(y, A.Expr):
                    df, y = _rewrite_exists(ctx, df, y, names, nullable)
                aa.append(y)
            a = tuple(aa)
        new_args.append(a)
    return df, A.Expr(e.op, tuple(new_args))


class _JoinBinder:
    """A :class:`_TmpBinder` for JOIN CONDITIONS: each bound coercion
    view is materialized as a hidden column on whichever join SIDE it
    references (the sides' columns are pre-renamed ``#l_*`` / ``#r_*``,
    so a substring probe on the unresolved expression is a reliable
    router).  Views that straddle both sides (comparisons over a
    maybe-unbound SHARED var, whose merged value is COALESCE(l, r))
    stay inline — only those can still grow the generated code."""

    def __init__(self, left: DataFrame, right: DataFrame):
        self.left, self.right = left, right
        self._memo: dict = {}
        self._side: dict = {}  # temp name → "l" | "r"

    def bind(self, col: Column) -> Column:
        try:
            key = str(col._jc)
        except Exception:
            return col
        if key in self._memo:
            return F.col(self._memo[key])
        refs_l, refs_r = "#l_" in key, "#r_" in key
        # a view built on top of an earlier bound view references that
        # temp, not the side's columns — inherit the temp's side
        for t in re.findall(r"#tmp\d+", key):
            side = self._side.get(t)
            if side == "l":
                refs_l = True
            elif side == "r":
                refs_r = True
        if refs_l and refs_r:
            return col
        _TmpBinder._counter += 1
        name = f"#tmp{_TmpBinder._counter}"
        if refs_r:
            self.right = self.right.withColumn(name, _opaque(col))
            self._side[name] = "r"
        else:
            self.left = self.left.withColumn(name, _opaque(col))
            self._side[name] = "l"
        self._memo[key] = name
        return F.col(name)


def _optional_cond(
    ctx: _Ctx,
    left: DataFrame,
    right: DataFrame,
    fexprs: List[A.Expr],
    nullable,
) -> DataFrame:
    """LeftJoin(left, right, expr) with the expression in the JOIN
    CONDITION evaluated over the MERGED solution (sparql11-query
    18.2.2.5 / `sparql/src/exec.rs:520-551`): a filter at the top level
    of an OPTIONAL group sees the variables of the LEFT side too —
    ``?s :age ?a OPTIONAL { ?s :mbox ?m FILTER(?a > 27) }`` keeps the
    mbox binding only where the OUTER ?a passes (the dawg
    ``optional-filter`` cases).  Both sides' columns are renamed
    (``#l_*`` / ``#r_*``) so the condition compiles against unambiguous
    names and its coercion views can be bound per side (codegen stays
    under janino's method limit); the shared-var equalities remain
    plain column equalities, so Catalyst still extracts equi-join keys
    (hash join, no cartesian).  A condition error counts as false
    (left row kept, right side unbound).

    EXISTS-free conditions only: a filter containing EXISTS that must
    see outer bindings routes to :func:`_optional_merged` instead (a
    join condition cannot express the correlated subquery); an EXISTS
    mentioning only right-side/shared certain-bound variables is
    applied to the right side pre-join (equivalent — the join keeps
    shared values equal)."""
    shared = [c for c in left.columns if c in right.columns]
    compat = set(shared) & set(nullable)
    lcols, rcols = list(left.columns), list(right.columns)
    l2 = left.withColumnsRenamed({c: "#l_" + c for c in lcols})
    r2 = right.withColumnsRenamed({c: "#r_" + c for c in rcols})
    mapping = {}
    for v in set(lcols) | set(rcols):
        if v in compat:
            mapping[v] = A.Expr(
                "call",
                (
                    "COALESCE",
                    (
                        A.Expr("var", ("#l_" + v,)),
                        A.Expr("var", ("#r_" + v,)),
                    ),
                ),
            )
        elif v in lcols:  # left-only, or certain-bound shared (equal)
            mapping[v] = A.Expr("var", ("#l_" + v,))
        else:
            mapping[v] = A.Expr("var", ("#r_" + v,))
    binder = _JoinBinder(l2, r2)
    stand_in = l2.limit(0).crossJoin(r2.limit(0))
    cond = None
    for fe in fexprs:
        c = _bool(_subst_vars(fe, mapping), stand_in, ctx.scoped(), binder)
        cond = c if cond is None else (cond & c)
    jcond = F.coalesce(cond, F.lit(False))
    for c in shared:
        lc, rc = F.col("#l_" + c), F.col("#r_" + c)
        if c in compat:
            jcond = jcond & (lc.isNull() | rc.isNull() | (lc == rc))
        else:
            jcond = jcond & (lc == rc)
    out = binder.left.join(binder.right, jcond, "left_outer")
    keep = [
        (
            F.coalesce(F.col("#l_" + c), F.col("#r_" + c)).alias(c)
            if c in compat
            else F.col("#l_" + c).alias(c)
        )
        for c in lcols
    ] + [F.col("#r_" + c).alias(c) for c in rcols if c not in shared]
    return out.select(*keep)


def _optional_merged(
    ctx: _Ctx,
    left: DataFrame,
    right: DataFrame,
    fexprs: List[A.Expr],
    nullable,
) -> DataFrame:
    """LeftJoin by the spec's own definition (sparql11-query §18.5:
    ``LeftJoin(L,R,F) = Filter(F, Join(L,R)) ∪ Diff(L,R,F)``) — used
    when the condition contains an EXISTS that must see OUTER bindings
    (§18.6 substitution semantics): a join condition cannot express the
    correlated subquery, so the merged solutions are materialized,
    filtered with the full filter machinery (EXISTS via marker-column
    joins, :func:`_rewrite_exists`), and left rows with no surviving
    match are unioned back null-extended.  Left rows are tagged with
    ``monotonically_increasing_id`` (partition-local counter — no
    shuffle, deterministic for a deterministic input plan) so bag
    multiplicities survive the anti-join.  One extra join vs the
    condition form; only routed here when the EXISTS actually
    references outer-risk variables."""
    lid = "#lid"
    lefti = left.withColumn(lid, F.monotonically_increasing_id())
    merged = B.join_bindings(lefti, right, nullable=nullable)
    passed = _apply_filters(ctx, merged, fexprs, nullable=nullable)
    rextra = [c for c in right.columns if c not in left.columns]
    bare = lefti.join(passed.select(lid).distinct(), lid, "left_anti").select(
        "*", *[F.lit(None).cast("string").alias(c) for c in rextra]
    )
    return passed.select(*lefti.columns, *rextra).unionByName(bare).drop(lid)


def _expr_vars(e) -> set:
    """Free variables of an expression.  EXISTS/NOT EXISTS subpatterns
    are excluded — they are pattern-scoped and never substituted."""
    out: set = set()
    if not isinstance(e, A.Expr):
        return out
    if e.op == "var":
        out.add(e.args[0])
        return out
    if e.op in ("exists", "not_exists"):
        return out

    def walk(x):
        if isinstance(x, A.Expr):
            out.update(_expr_vars(x))
        elif isinstance(x, (tuple, list)):
            for y in x:
                walk(y)

    for a in e.args:
        walk(a)
    return out


def _order_keys_shared(c: Column, binder: _TmpBinder) -> list:
    """``FN.order_key_any`` with the operand decomposition materialized
    ONCE as hidden columns: the plain form recomputes datatype()/lex()
    inside ~6 of its 9 key components, and sort/min_by evaluates every
    component per row (measured 16 µs/row on a 600k-row ORDER BY).
    The exact-int refinement keys are additionally length-gated —
    doubles order ≤15-digit integers exactly (monotonic rounding), and
    the later datatype/lang/lexical components keep any remaining ties
    deterministic for SAMPLE/min_by."""
    cs = c.cast("string")
    t = binder.bind(
        F.when(F.substring(cs, 1, 1).isin('"', "<", "_"), cs).otherwise(
            F.concat(F.lit('"'), cs, F.lit('"'))
        )
    )
    dt = binder.bind(FN.datatype(t))
    lx = binder.bind(FN.lex(t))
    # numeric view: raw ≡ decoded for numeric lexicals (FN.lex_num doc)
    nv = F.when(
        cs.startswith('"'),
        F.when(dt.isin(FN._NUMERIC_DTS), lx.try_cast("double")),
    ).otherwise(cs.try_cast("double"))
    long_int = F.octet_length(lx) > 15  # ASCII-safe gate, O(1) vs getNumChars
    ikeys = [F.when(long_int, k) for k in FN.int_order_keys(dt, lx)]
    return [
        c.isNotNull(),
        FN.kind(t),
        binder.bind(nv),
        *ikeys,
        dt,
        FN.lang(t),
        F.when(FN.is_literal(t), lx).otherwise(t),
    ]


def _conjuncts(e) -> list:
    """Top-level && conjuncts of a filter expression.  Splitting is
    drop-equivalent: a row passes FILTER(a && b) iff EBV(a) and EBV(b)
    are both true (false/error on either side drops it under the
    coalesce(cond, False) rule), which is exactly chained filters."""
    if isinstance(e, A.Expr) and e.op == "and":
        return _conjuncts(e.args[0]) + _conjuncts(e.args[1])
    return [e]


def _apply_filters(ctx: _Ctx, df: DataFrame, filters, nullable=()) -> DataFrame:
    for fe in filters:
        if fe.op in ("exists", "not_exists"):
            # bare (NOT) EXISTS: semi/anti join, no marker column
            sub, _sm = _eval_group(ctx, fe.args[0])
            df = B.exists_filter(
                df,
                sub,
                negated=(fe.op == "not_exists"),
                nullable=nullable,
                right_nullable=_sm,
            )
            continue
        marks: List[str] = []
        if _contains_exists(fe):
            # EXISTS nested in a boolean expression — precompute
            # marker columns, then compile the expression normally
            df, fe = _rewrite_exists(ctx, df, fe, marks, nullable)
        b = _TmpBinder(df)
        cond = _bool(fe, b.df, ctx.scoped(), b)
        df = b.df.filter(F.coalesce(cond, F.lit(False)))  # error → drop
        drop = marks + b.names
        if drop:
            df = df.drop(*drop)
    return df


def _eval_group(ctx: _Ctx, g: A.Group, defer_filters: bool = False):
    """Evaluate a group → ``(bindings DataFrame, maybe_unbound vars)``
    (or, with ``defer_filters``, a 3-tuple that additionally carries the
    group's top-level FILTER expressions UNAPPLIED — the OPTIONAL caller
    folds them into its LeftJoin condition per sparql11-query 18.2.2.5).

    ``maybe_unbound`` tracks which columns can be NULL (UNDEF in VALUES,
    the optional side of OPTIONAL, asymmetric UNION branches, BIND):
    joins over those need SPARQL compatibility semantics rather than
    plain NULL-dropping equi-keys (exec.rs:484-518), while everything
    else keeps the fast equi-join path."""
    df: Optional[DataFrame] = None
    maybe: set = set()
    filters: List[A.Expr] = []
    spark = ctx.all.sparkSession

    def join(nxt: DataFrame, nxt_maybe=frozenset()) -> DataFrame:
        nonlocal df, maybe
        if df is None:
            df, maybe = nxt, set(nxt_maybe)
            return df
        shared = set(df.columns) & set(nxt.columns)
        df = B.join_bindings(df, nxt, nullable=maybe | set(nxt_maybe))
        # a shared var survives as maybe-null only if BOTH sides could be
        # null (output is coalesce(l, r)); one-sided vars keep their flag
        maybe = (
            (maybe - shared)
            | (set(nxt_maybe) - shared)
            | (maybe & set(nxt_maybe) & shared)
        )
        return df

    # group-level FILTERs are POSITION-INDEPENDENT (§18.2.2.2: they
    # constrain the whole group) — pre-collect their && conjuncts and
    # apply each at the EARLIEST point where all its variables are
    # bound and non-nullable.  Joins only restrict/multiply rows and
    # never change a bound value, so early application is
    # drop-equivalent; crucially a selective conjunct runs BEFORE an
    # OPTIONAL multiplies the rows instead of after.  Conjuncts over
    # maybe-unbound / later-bound vars and EXISTS conjuncts stay in
    # the group-end set.
    pending_filters: List = []
    if not defer_filters:
        for el in g.elements:
            if isinstance(el, A.Filter):
                pending_filters.extend(_conjuncts(el.expr))

    def _drain_filters():
        nonlocal df
        if df is None:
            return
        for c in list(pending_filters):
            cv = _expr_vars(c)
            if (
                cv
                and not _contains_exists(c)
                and cv <= set(df.columns)
                and not (cv & maybe)
            ):
                pending_filters.remove(c)
                df = _apply_filters(ctx, df, [c])

    tt_pend: List = []  # TTermPatterns whose slot var is not bound yet

    def _drain_tterms():
        # nested triple terms bind inside-out: an inner record's slot
        # var is bound by the OUTER record's destructure, so retry the
        # deferred list after every successful join until a fixpoint
        progress = True
        while progress:
            progress = False
            for rec in list(tt_pend):
                if df is not None and rec.var.name in df.columns:
                    tt_pend.remove(rec)
                    join(_tterm_df(df, rec))
                    progress = True

    for el in g.elements:
        if isinstance(el, A.TriplePattern):
            join(_pattern_df(ctx, el))
        elif isinstance(el, A.TTermPattern):
            if df is not None and el.var.name in df.columns:
                join(_tterm_df(df, el))
                _drain_tterms()
            else:
                tt_pend.append(el)
        elif isinstance(el, A.Filter):
            if defer_filters:
                # OPTIONAL caller folds these into its LeftJoin
                # condition (§18.2.2.5) — keep them whole and unapplied
                filters.append(el.expr)
            # else: already pre-collected into pending_filters
        elif isinstance(el, A.Optional_):
            right, rmaybe, rfilters = _eval_group(
                ctx, el.group, defer_filters=True
            )
            base = df if df is not None else _unit(spark)
            basecols = set(base.columns)
            # a top-level filter of the OPTIONAL group belongs in the
            # LeftJoin CONDITION (18.2.2.5) — it sees the merged
            # domain, i.e. outer variables too.  Filters that mention
            # no outer variable are equivalent applied to the right
            # side pre-join (cheaper: keeps the plain equi-join path).
            # An EXISTS filter stays on the right side unless its
            # expression or its subpattern references an outer-risk
            # variable (outer-only, or maybe-unbound shared) — then
            # only the merged domain sees the right bindings (§18.6),
            # which a join condition cannot express: route to the
            # expand-filter-union form (_optional_merged).
            nullable = maybe | rmaybe
            rcols = set(right.columns)
            risky = (basecols - rcols) | (basecols & rcols & nullable)
            local, defer, need_merged = [], [], []
            for fe in rfilters:
                if _contains_exists(fe):
                    if (_expr_vars(fe) & basecols) or (
                        _exists_pattern_vars(fe) & risky
                    ):
                        need_merged.append(fe)
                    else:
                        local.append(fe)
                elif _expr_vars(fe) & basecols:
                    defer.append(fe)
                else:
                    local.append(fe)
            if local:
                right = _apply_filters(ctx, right, local, nullable=rmaybe)
            if need_merged:
                df = _optional_merged(
                    ctx, base, right, need_merged + defer, nullable
                )
            elif defer:
                df = _optional_cond(ctx, base, right, defer, nullable)
            else:
                df = B.optional(base, right, nullable=nullable)
            maybe |= (set(right.columns) - set(base.columns)) | rmaybe
        elif isinstance(el, A.Minus):
            right, rm = _eval_group(ctx, el.group)
            df = B.minus(
                df if df is not None else _unit(spark), right, nullable=maybe | rm
            )
        elif isinstance(el, A.Union_):
            left, lm = _eval_group(ctx, el.left)
            right, rm = _eval_group(ctx, el.right)
            lcols, rcols = set(left.columns), set(right.columns)
            join(
                B.union_bindings(left, right),
                lm | rm | (lcols ^ rcols),
            )
        elif isinstance(el, A.SubGroup):
            join(*_eval_group(ctx, el.group))
        elif isinstance(el, A.SubSelect):
            join(*_select_df(ctx, el.query))
        elif isinstance(el, A.Bind):
            if df is None:
                df = _unit(spark)
            marks: List[str] = []
            bexpr = el.expr
            if _contains_exists(bexpr):
                # BIND(EXISTS{…} AS ?x) and friends: marker columns
                df, bexpr = _rewrite_exists(ctx, df, bexpr, marks, maybe)
            b = _TmpBinder(df)
            val = _term_col(bexpr, b.df, b)
            if bexpr.op not in ("var", "term"):
                val = _opaque(val)
            df = B.extend(b.df, el.var.name, val)
            drop = marks + b.names
            if drop:
                df = df.drop(*drop)
            maybe.add(el.var.name)  # expression errors bind NULL
        elif isinstance(el, A.Values):
            vdf = spark.createDataFrame(
                [tuple(r) for r in el.rows],
                ", ".join(f"{n} string" for n in el.names),
            )
            undef = {
                n
                for i, n in enumerate(el.names)
                if any(r[i] is None for r in el.rows)
            }
            join(vdf, undef)
        elif isinstance(el, A.GraphClause):
            if not el.group.elements:
                # GRAPH <g> {} / GRAPH ?g {}: matches iff the graph
                # EXISTS in the dataset (test.rs:185-188)
                sc = _Ctx(ctx.all, el.name).scoped()
                if isinstance(el.name, A.Var):
                    join(sc.select(F.col("g").alias(el.name.name)).distinct())
                else:
                    join(sc.limit(1).select())  # ≤1 zero-column row
            else:
                sub, sm = _eval_group(_Ctx(ctx.all, el.name), el.group)
                join(sub, sm)
        elif isinstance(el, A.ServiceClause):
            join(*_eval_service(ctx, el))
        else:
            raise A.SparqlError(f"unknown group element {el!r}")
        _drain_filters()

    _drain_tterms()
    _drain_filters()
    filters.extend(pending_filters)
    if tt_pend:
        raise A.SparqlError(
            "triple-term pattern's slot is never matched: "
            + ", ".join(r.var.name for r in tt_pend)
        )
    if df is None:
        df = _unit(spark)
    if defer_filters:
        return df, maybe, filters
    return _apply_filters(ctx, df, filters, nullable=maybe), maybe


def _unit(spark) -> DataFrame:
    return spark.createDataFrame([()], "struct<>")


def _eval_service(ctx: _Ctx, el: "A.ServiceClause"):
    """SERVICE [SILENT] <endpoint> { … } (sparql11-federated-query
    §2.2, beyond the reference — its executor leaves Service
    NotImplemented, `sparql/src/exec.rs:175-179`; the protocol CLIENT
    it does ship, `sparql_client/src/lib.rs`, is what this builds on).

    The group body's raw source is wrapped in ``SELECT *`` plus the
    query's own prologue and POSTed through
    :class:`~sophia_rs_spark.sparql.client.SparqlClient`; the remote
    bindings come back as a DataFrame of canonical terms and join the
    local solutions; columns the response actually left unbound in some
    solution (the remote query may contain OPTIONAL) join with
    compatibility semantics, fully-bound ones as plain equi-keys.
    Per §2.2, SILENT turns any failure (transport, content-type, a
    non-bindings response) into the unit solution.  The transport is
    injectable via :func:`~sophia_rs_spark.sparql.client.
    set_service_transport` (tests; air-gapped deployments)."""
    from .client import SparqlClientError, service_client

    spark = ctx.all.sparkSession
    try:
        if isinstance(el.endpoint, A.Var):
            # would require per-row endpoint dispatch; no engine we
            # mirror supports it unbound — error (SILENT: unit)
            raise SparqlClientError(
                "SERVICE with an unbound variable endpoint"
            )
        prologue = ""
        if el.base:
            prologue += f"BASE <{el.base}>\n"
        prologue += "".join(
            f"PREFIX {p}: <{iri}>\n" for p, iri in el.prefixes.items()
        )
        q = f"{prologue}SELECT * WHERE {{ {el.text} }}"
        # results-only Accept: a graph-shaped response (turtle, …) to
        # the SELECT is a protocol violation and must error, not parse
        cli = service_client(el.endpoint).with_accept(
            "application/sparql-results+json,"
            "application/sparql-results+xml;q=0.8"
        )
        res, rnull = cli.query(
            spark, q, graph_ok=False, return_nullable=True
        )
        if not isinstance(res, DataFrame):
            raise SparqlClientError(
                f"SERVICE returned a non-bindings result: {res!r}"
            )
    except Exception as ex:
        if el.silent:
            return _unit(spark), set()
        raise A.SparqlError(f"SERVICE {el.endpoint} failed: {ex}") from ex
    # only the columns the response ACTUALLY left unbound somewhere are
    # maybe-unbound — fully-bound remote vars stay plain equi-join keys
    # (the pessimistic all-columns set forced a nested-loop compat join
    # on every SERVICE)
    return res, set(rnull)


def _tune_codegen_limits(spark) -> None:
    """Align Spark's whole-stage-codegen fallback with the JVM's JIT
    limit.  HotSpot never JIT-compiles a method beyond 8000 bytecode
    bytes (``-XX:DontCompileHugeMethods``), so a fused whole-stage
    ``processNext`` past that size runs as INTERPRETED BYTECODE —
    measured ~1.7x on the r5 headline bench (SPARQL eval's pinned
    decomposition towers fuse into 40-60 KB methods).  Spark's own
    fallback (``spark.sql.codegen.hugeMethodLimit``) defaults to the
    janino hard limit (65535), far past the JIT cliff; lowering it to
    8000 makes oversized stages fall back to per-operator projections,
    whose generated code splits into small JIT-able methods.  Only the
    untouched default is overridden — an explicit user setting wins."""
    try:
        if spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535") == "65535":
            spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
    except Exception:
        pass  # conf may be inaccessible (connect-mode); fine


def evaluate(triples: DataFrame, q: A.Query):
    """Evaluate a parsed query against a triples/quads DataFrame
    (columns s, p, o [, g]).  Returns a DataFrame (select/construct) or
    bool (ask).

    SPARQL variables are case-sensitive (?m and ?M coexist); Spark's
    default case-insensitive resolution would throw AMBIGUOUS_REFERENCE.
    DataFrame analysis is eager, so flipping ``spark.sql.caseSensitive``
    for the duration of plan BUILDING (and restoring after) is safe —
    execution of the returned plan does not re-resolve.  The flip is a
    session-global, so compilation is serialized under a process-wide
    lock: concurrent compile threads would otherwise race the flip
    (failing resolution mid-build or leaking caseSensitive=true).
    Execution of already-built plans is unaffected and fully
    concurrent."""
    spark = triples.sparkSession
    _tune_codegen_limits(spark)
    with _COMPILE_LOCK:
        prev = spark.conf.get("spark.sql.caseSensitive", "false")
        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            return _evaluate(triples, q)
        finally:
            spark.conf.set("spark.sql.caseSensitive", prev)


def _evaluate(triples: DataFrame, q: A.Query):
    global _NOW_LITERAL
    _NOW_LITERAL = None  # repin NOW() for this evaluation
    if "g" not in triples.columns:
        triples = triples.withColumn("g", F.lit(None).cast("string"))
    if q.from_graphs or q.from_named:
        # dataset clauses (exec.rs:70-117): FROM graphs compose an ad-hoc
        # default graph; FROM NAMED restricts what GRAPH can see.  When
        # either clause is present the other side defaults to empty.
        default_part = (
            triples.filter(F.col("g").isin(q.from_graphs)).withColumn(
                "g", F.lit(None).cast("string")
            )
            if q.from_graphs
            else triples.limit(0)
        )
        if len(q.from_graphs) > 1:
            # the composed default graph is a MERGE (set union) of the
            # FROM graphs, not a bag: a triple present in two graphs
            # contributes ONE solution (exec.rs:70-117 ad-hoc dataset)
            default_part = default_part.distinct()
        named_part = (
            triples.filter(F.col("g").isin(q.from_named))
            if q.from_named
            else triples.limit(0)
        )
        triples = default_part.unionByName(named_part)
    ctx = _Ctx(triples, None)

    if q.form == "ask":
        return B.ask(_eval_group(ctx, q.where)[0])

    if q.form == "describe":
        from ..operators.describe import describe as _describe

        targets = [tp.s for tp in q.template]
        spark = triples.sparkSession
        consts = [t for t in targets if not isinstance(t, A.Var)]
        seeds = None
        if consts:
            seeds = spark.createDataFrame([(c,) for c in consts], "term string")
        vars_ = [t.name for t in targets if isinstance(t, A.Var)]
        if vars_:
            bindings, _bm = _eval_group(ctx, q.where)
            for vname in vars_:
                part = bindings.select(F.col(vname).alias("term")).distinct()
                seeds = part if seeds is None else seeds.unionByName(part)
        assert seeds is not None, "DESCRIBE needs at least one target"
        return _describe(ctx.scoped(), seeds)

    if q.form == "construct":
        df, _cm = _eval_group(ctx, q.where)
        # bnodes in the template ([] or _:label) mint a fresh bnode per
        # SOLUTION (same label → same bnode within one solution); keyed
        # by a hash of the full binding (construct_iter.rs bnode map)
        sol_cols = [F.col(c) for c in df.columns] or [F.lit(0)]

        def inst(t):
            if isinstance(t, A.TTerm):
                # variable triple term in a template: CONSTRUCT the
                # term per solution (TRIPLE semantics — invalid
                # component kinds → NULL → row skipped, like any
                # unbound template slot)
                def c(x):
                    r = inst(x)
                    if isinstance(r, B.Var):
                        return F.col(r.name)
                    return r if isinstance(r, Column) else F.lit(r)

                return FN.triple_term(c(t.s), c(t.p), c(t.o))
            if isinstance(t, A.Var):
                if t.name in df.columns:
                    return B.v(t.name)
                label = t.name  # unbound var in template = bnode-like
            elif isinstance(t, str) and t.startswith("_:"):
                label = t[2:]
            else:
                return t
            return F.concat(
                F.lit(f"_:ct{label}x"),
                F.lower(F.hex(F.xxhash64(*sol_cols))),
            )

        tmpl = [(inst(t.s), inst(t.p), inst(t.o)) for t in q.template]
        return B.construct(df, tmpl)

    return _select_df(ctx, q)[0]


def _select_df(ctx: _Ctx, q: A.Query):
    """The SELECT pipeline (also the subquery evaluator).  Returns
    ``(DataFrame, maybe_unbound vars)`` so enclosing groups join
    subquery results with the right compatibility semantics."""
    df, maybe = _eval_group(ctx, q.where)

    # computed group keys: GROUP BY (expr AS ?v) binds before grouping
    for ge, galias in q.group_exprs:
        b = _TmpBinder(df)
        gval = _term_col(ge, b.df, b)
        if ge.op not in ("var", "term"):
            gval = _opaque(gval)
        df = b.df.withColumn(galias, gval)
        if b.names:
            df = df.drop(*b.names)

    # aggregates — inside GRAPH ?g the subquery is evaluated per active
    # graph (exec.rs "single active graph"): the graph var joins the
    # grouping keys implicitly and stays bound for the enclosing group
    group_by = list(q.group_by)
    gname = ctx.graph.name if isinstance(ctx.graph, A.Var) else None
    if (
        (q.aggregates or q.group_by)
        and gname
        and gname in df.columns
        and gname not in group_by
    ):
        group_by.insert(0, gname)
    if q.aggregates or q.group_by:
        maybe |= {a.alias for a in q.aggregates}  # agg over empty → NULL
        # COUNT(DISTINCT *) counts distinct SOLUTIONS over the visible
        # columns — capture them before the hidden temporaries below
        solution_cols = [F.col(x) for x in df.columns]
        # materialize each aggregate input (and, for SUM/AVG, its typed
        # numeric views) as hidden '#'-columns: every aggregate then
        # references a plain attribute instead of re-inlining a deep
        # emitted-literal expression tree — keeps Catalyst's analysis
        # tree linear in query size.  groupBy().agg() drops the temps.
        argcol: dict = {}
        for i, a in enumerate(q.aggregates):
            if a.arg is None:
                continue
            cn = f"#g{i}"
            b = _TmpBinder(df)
            argval = _term_col(a.arg, b.df, b)
            df = b.df.withColumn(cn, argval)
            argcol[i] = cn

        # WEIGHTED aggregation, the one aggregation plane: every row is
        # a (value, multiplicity wn) pair, and COUNT/SUM/AVG reduce
        # Σ wn and Σ value×wn; n ≡ 1 when not collapsed.  When every
        # aggregate is a plain (non-DISTINCT) COUNT/SUM/AVG/MIN/MAX/
        # SAMPLE, the rows first collapse to DISTINCT (group keys,
        # argument values) with their multiplicity ("aggregate before
        # you shuffle") — a cheap codegen hash aggregate with map-side
        # partials — so the typed-numeric
        # decomposition towers and the final aggregate run over the
        # distinct values only (13.9M → a few hundred tower rows on
        # the headline bench).  Exactness is unchanged: the products
        # are exact by construction (limb and fast-plane magnitudes
        # < 10^18, multiplicities < 10^19 ⇒ products < 10^37 <
        # decimal(38)), and the weighted sums have the SAME TOTAL as
        # uncollapsed ones, so decimal-overflow poisoning engages in
        # exactly the same cases.  GROUP_CONCAT (element multiplicity
        # in the output) and DISTINCT aggregates are not collapsed.
        wn = F.lit(1)
        if (
            q.aggregates
            and all(
                a.fn in ("count", "sum", "avg", "min", "max", "sample")
                and not a.distinct
                for a in q.aggregates
            )
        ):
            keyset = list(dict.fromkeys(group_by + list(argcol.values())))
            df = df.groupBy(*keyset).agg(F.count(F.lit(1)).alias("#wn"))
            wn = F.col("#wn")

        for i, a in enumerate(q.aggregates):
            if a.arg is None:
                continue
            cn = argcol[i]
            if a.fn in ("sum", "avg"):
                # shared per-value decomposition, each piece materialized
                # ONCE as an _opaque-pinned column: plain deterministic
                # withColumns would be CollapseProject-inlined back into
                # every consumer (rank re-expanded inside the limb gate,
                # the poison check, max(r), ...) — measured 3-4× the
                # per-row cost of the whole SUM at sf0.1.  RAW lexical:
                # only rank<=1 rows feed the limbs, and a valid numeric
                # lexical never contains an escape (FN.lex_num).
                cs = F.col(cn).cast("string")
                is_term = F.substring(cs, 1, 1).isin('"', "<", "_")
                # r6: datatype-SUFFIX probe replaces datatype() +
                # lex_num() + num_rank_parts() on this per-row hot path
                # — endswith dispatch + translate-residue validity, no
                # regex and no backward substring_index scan (measured
                # 6.3s → ~1s of tower time at sf0.1; equivalence is
                # pinned by test_num_probe_equivalence).  Non-numeric
                # literals get a NULL lexical now, which is fine: every
                # consumer below is gated on rank≤1, and a non-numeric
                # element NULLs the rank and poisons the group anyway.
                df = df.withColumn(cn + "nv", _opaque(FN.num_term_probe(cs)))
                nv = F.col(cn + "nv")
                lexv = F.when(
                    cs.startswith('"'), FN.num_lex_at(cs, nv["w"])
                ).otherwise(cs)
                df = df.withColumn(cn + "lx", _opaque(lexv))
                lx = F.col(cn + "lx")
                rank = F.when(is_term, FN.num_rank_probe(nv["k"], lx)).otherwise(
                    F.when(FN.int_lex_valid(cs), F.lit(0))
                    .when(cs.try_cast("double").isNotNull(), F.lit(3))
                    .otherwise(F.lit(None).cast("int"))
                )
                dbl = F.when(is_term, FN.num_dbl_parts(lx)).otherwise(
                    cs.try_cast("double")
                )
                df = df.withColumn(cn + "r", _opaque(rank)).withColumn(
                    cn + "f", dbl
                )
                # exact-sum limb decomposition (scaled ×10^10): limb
                # SUMs distribute with map-side partials at any width.
                # r5 single-limb fast plane: common-sized values (<10^8,
                # ≤10 fraction digits) sum as ONE decimal(38,0) column;
                # the 126-digit string build and the 7 limb substrings
                # are when()-masked to the rare wide rows, so codegen
                # skips them per fast row entirely.
                # The (ip, fr) lexical split is pinned ONCE and shared
                # by the fast plane and the limb decomposition —
                # substring_index(-1)'s reverse scan was the TOP hot
                # frame when re-inlined at every use site
                _neg, _ip, _fr = FN.num_lex_parts(lx)
                df = df.select(
                    "*",
                    _opaque(_ip).alias(cn + "ip"),
                    _opaque(_fr).alias(cn + "fr"),
                )
                parts = (lx.startswith("-"), F.col(cn + "ip"), F.col(cn + "fr"))
                # _opaque-pinned: fv is consumed three times (the SUM
                # input + the dg/mon masks) — deterministic it would be
                # CollapseProject-re-inlined into each consumer
                df = df.withColumn(
                    cn + "fv",
                    _opaque(FN.sum_fast_part(lx, F.col(cn + "r"), parts)),
                )
                fvnull = F.col(cn + "fv").isNull()
                dg, sg, mon = FN.sum_limb_parts(lx, F.col(cn + "r"), parts)
                df = (
                    df.withColumn(cn + "dg", _opaque(F.when(fvnull, dg)))
                    .withColumn(cn + "sg", sg)
                    .withColumn(cn + "m", F.when(fvnull, mon))
                )
                df = df.drop(cn + "nv", cn + "lx", cn + "ip", cn + "fr")
        aggs = []
        post_emit: List = []  # (alias, raw-struct → term renderer)

        def _count_of(present):
            # Σ wn over the rows where ``present`` holds
            return F.coalesce(
                F.sum(F.when(present, wn)), F.lit(0)
            ).cast("long")

        for i, a in enumerate(q.aggregates):
            if a.fn == "count" and a.arg is None:
                if a.distinct:  # COUNT(DISTINCT *) = distinct solutions
                    cnt = F.count_distinct(*solution_cols)
                else:
                    cnt = F.coalesce(F.sum(wn), F.lit(0)).cast("long")
                aggs.append(FN.int_term(cnt).alias(a.alias))
                continue
            c = F.col(argcol[i])
            # error-poisoning (aggregate_iter.rs:236-309 + test.rs:834-848
            # "sum err"/"min err"/...): an element whose expression errors
            # — or, for SUM/AVG, isn't a number — poisons the whole
            # aggregate to unbound.  COUNT alone skips errors.
            def _poisoned_by(err_col):
                return F.coalesce(
                    F.sum(err_col.cast("int")) > 0, F.lit(False)
                )

            if a.fn == "count":
                # COUNT yields an xsd:integer term (SparqlNumber::from)
                if a.distinct:
                    cnt = F.count_distinct(c)
                else:
                    cnt = _count_of(c.isNotNull())
                aggs.append(FN.int_term(cnt).alias(a.alias))
            elif a.fn in ("sum", "avg"):
                # TYPED accumulation (value/_number.rs promotion):
                # integer inputs sum to integer, any decimal promotes to
                # decimal, float/double to float/double; AVG divides —
                # int/dec inputs land in decimal, float/double stay.
                # int/dec accumulation is EXACT at any width (the
                # BigInt/BigDecimal accumulator): each element's value
                # ×10^10 is decomposed into 18-digit limbs and each limb
                # sums independently as decimal(38,0) — fully
                # distributed, map-side partial aggregation — with a
                # JVM recombination fast path and an Arrow-batched
                # arbitrary-precision finalizer for overflowing groups.
                # ONE decomposition (the tower columns above), two
                # reducers: a weighted SQL sum, or a fold over the
                # distinct set.
                rin = F.col(argcol[i] + "r")
                poison = _poisoned_by(rin.isNull())
                rank_out = F.max(rin)
                dblin, fv, dg, sg, mcol = (
                    F.col(argcol[i] + k) for k in ("f", "fv", "dg", "sg", "m")
                )
                zero_limb = F.lit(0).cast("decimal(38,0)")
                if a.distinct:
                    # DISTINCT dedups on the TERM (aggregate_iter.rs
                    # seen: HashSet<ResultTerm> — "2.0"^^decimal and
                    # "2e0"^^double are distinct even though equal in
                    # value): the set holds (term, pieces) structs, an
                    # unbound argument stays out of it, and the fold
                    # adds the same pieces the weighted sums reduce
                    elems = F.collect_set(
                        F.when(
                            c.isNotNull(),
                            F.struct(
                                c.cast("string").alias("t"),
                                fv.alias("fv"), dblin.alias("f"),
                                dg.alias("dg"), sg.alias("sg"),
                                mcol.alias("m"),
                            ),
                        )
                    )
                    init = F.struct(
                        F.array(
                            *[zero_limb for _ in range(FN.SUM_LIMBS)]
                        ).alias("limbs"),
                        zero_limb.alias("fs"),
                        F.lit(0.0).alias("dbl"),
                        F.array()
                        .cast("array<struct<l:string,n:bigint>>")
                        .alias("m"),
                    )

                    def _add(acc, x):
                        return F.struct(
                            F.array(*[
                                F.try_add(
                                    acc["limbs"][j],
                                    F.coalesce(
                                        FN.sum_limb(x["dg"], x["sg"], j),
                                        zero_limb,
                                    ),
                                )
                                for j in range(FN.SUM_LIMBS)
                            ]).alias("limbs"),
                            F.try_add(
                                acc["fs"], F.coalesce(x["fv"], zero_limb)
                            ).alias("fs"),
                            (acc["dbl"] + F.coalesce(x["f"], F.lit(0.0)))
                            .alias("dbl"),
                            F.when(
                                x["m"].isNotNull(),
                                F.array_append(
                                    acc["m"],
                                    F.struct(
                                        x["m"].alias("l"),
                                        F.lit(1).cast("long").alias("n"),
                                    ),
                                ),
                            ).otherwise(acc["m"]).alias("m"),
                        )

                    folded = F.aggregate(elems, init, _add)
                    limb_sums, fast_sum = folded["limbs"], folded["fs"]
                    sdbl, monsters = folded["dbl"], folded["m"]
                    n = F.size(elems)
                else:
                    # value × multiplicity.  Products are exact
                    # (magnitudes < 10^18, multiplicity < 10^19 ⇒
                    # < 10^37 < decimal(38)); the weighted sums equal
                    # the uncollapsed sums in VALUE, so
                    # overflow→NULL→poison engages identically.
                    wnd = wn.cast("decimal(19,0)")
                    limb_sums = F.array(*[
                        F.coalesce(
                            F.sum(
                                F.try_multiply(FN.sum_limb(dg, sg, j), wnd)
                            ),
                            zero_limb,
                        )
                        for j in range(FN.SUM_LIMBS)
                    ])
                    monsters = F.collect_list(
                        F.when(
                            mcol.isNotNull(),
                            F.struct(
                                mcol.alias("l"),
                                wn.cast("long").alias("n"),
                            ),
                        )
                    )
                    # single-limb fast plane: plain decimal SUM with
                    # map-side partials (NULL when no fast rows)
                    fast_sum = F.sum(F.try_multiply(fv, wnd))
                    sdbl = F.sum(dblin * wn)
                    n = _count_of(c.isNotNull())
                # two-phase: aggregate the RAW typed state (a small
                # struct), render the lexical AFTER the groupBy in a
                # projection over plain struct-field references — the
                # renderers reference their input dozens of times, which
                # over full aggregate expressions would blow up the
                # analysis tree
                raw = F.struct(
                    rank_out.cast("int").alias("r"),
                    limb_sums.alias("limbs"),
                    monsters.alias("m"),
                    sdbl.alias("dbl"),
                    n.cast("long").alias("n"),
                    poison.alias("bad"),
                    fast_sum.cast("decimal(38,0)").alias("fs"),
                )
                aggs.append(raw.alias(a.alias))

                def _emit_sum_avg(col, fn=a.fn):
                    rank_out, limbs, monsters, sdbl, n, poison = (
                        col["r"], col["limbs"], col["m"],
                        col["dbl"], col["n"], col["bad"],
                    )
                    fs = F.coalesce(
                        col["fs"], F.lit(0).cast("decimal(38,0)")
                    )
                    # JVM fast path: fast-plane partial + recombined
                    # limb sums, when the total fits the decimal(38,10)
                    # plane and no element overflowed it
                    scaled = F.when(
                        F.size(monsters) == 0,
                        F.try_add(fs, FN.sum_limbs_combine(limbs)),
                    )
                    sdec = F.try_divide(
                        scaled, F.lit(10**10).cast("decimal(38,0)")
                    ).try_cast("decimal(38,10)")
                    if fn == "sum":
                        need_udf = (
                            (rank_out <= 1) & sdec.isNull() & ~poison
                            & (n > 0)
                        )
                        mask = lambda col_: F.when(need_udf, col_)
                        big = FN.bigsum_emit(
                            False, mask(limbs), mask(monsters),
                            mask(n), mask(rank_out), mask(col["fs"]),
                        )
                        # SUM{} = 0 (accumulator starts at integer 0,
                        # aggregate_iter.rs:150)
                        result = F.when(
                            n == 0, F.lit(f'"0"^^<{_XSD_NS}integer>')
                        ).otherwise(
                            FN.typed_num_term(rank_out, sdec, sdbl, big)
                        )
                    else:
                        # AVG finalizes sum / max(count, 1): int/dec →
                        # decimal division, float/double stay
                        # (aggregate_iter.rs:390).  Like scalar '/',
                        # the dec plane only carries a quotient PROVEN
                        # exact (loss-free re-multiplication check);
                        # non-terminating averages go through the big
                        # plane's exact-or-100-digit division
                        _nd = n.try_cast("decimal(18,0)")
                        _ad = F.try_divide(
                            sdec.try_cast("decimal(28,10)"), _nd
                        ).try_cast("decimal(38,10)")
                        adec = F.when(
                            (_ad.try_cast("decimal(18,10)") * _nd)
                            == sdec,
                            _ad,
                        )
                        rank_avg = F.when(
                            rank_out <= 1, F.lit(1)
                        ).otherwise(rank_out)
                        need_udf = (
                            (rank_out <= 1) & adec.isNull() & ~poison
                            & (n > 0)
                        )
                        mask = lambda col_: F.when(need_udf, col_)
                        abig = FN.bigsum_emit(
                            True, mask(limbs), mask(monsters),
                            mask(n), mask(rank_out), mask(col["fs"]),
                        )
                        result = F.when(
                            n == 0, F.lit(f'"0.0"^^<{_XSD_NS}decimal>')
                        ).otherwise(
                            FN.typed_num_term(rank_avg, adec, sdbl / n, abig)
                        )
                    return (
                        F.when(poison, F.lit(None).cast("string"))
                        .otherwise(result)
                    )

                post_emit.append((a.alias, _emit_sum_avg))
            elif a.fn in ("min", "max"):
                # SPARQL VALUE order, not string order: min_by/max_by over
                # the composite order key (aggregate_iter.rs:274-308
                # `sparql_order_by`; test.rs:840-848 min/max batteries)
                _kb = _TmpBinder(df)
                key = F.struct(*_order_keys_shared(c, _kb))
                df = _kb.df
                val = F.min_by(c, key) if a.fn == "min" else F.max_by(c, key)
                aggs.append(
                    F.when(_poisoned_by(c.isNull()), F.lit(None))
                    .otherwise(val)
                    .alias(a.alias)
                )
            elif a.fn == "group_concat":
                cs = c.cast("string")
                lexc = F.when(cs.startswith('"'), FN.lex(cs)).otherwise(cs)
                # the reference coerces each element via as_string_lit
                # (expression.rs:441-456): only simple/xsd:string/
                # lang-string literals qualify; an IRI, bnode, triple
                # term or non-string typed literal poisons the whole
                # aggregate to unbound (test.rs:854 "group_concat err").
                # Plain computed values count as simple literals.
                str_lit = F.when(
                    cs.startswith('"'),
                    FN.datatype(cs).isin(
                        f"{_XSD_NS}string",
                        f"{_RDF_NS}langString",
                        f"{_RDF_NS}dirLangString",
                    ),
                ).otherwise(~cs.rlike("^[<_]"))
                # DISTINCT dedups on the TERM (seen: HashSet<ResultTerm>),
                # so "a"@en and "a"@fr stay two elements even though
                # their contributed text is equal; collect (term, lex)
                # pairs and drop to lex after the distinct
                coll = F.collect_list(F.struct(cs.alias("t"), lexc.alias("l")))
                if a.distinct:
                    coll = F.array_distinct(coll)
                coll = F.transform(F.array_sort(coll), lambda x: x["l"])
                aggs.append(
                    F.when(
                        _poisoned_by(c.isNull() | ~str_lit),
                        F.lit(None).cast("string"),
                    )
                    .otherwise(
                        # result is an xsd:string literal (SparqlValue::
                        # from(concat), aggregate_iter.rs:396-400);
                        # element order is sorted for determinism across
                        # partitionings (collect_list order is not stable)
                        F.concat(
                            F.lit('"'),
                            F.concat_ws(a.sep, coll),
                            F.lit('"'),
                        )
                    )
                    .alias(a.alias)
                )
            elif a.fn == "sample":
                # SAMPLE is arbitrary per spec; the reference takes the
                # first non-error value (aggregate_iter.rs:336-341).  We
                # pick the order-key minimum so repeated runs agree
                # regardless of partitioning (errors sort last here).
                _kb = _TmpBinder(df)
                skey = F.struct(c.isNull(), *_order_keys_shared(c, _kb))
                df = _kb.df
                aggs.append(F.min_by(c, skey).alias(a.alias))
            else:
                raise A.SparqlError(f"unsupported aggregate {a.fn}")
        if group_by:
            if aggs:
                df = df.groupBy(*group_by).agg(*aggs)
            else:
                # GROUP BY with no aggregates: one solution per group,
                # binding only the group keys
                df = df.select(*group_by).dropDuplicates()
        else:
            df = df.agg(*aggs)
        for alias, emit in post_emit:
            # _opaque-pin the rendered term: a hoisted aggregate (e.g.
            # SELECT (SUM(?v)+1 AS ?y), HAVING(SUM(?v) > 1)) references
            # this column many times from its typed-numeric
            # decomposition, and CollapseProject would re-inline the
            # full SUM/AVG emission tree into every reference (janino
            # 64 KB overflow + compile-time heap OOM).  Nothing pushes
            # below a groupBy, so pinning costs no pushdown.
            df = df.withColumn(alias, _opaque(emit(F.col(alias))))

    if q.having is not None:
        hexpr, hmarks = q.having, []
        if _contains_exists(hexpr):
            df, hexpr = _rewrite_exists(ctx, df, hexpr, hmarks, maybe)
        b = _TmpBinder(df)
        hcond = _bool(hexpr, b.df, ctx.scoped(), b)
        df = b.df.filter(F.coalesce(hcond, F.lit(False)))
        drop = hmarks + b.names
        if drop:
            df = df.drop(*drop)

    if q.post_values is not None:
        # trailing VALUES joins AFTER aggregation/HAVING (§18.2.4.3) and
        # BEFORE SELECT expressions (§18.2.4.4) — so COUNT(*) over the
        # pattern is not inflated by the values rows, while
        # SELECT (?x+1 AS ?y) ... VALUES ?x { 1 } sees ?x bound
        pv = q.post_values
        vdf = ctx.all.sparkSession.createDataFrame(
            [tuple(r) for r in pv.rows],
            ", ".join(f"{n} string" for n in pv.names),
        )
        undef = {
            n
            for i, n in enumerate(pv.names)
            if any(r[i] is None for r in pv.rows)
        }
        df = B.join_bindings(df, vdf, nullable=undef)

    for e, alias in q.select_exprs:
        smarks: List[str] = []
        if _contains_exists(e):
            df, e = _rewrite_exists(ctx, df, e, smarks, maybe)
        b = _TmpBinder(df)
        sval = _term_col(e, b.df, b)
        if e.op not in ("var", "term"):
            sval = _opaque(sval)
        df = b.df.withColumn(alias, sval)
        drop = smarks + b.names
        if drop:
            df = df.drop(*drop)
        maybe.add(alias)

    if q.order_by:
        omarks: List[str] = []
        order_items = []
        for e, asc in q.order_by:
            if _contains_exists(e):
                df, e = _rewrite_exists(ctx, df, e, omarks, maybe)
            order_items.append((e, asc))
        keys = []
        b = _TmpBinder(df)
        for e, asc in order_items:
            # SPARQL value order for vars AND computed expressions alike
            # (exec.rs:826-893); order_key_any also orders plain computed
            # values (BIND arithmetic) correctly
            if e.op == "var" and e.args[0] in b.df.columns:
                c = F.col(e.args[0])
            else:
                c = b.bind(_term_col(e, b.df, b))
            for k in _order_keys_shared(c, b):
                keys.append(k if asc else k.desc())
        df = b.df.orderBy(*keys)
        drop = omarks + b.names
        if drop:
            df = df.drop(*drop)

    if q.variables:
        keep = [v for v in q.variables if v in df.columns]
        if gname and gname in df.columns and gname not in keep:
            keep.append(gname)  # the active-graph var stays visible
        df = df.select(*keep)
    else:
        # SELECT *: synthetic bnode-placeholder columns ('#bnq_…' for
        # query bnodes, '#anonN' for []) are existentials, not
        # projectable variables — drop them before DISTINCT/serialization
        synth = [c for c in df.columns if c.startswith("#")]
        if synth:
            df = df.drop(*synth)
    if q.distinct:
        df = df.dropDuplicates()
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df, maybe & set(df.columns)


def _reads_outside(node) -> bool:
    """Does the parsed query (any sub-node) call SERVICE or NOW()?"""
    if isinstance(node, A.ServiceClause):
        return True
    if isinstance(node, A.Expr) and node.op == "call":
        if node.args[0] == "NOW":
            return True
    if dataclasses.is_dataclass(node):
        return any(
            _reads_outside(getattr(node, f.name))
            for f in dataclasses.fields(node)
        )
    if isinstance(node, (list, tuple)):
        return any(_reads_outside(x) for x in node)
    return False


def query(triples: DataFrame, text: str, base: Optional[str] = None):
    """One-call API: `SparqlWrapper(&dataset).query(q)` equivalent
    (`sparql/src/wrapper.rs:20-85`).  Repeated ``(text, base)`` on the
    same ``triples`` frame reuses its logical plan (:mod:`..plan_cache`)
    behind a fresh ``where(TRUE)``, so every action recomputes.  ASK and
    SERVICE or NOW() queries are not reused: their plans embed a value
    computed at build time."""

    def build():
        parsed = A.parse_query(text, base)
        df = evaluate(triples, parsed)
        return df, isinstance(df, DataFrame) and not _reads_outside(parsed)

    df = plan(triples, (text, base), build)
    return df.where(F.lit(True)) if isinstance(df, DataFrame) else df
