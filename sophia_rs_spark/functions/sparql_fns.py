"""SPARQL function library as Spark Column expressions (SURVEY.md §2.8).

Each helper mirrors a builtin from `sparql/src/function.rs:35-452`,
operating on the engine's canonical term encoding (one STRING column per
term).  Error semantics: SPARQL evaluation errors map to NULL (sophia
propagates errors as ``None``, `sparql/src/expression.rs` — same
poisoning behavior as SQL NULL), so every helper is total.

All expressions are built-in pyspark.sql.functions compositions —
JVM-side, codegen-friendly; no Python UDFs in this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..terms.model import _ESC_MAP as _LEX_ESC_MAP
from ..terms.model import RDF, XSD

# --- term structure accessors ----------------------------------------------


def kind(term: Column) -> Column:
    """Term kind discriminant (api/src/term.rs:47-58)."""
    return (
        F.when(term.startswith("_:"), F.lit(0))
        .when(term.startswith("<<("), F.lit(3))
        .when(term.startswith("<"), F.lit(1))
        .when(term.startswith('"'), F.lit(2))
        .when(term.startswith("?"), F.lit(4))
        .otherwise(F.lit(None).cast("int"))
    )


def is_iri(term: Column) -> Column:
    return kind(term) == 1


def is_blank(term: Column) -> Column:
    return kind(term) == 0


def is_literal(term: Column) -> Column:
    return kind(term) == 2


def is_triple(term: Column) -> Column:
    return kind(term) == 3


def str_(term: Column) -> Column:
    """STR(): IRI text or lexical form (function.rs:41)."""
    return (
        F.when(is_iri(term), F.regexp_extract(term, r"^<(.*)>$", 1))
        .when(is_literal(term), lex(term))
        .otherwise(F.lit(None).cast("string"))
    )


# The canonical encoder (terms/model.py escape_literal) emits a FIXED,
# finite escape set: \b \t \n \f \r \" \\ plus \uXXXX for the remaining
# C0 controls, DEL and U+FFFE/U+FFFF.  Decoding JVM-side is therefore a
# chain of literal replaces; '\\' goes through a \x00 sentinel first
# (raw NUL cannot appear in encoded text — it would itself be escaped),
# so '\\n' correctly decodes to backslash+n, not newline.
_LEX_DECODE = sorted(
    ((esc, ch) for ch, esc in _LEX_ESC_MAP.items() if ch != "\\"),
    key=lambda t: t[0],
)


def escape_lex(s_col: Column) -> Column:
    """JVM-side canonical literal escaping (terms/model.escape_literal):
    backslash doubled first, then the finite escape set; gated on a
    needs-escape probe so clean strings skip the replace chain."""
    enc = F.replace(s_col, F.lit("\\"), F.lit("\\\\"))
    for _ch, _esc in _LEX_ESC_MAP.items():
        if _ch == "\\":
            continue
        enc = F.replace(enc, F.lit(_ch), F.lit(_esc))
    return F.when(
        s_col.rlike('[\\x00-\\x1F\\x7F"\\\\￾￿]'), enc
    ).otherwise(s_col)


def lex(term: Column) -> Column:
    """Lexical form of a literal: full ECHAR/UCHAR decode of the canonical
    escape set (JVM-side; the per-row chain only runs for literals that
    actually contain a backslash)."""
    raw = F.regexp_extract(term, r'^"((?:[^"\\]|\\.)*)"', 1)
    dec = F.replace(raw, F.lit("\\\\"), F.lit("\x00"))
    for esc, ch in _LEX_DECODE:
        dec = F.replace(dec, F.lit(esc), F.lit(ch))
    dec = F.replace(dec, F.lit("\x00"), F.lit("\\"))
    return F.when(raw.contains("\\"), dec).otherwise(raw)


def lang(term: Column) -> Column:
    """LANG() (function.rs:54): tag without direction; '' for plain."""
    return F.when(
        is_literal(term),
        F.regexp_extract(term, r'"@([A-Za-z0-9-]+?)(?:--(?:ltr|rtl))?$', 1),
    ).otherwise(F.lit(None).cast("string"))


def datatype(term: Column) -> Column:
    """DATATYPE() (function.rs:78) with the implicit-type rules.

    Regex-free: in the canonical encoding nothing follows a literal's
    CLOSING quote except ``@tag[--dir]`` or ``^^<dt>`` (tags are
    alphanumeric, datatype IRIs cannot contain a raw quote), so the
    text after the LAST ``"`` fully determines the datatype — plain
    substring ops instead of three regexes on the per-row hot path
    (datatype() runs for every comparison operand)."""
    suffix = F.substring_index(term, '"', -1)
    explicit = F.when(
        suffix.startswith("^^<")
        & suffix.endswith(">")
        & (F.length(suffix) > 4),
        F.substring(suffix, F.lit(4), F.length(suffix) - 4),
    )
    has_tag = suffix.startswith("@")
    has_dir = has_tag & (suffix.endswith("--ltr") | suffix.endswith("--rtl"))
    return F.when(~is_literal(term), F.lit(None).cast("string")).otherwise(
        F.when(explicit.isNotNull(), explicit)
        .when(has_dir, F.lit(f"{RDF}dirLangString"))
        .when(has_tag, F.lit(f"{RDF}langString"))
        .otherwise(F.lit(f"{XSD}string"))
    )


def iri_term(iri_text: Column) -> Column:
    """IRI()/URI() constructor (function.rs:84)."""
    return F.concat(F.lit("<"), iri_text, F.lit(">"))


def lang_dir(term: Column) -> Column:
    """LANGDIR() (function.rs:476-486): base direction of a dirLangString
    ('ltr'/'rtl'), '' for any other literal, error (NULL) otherwise."""
    return F.when(
        is_literal(term), F.regexp_extract(term, r'"@[A-Za-z0-9-]+--(ltr|rtl)$', 1)
    ).otherwise(F.lit(None).cast("string"))


def has_lang(term: Column) -> Column:
    """hasLANG() (function.rs:488-494): true iff language-tagged literal
    (false, not error, for non-literals)."""
    return F.coalesce(term.rlike(r'"@[A-Za-z0-9-]+(?:--(?:ltr|rtl))?$'), F.lit(False))


def has_lang_dir(term: Column) -> Column:
    """hasLANGDIR() (function.rs:496-505)."""
    return F.coalesce(term.rlike(r'"@[A-Za-z0-9-]+--(?:ltr|rtl)$'), F.lit(False))


def strlangdir(lex_c: Column, tag: Column, dir_: Column) -> Column:
    """STRLANGDIR() (function.rs:349-357, :901-925); NULL for a direction
    other than ltr/rtl (invalid-argument error)."""
    return F.when(
        dir_.isin("ltr", "rtl"),
        F.concat(F.lit('"'), lex_c, F.lit('"@'), F.lower(tag), F.lit("--"), dir_),
    ).otherwise(F.lit(None).cast("string"))


_XSD_DT = f"{XSD}dateTime"
_TZ_SUFFIX_RE = r"(Z|[+-][0-9][0-9]:[0-9][0-9])$"


def _dt_lex(term: Column) -> Column:
    """Lexical form of an xsd:dateTime literal, NULL otherwise."""
    return F.when(
        datatype(term) == _XSD_DT, F.regexp_extract(term, r'^"([^"]*)"', 1)
    ).otherwise(F.lit(None).cast("string"))


def tz(term: Column) -> Column:
    """TZ() (function.rs:849-858): timezone designator of an xsd:dateTime
    as a simple string ('' when naive), error (NULL) for non-dateTime."""
    lexv = _dt_lex(term)
    return F.when(
        lexv.isNotNull(), F.regexp_extract(lexv, _TZ_SUFFIX_RE, 1)
    ).otherwise(F.lit(None).cast("string"))


def timezone_duration(term: Column) -> Column:
    """TIMEZONE() (function.rs:823-846): timezone offset of an
    xsd:dateTime as an xsd:dayTimeDuration literal; error (NULL) for
    naive datetimes / non-dateTime terms."""
    suffix = tz(term)
    sign = F.when(suffix.startswith("-"), F.lit("-")).otherwise(F.lit(""))
    h = F.substring(suffix, 2, 2).try_cast("int")
    m = F.substring(suffix, 5, 2).try_cast("int")
    lex_dur = F.when(suffix == "Z", F.lit("PT0S")).otherwise(
        F.when(
            (h > 0) & (m > 0),
            F.concat(sign, F.lit("PT"), h.cast("string"), F.lit("H"), m.cast("string"), F.lit("M")),
        )
        .when((h > 0), F.concat(sign, F.lit("PT"), h.cast("string"), F.lit("H")))
        .when((m > 0), F.concat(sign, F.lit("PT"), m.cast("string"), F.lit("M")))
        .otherwise(F.lit("PT0S"))
    )
    return F.when(
        suffix.isNotNull() & (suffix != ""),
        F.concat(F.lit('"'), lex_dur, F.lit('"^^<'), F.lit(f"{XSD}dayTimeDuration"), F.lit(">")),
    ).otherwise(F.lit(None).cast("string"))


def triple_term(s: Column, p: Column, o: Column) -> Column:
    """TRIPLE() constructor (function.rs:399-404): the canonical
    triple-term encoding; NULL if any slot is NULL or the subject/
    predicate kinds are invalid (s: IRI/bnode/tt, p: IRI)."""
    ok = (is_iri(s) | is_blank(s) | is_triple(s)) & is_iri(p) & kind(o).isNotNull()
    return F.when(
        ok, F.concat(F.lit("<<( "), s, F.lit(" "), p, F.lit(" "), o, F.lit(" )>>"))
    ).otherwise(F.lit(None).cast("string"))


def strdt(lex_c: Column, dt_iri: Column) -> Column:
    """STRDT() (function.rs:359)."""
    return F.when(
        dt_iri == f"{XSD}string", F.concat(F.lit('"'), lex_c, F.lit('"'))
    ).otherwise(F.concat(F.lit('"'), lex_c, F.lit('"^^<'), dt_iri, F.lit(">")))


def strlang(lex_c: Column, tag: Column) -> Column:
    """STRLANG() (function.rs:340); canonical lowercase tag."""
    return F.concat(F.lit('"'), lex_c, F.lit('"@'), F.lower(tag))


# --- numeric value layer ----------------------------------------------------

_NUMERIC_DTS = [
    f"{XSD}integer",
    f"{XSD}decimal",
    f"{XSD}double",
    f"{XSD}float",
    f"{XSD}int",
    f"{XSD}long",
    f"{XSD}short",
    f"{XSD}byte",
    f"{XSD}nonNegativeInteger",
    f"{XSD}positiveInteger",
    f"{XSD}negativeInteger",
    f"{XSD}nonPositiveInteger",
    f"{XSD}unsignedLong",
    f"{XSD}unsignedInt",
    f"{XSD}unsignedShort",
    f"{XSD}unsignedByte",
]


def lex_num(term: Column) -> Column:
    """RAW lexical (single regexp, escapes NOT decoded) for NUMERIC
    parsing: a valid numeric lexical never contains an escape, and an
    escape-bearing one fails the downstream try_cast / regex / INF
    match exactly like its decoded form would.  The full ~20-step
    escape decode (:func:`lex`) would otherwise be re-emitted into
    every numeric plane and blow janino's 64 KB method budget on
    arithmetic-heavy stages."""
    return F.regexp_extract(term, r'^"((?:[^"\\]|\\.)*)"', 1)


def is_numeric(term: Column) -> Column:
    """isNUMERIC (function.rs:383): numeric datatype AND valid lexical."""
    return datatype(term).isin(_NUMERIC_DTS) & numeric_value(term).isNotNull()


def numeric_value(term: Column) -> Column:
    """Typed numeric value (DOUBLE) with NULL on error — the SPARQL value
    layer (`sparql/src/value/_number.rs`) flattened to double for
    comparisons; exact decimal paths use ``decimal_value``."""
    return F.when(
        datatype(term).isin(_NUMERIC_DTS), lex_num(term).try_cast("double")
    ).otherwise(F.lit(None).cast("double"))


def decimal_value(term: Column) -> Column:
    """DECIMAL(38,10) view for exact integer/decimal arithmetic
    (documented deviation: >38 digits overflow to NULL, SURVEY.md §1.4)."""
    return F.when(
        datatype(term).isin(_NUMERIC_DTS), lex_num(term).try_cast("decimal(38,10)")
    ).otherwise(F.lit(None).cast("decimal(38,10)"))


# --- typed numeric tower (value/_number.rs) ----------------------------------
#
# The reference keeps computed numbers TYPED (NativeInt/BigInt/Decimal/
# Float/Double, `sparql/src/value/_number.rs:5-11`) and promotes on
# arithmetic (int∘int→int, int∘dec→dec, anything∘float→float, ∘double→
# double; int/int and dec/dec division → decimal with a zero check;
# float/double division is IEEE — INF, no error).  Here a typed number
# is a (rank, decimal view, double view) triple of Columns; rank 0 =
# integer (incl. derived types), 1 = decimal, 2 = float, 3 = double.
# Rendering matches `value.rs:130-171` + `dec2string` (value.rs:239-246):
# integers plain, decimals normalized with a mandatory fraction digit,
# float/double in Rust `{:e}` style with INF/-INF/NaN specials.

_DEC_T = "decimal(38,10)"
_INT_RANK_DTS = [
    d
    for d in _NUMERIC_DTS
    if d not in (f"{XSD}decimal", f"{XSD}double", f"{XSD}float")
]
_INT_LEX_RE = r"^[+-]?\d+$"
_DEC_LEX_RE = r"^[+-]?(\d+(\.\d*)?|\.\d+)$"


# --- suffix-dispatch numeric probe (r6 optimization) -------------------------
#
# The per-row numeric decomposition (datatype() + lex_num() +
# num_rank_parts()) was the TOP cost of the headline SPARQL bench:
# substring_index's backward scan, a 13-IRI isin and an rlike per row.
# In the canonical encoding nothing follows a literal's CLOSING quote
# except ``@tag[--dir]`` or ``^^<dt>`` (datatype IRIs cannot contain a
# raw quote), so a term carries numeric datatype D iff it ENDS WITH the
# constant string ``"^^<D>`` — a suffix compare that fails on the first
# byte for non-matching terms (plain literals end in ``"``, tags in
# letters).  The matched suffix's CONSTANT width then yields the lexical
# by substring arithmetic instead of a regex, and lexical validity is
# checked with translate() residues instead of rlike — all exactly
# equivalent to the regex forms (proven by the function battery +
# test_num_probe_equivalence).

_NUM_DT_DISPATCH = [
    # (suffix, rank-class, octet width) — frequency-ordered: the
    # canonical encoders emit integer/decimal/double overwhelmingly
    (f'"^^<{XSD}{name}>', {"decimal": 1, "double": 3, "float": 2}.get(name, 0))
    for name in (
        "integer", "decimal", "double", "float",
        "int", "long", "short", "byte",
        "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
]


def num_term_probe(cs: Column) -> Column:
    """``struct(k, w)`` of a literal term's numeric datatype via suffix
    dispatch: ``k`` = rank class (0 int family, 1 decimal, 2 float,
    3 double), ``w`` = the ``"^^<dt>`` suffix's octet width; NULL when
    the term has no numeric datatype suffix (plain/tagged/other-typed
    literals, IRIs, bnodes, triple terms, plain computed values)."""
    chain = None
    for sfx, k in _NUM_DT_DISPATCH:
        br = F.struct(F.lit(k).alias("k"), F.lit(len(sfx)).alias("w"))
        chain = (
            F.when(cs.endswith(sfx), br)
            if chain is None
            else chain.when(cs.endswith(sfx), br)
        )
    return chain


def num_lex_at(cs: Column, w: Column) -> Column:
    """RAW lexical of a numeric-datatyped term given its probe width:
    everything between the opening quote and the ``"^^<dt>`` suffix.
    Octet arithmetic: a VALID numeric lexical is pure ASCII, where
    octets = chars; a multi-byte lexical over-extracts into the suffix
    and then fails every validity check, exactly like its regex-checked
    form would (multi-byte is never numeric-valid)."""
    return F.substring(cs, 2, F.octet_length(cs) - w - 1)


def int_lex_valid(l: Column) -> Column:
    """Regex-free ``^[+-]?\\d+$`` (translate residue): all chars digits
    except an optional LEADING sign, at least one digit."""
    res = F.translate(l, "0123456789", "")
    return ((res == "") & (l != "")) | (
        res.isin("+", "-")
        & (F.substring(l, 1, 1) == res)
        & (F.octet_length(l) > 1)
    )


def dec_lex_valid(l: Column) -> Column:
    """Regex-free ``^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)$``: the non-digit
    residue (order-preserving) must be sign?dot?, the sign leading, and
    at least one digit present."""
    res = F.translate(l, "0123456789", "")
    sign_head = F.substring(res, 1, 1).isin("+", "-")
    return (
        res.isin("", ".", "+", "-", "+.", "-.")
        & (F.octet_length(l) > F.octet_length(res))
        & (~sign_head | (F.substring(l, 1, 1) == F.substring(res, 1, 1)))
    )


def fp_lex_valid(l: Column) -> Column:
    """float/double lexical validity — same test num_rank_parts uses."""
    return l.try_cast("double").isNotNull() | l.isin("INF", "-INF", "NaN")


def num_rank_probe(k: Column, l: Column) -> Column:
    """Rank from a :func:`num_term_probe` class + lexical — the fast
    twin of ``num_rank_parts(datatype(t), lex_num(t))``."""
    return (
        F.when(k == 0, F.when(int_lex_valid(l), F.lit(0)))
        .when(k == 1, F.when(dec_lex_valid(l), F.lit(1)))
        .when(k == 2, F.when(fp_lex_valid(l), F.lit(2)))
        .when(k == 3, F.when(fp_lex_valid(l), F.lit(3)))
        .cast("int")
    )


def num_rank_parts(dt: Column, l: Column) -> Column:
    """:func:`num_rank` over pre-computed datatype/lexical columns —
    callers on per-row hot paths (exact SUM decomposition) materialize
    datatype(term)/lex_num(term) ONCE and pass them in, so the trees
    are not re-inlined into every consumer."""
    fp_ok = l.try_cast("double").isNotNull() | l.isin("INF", "-INF", "NaN")
    return (
        F.when(dt.isin(_INT_RANK_DTS) & l.rlike(_INT_LEX_RE), F.lit(0))
        .when((dt == f"{XSD}decimal") & l.rlike(_DEC_LEX_RE), F.lit(1))
        .when((dt == f"{XSD}float") & fp_ok, F.lit(2))
        .when((dt == f"{XSD}double") & fp_ok, F.lit(3))
        .otherwise(F.lit(None).cast("int"))
    )


def num_rank(term: Column) -> Column:
    """Promotion rank of a numeric literal TERM: 0 integer, 1 decimal,
    2 float, 3 double; NULL for non-numeric datatypes or ill-typed
    lexicals (→ expression error, `as_number` returning None)."""
    return num_rank_parts(datatype(term), lex_num(term))


def num_dbl_parts(l: Column) -> Column:
    """:func:`num_dbl` over a pre-computed lexical column."""
    return (
        F.when(l == "INF", F.lit(float("inf")))
        .when(l == "-INF", F.lit(float("-inf")))
        .when(l == "NaN", F.lit(float("nan")))
        .otherwise(l.try_cast("double"))
    )


def num_dbl(term: Column) -> Column:
    """Double view of a numeric literal term, honoring the XSD INF/-INF/
    NaN specials (which try_cast alone would miss)."""
    return num_dbl_parts(lex_num(term))


def integer_lexical(dec: Column) -> Column:
    """Canonical xsd:integer lexical of an (integral) decimal value."""
    return F.regexp_replace(dec.cast("string"), r"\.0*$", "")


def decimal_lexical(dec: Column) -> Column:
    """`dec2string` (value.rs:239-246): normalized, with a mandatory
    fraction digit — Decimal(3) → "3.0", Decimal(1.60) → "1.6"."""
    s = F.regexp_replace(dec.cast("string"), r"(\.\d*?)0+$", "$1")
    s = F.regexp_replace(s, r"\.$", ".0")
    # a scale-0 decimal (e.g. F.round's return type) stringifies with
    # no point at all — the mandatory fraction digit still applies
    return F.when(s.contains("."), s).otherwise(F.concat(s, F.lit(".0")))


def double_e_lexical(d: Column) -> Column:
    """Rust ``{:e}`` rendering of a double (value.rs:145-148): shortest
    mantissa (no trailing zeros, no '.' for integral mantissas) + 'e' +
    unpadded exponent — "5e0", "1.6e0", "1e2", "1.23e-4"; INF/-INF/NaN
    specials.  Derived purely from the JVM's shortest-repr string, so
    the conversion is exact (no float re-arithmetic)."""
    s = d.cast("string")
    sign = F.when(s.startswith("-"), F.lit("-")).otherwise(F.lit(""))
    b = F.regexp_replace(s, "^-", "")
    has_e = b.contains("E")
    # scientific Java repr ("1.23E-4"): mantissa already normalized
    mant_e = F.regexp_replace(F.regexp_extract(b, r"^([0-9.]+)E", 1), r"\.0$", "")
    exp_e = F.regexp_extract(b, r"E(-?\d+)$", 1)
    # plain Java repr ("123.45", "0.001"): shift the point
    ipart = F.regexp_extract(b, r"^(\d+)\.", 1)
    fpart = F.regexp_extract(b, r"\.(\d+)$", 1)
    digits = F.regexp_replace(F.concat(ipart, fpart), "^0+", "")
    lead_zeros = F.length(fpart) - F.length(F.regexp_replace(fpart, "^0+", ""))
    exp_p = F.when(ipart != "0", F.length(ipart) - 1).otherwise(-(lead_zeros + 1))
    dtrim = F.regexp_replace(digits, "0+$", "")
    rest = F.substring(dtrim, 2, 2147483646)
    mant_p = F.when(
        F.length(rest) > 0,
        F.concat(F.substring(dtrim, 1, 1), F.lit("."), rest),
    ).otherwise(F.substring(dtrim, 1, 1))
    mant = F.when(has_e, mant_e).otherwise(mant_p)
    exp = F.when(has_e, exp_e.cast("int")).otherwise(exp_p)
    return (
        F.when(s == "Infinity", F.lit("INF"))
        .when(s == "-Infinity", F.lit("-INF"))
        .when(s == "NaN", F.lit("NaN"))
        .when(
            (~has_e) & (digits == ""),
            F.concat(sign, F.lit("0e0")),  # ±0.0
        )
        .otherwise(F.concat(sign, mant, F.lit("e"), exp.cast("string")))
    )


def _bignum_parse(a: str):
    """Numeric lexical (integer or decimal form) → scaled int (m, s)
    with value = m / 10**s.  Exact — no float round-trip."""
    if "." in a:
        ip, _, fp = a.partition(".")
        neg = ip.startswith("-")
        m = int((ip or ("-0" if neg else "0")) + fp or "0")
        return m, len(fp)
    return int(a), 0


def _bignum_render(m: int, s: int, decimal_style: bool) -> str:
    """Scaled int → canonical lexical.  Integer style = plain digits;
    decimal style = `dec2string` (mandatory single fraction digit,
    trailing zeros stripped: "3.0", "1.6")."""
    while s > 0 and m % 10 == 0:
        m //= 10
        s -= 1
    if s == 0:
        return f"{m}.0" if decimal_style else str(m)
    digits = str(abs(m)).rjust(s + 1, "0")
    sign = "-" if m < 0 else ""
    return f"{sign}{digits[:-s]}.{digits[-s:]}"


def _bignum_div(num: int, den: int):
    """``num/den`` as (mantissa, scale): EXACT when the quotient
    terminates (reduced denominator has only 2/5 factors), else rounded
    at 100 significant digits — the bigdecimal crate's default
    precision, which is what the reference's Decimal÷Decimal
    (`value/_number.rs`) divides with.  den must be nonzero."""
    import decimal
    import math

    if den < 0:
        num, den = -num, -den
    g = math.gcd(abs(num), den)
    num, den = num // g, den // g
    d2, e2, e5 = den, 0, 0
    while d2 % 2 == 0:
        d2 //= 2
        e2 += 1
    while d2 % 5 == 0:
        d2 //= 5
        e5 += 1
    if d2 == 1:
        k = max(e2, e5)
        return num * 2 ** (k - e2) * 5 ** (k - e5), k
    with decimal.localcontext() as cx:
        cx.prec = 100
        q = decimal.Decimal(num) / decimal.Decimal(den)
    t = format(q, "f")
    if "." in t:
        t = t.rstrip("0").rstrip(".")
    return _bignum_parse(t)


def bigop(sym: str, l: Column, r: Column, rank: Column = None) -> Column:
    """Exact big-number arithmetic on lexical strings (the
    `value/_number.rs` BigInt/BigDecimal plane: Rust num_bigint there,
    Python scaled-int arbitrary precision here, Arrow-batched).
    ``l``/``r`` are integer or decimal lexicals; callers NULL-mask the
    inputs so the UDF sees values only for the rare rows whose
    decimal(38,10) plane overflowed — the Arrow transfer for the
    common all-NULL case is near-free.  ``rank`` (when given) selects
    the output style per row: 0 → integer lexical, 1 → canonical
    decimal lexical.  '+','-','*' are exact at any width; '/' is EXACT
    whenever the quotient terminates, else rounded at 100 significant
    digits — the bigdecimal crate's default precision, which is what
    the reference's Decimal÷Decimal divides with (zero divisor → NULL
    = error).  Unary 'CEIL'/'FLOOR'/'ROUND' (r ignored) mirror the
    decimal plane's semantics (ROUND = half away from zero, like
    Spark's ROUND on the in-range decimal view)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def run(lc: pd.Series, rc: pd.Series, kc: pd.Series) -> pd.Series:
        import decimal

        out = []
        for a, b, k in zip(lc, rc, kc):
            if a is None or (b is None and sym in "+-*/"):
                out.append(None)
                continue
            dec_style = (int(k) == 1) if k is not None else (sym == "/")
            try:
                ma, sa = _bignum_parse(a)
                if sym in ("+", "-", "*"):
                    mb, sb = _bignum_parse(b)
                    if sym == "*":
                        m, s = ma * mb, sa + sb
                    else:
                        s = max(sa, sb)
                        ma, mb = ma * 10 ** (s - sa), mb * 10 ** (s - sb)
                        m = ma + mb if sym == "+" else ma - mb
                    out.append(_bignum_render(m, s, dec_style))
                elif sym == "/":
                    mb, sb = _bignum_parse(b)
                    if mb == 0:
                        out.append(None)
                        continue
                    # value = (ma·10^sb) / (mb·10^sa)
                    mq, sq = _bignum_div(ma * 10**sb, mb * 10**sa)
                    out.append(_bignum_render(mq, sq, True))
                elif sym in ("CEIL", "FLOOR", "ROUND"):
                    t = 10**sa
                    if sym == "CEIL":
                        m = -((-ma) // t)
                    elif sym == "FLOOR":
                        m = ma // t
                    else:  # half away from zero (= the dec plane)
                        m = (abs(ma) + t // 2) // t * (1 if ma >= 0 else -1)
                    out.append(_bignum_render(m, 0, dec_style))
                else:
                    out.append(None)
            except (ValueError, decimal.InvalidOperation):
                out.append(None)
        return pd.Series(out, dtype=object)

    run.__annotations__ = {
        "lc": pd.Series, "rc": pd.Series, "kc": pd.Series, "return": pd.Series
    }
    if rank is None:
        rank = F.lit(None).cast("int")
    if r is None:
        r = F.lit(None).cast("string")
    return pandas_udf(run, "string")(l, r, rank)


def canon_int_lex(lex_col: Column) -> Column:
    """Integer lexical → canonical form: drop '+', strip leading zeros
    (keeping one digit), normalize -0 to 0."""
    c = F.regexp_replace(lex_col, r"^\+", "")
    c = F.regexp_replace(c, r"^(-?)0+(?=\d)", "$1")
    return F.when(c == "-0", F.lit("0")).otherwise(c)


SUM_LIMBS = 7
_LIMB_W = 18
_SUM_DIGITS = SUM_LIMBS * _LIMB_W  # 126 digits, scaled by 10^10


def sum_limb_parts(lexv: Column, rank: Column, parts=None):
    """Exact-SUM decomposition of a rank≤1 numeric lexical (the
    aggregate twin of the scalar BigInt/BigDecimal plane,
    `value/_number.rs`): the value ×10^10 as a 126-digit string
    (``digits``, NULL unless in range), its ``sign`` (±1), and
    ``monster`` — the raw lexical for the (absurdly rare) elements
    beyond 116 integer digits or 10 fraction digits, which the caller
    collects and folds exactly at emit time.  Summing fixed-width
    digit LIMBS of this decomposition distributes perfectly: each limb
    is an independent decimal(38,0) SUM with map-side partial
    aggregation, and 18-digit limbs leave 10^20 rows of headroom."""
    # regex-free decomposition: this runs per ROW on the SUM hot path,
    # and under the rank<=1 gate the lexical is a valid integer/decimal
    # (optional sign, digits, at most one '.') — substring ops suffice
    neg, ip, fr = parts if parts is not None else num_lex_parts(lexv)
    digits = F.concat(ip, F.rpad(fr, 10, "0"))
    in_range = (
        (rank <= 1)
        & (F.octet_length(fr) <= 10)
        & (F.octet_length(digits) <= _SUM_DIGITS)
    )
    sign = F.when(neg, F.lit(-1)).otherwise(F.lit(1))
    monster = F.when((rank <= 1) & ~in_range, lexv)
    return (
        F.when(in_range, F.lpad(digits, _SUM_DIGITS, "0")),
        sign,
        monster,
    )


def num_lex_parts(lexv: Column):
    """``(neg, ip, fr)`` split of a numeric lexical (sign flag, integer
    digits, fraction digits) — shared by the SUM decompositions.
    ``substring_index(…, -1)`` showed up as the TOP hot frame when this
    split was re-inlined at every use site (UTF8String.rfind scans per
    evaluation); callers pin ``ip``/``fr`` once per row and pass them
    back via ``parts``."""
    neg = lexv.startswith("-")
    signed = neg | lexv.startswith("+")
    mag = F.when(signed, F.substring(lexv, 2, 2_000_000)).otherwise(lexv)
    has_dot = mag.contains(".")
    ip = F.when(has_dot, F.substring_index(mag, ".", 1)).otherwise(mag)
    fr = F.when(has_dot, F.substring_index(mag, ".", -1)).otherwise(F.lit(""))
    return neg, ip, fr


def sum_fast_part(lexv: Column, rank: Column, parts=None) -> Column:
    """Single-limb fast plane of the exact-SUM decomposition (r5: the
    limb machinery was 60% of the headline bench).  For rank≤1 values
    with ≤10 fraction digits and |v| < 10^8 — the overwhelmingly common
    case, where the scaled value v×10^10 fits ONE 18-digit limb — this
    is the value ×10^10 as a plain signed decimal(38,0); NULL routes
    the row to the full 126-digit limb decomposition instead.  Summing
    this column is value-identical to summing the low limb (the higher
    limbs of such values are provably zero), but skips the per-row
    126-digit string build entirely.  The scaled value is assembled
    with NATIVE LONG arithmetic (integer part ×10^10 + right-padded
    fraction) — exact by construction under the ≤8-integer-digit /
    ≤10-fraction-digit gates, and several times cheaper per row than a
    BigDecimal parse + multiply (jstack showed MutableBigInteger in
    the hot loop)."""
    neg, ip, fr = parts if parts is not None else num_lex_parts(lexv)
    # pure LONG arithmetic (native, no BigDecimal parse/multiply — this
    # runs per row on the SUM hot path): |v| < 10^8 with ≤10 fraction
    # digits keeps ip*10^10 + frac < 10^18, far from long overflow
    ok = (
        (rank <= 1)
        & (F.octet_length(ip) <= 8)
        & (F.octet_length(fr) <= 10)
    )
    ipl = ip.try_cast("long")
    frl = F.rpad(fr, 10, "0").try_cast("long")
    # a rank≤1 lexical is a valid integer/decimal, but stay defensive:
    # each part must parse or be empty ("12.", ".5"), not both empty
    good = (
        (ipl.isNotNull() | (ip == ""))
        & (frl.isNotNull() | (fr == ""))
        & ((ip != "") | (fr != ""))
    )
    val = F.coalesce(ipl, F.lit(0).cast("long")) * F.lit(10**10).cast(
        "long"
    ) + F.coalesce(frl, F.lit(0).cast("long"))
    return F.when(
        ok & good, F.when(neg, -val).otherwise(val)
    ).cast("decimal(38,0)")


_ZERO_LIMB_STR = "0" * _LIMB_W


def sum_limb(digits: Column, sign: Column, i: int) -> Column:
    """The i-th (least-significant-first) 18-digit limb of a
    :func:`sum_limb_parts` decomposition, as a signed decimal(38,0).
    All-zero limbs (every limb but the last, for typical short values)
    short-circuit on a string compare instead of a decimal parse."""
    start = _SUM_DIGITS - _LIMB_W * (i + 1) + 1
    sub = F.substring(digits, start, _LIMB_W)
    return F.when(
        sub == _ZERO_LIMB_STR, F.lit(0).cast("decimal(38,0)")
    ).otherwise(sub.cast("decimal(38,0)") * sign)


def sum_limbs_combine(limbs: Column) -> Column:
    """JVM fast-path recombination of summed limbs → the exact total
    ×10^10 as decimal(38,0), or NULL when the total needs the big
    plane (overflow / any limb beyond the third nonzero)."""
    scaled = F.try_add(
        F.try_add(
            limbs[0],
            F.try_multiply(
                limbs[1], F.lit(str(10**_LIMB_W)).cast("decimal(38,0)")
            ),
        ),
        F.try_multiply(
            limbs[2],
            F.lit(str(10 ** (2 * _LIMB_W))).cast("decimal(38,0)"),
        ),
    )
    higher_zero = None
    for i in range(3, SUM_LIMBS):
        z = F.coalesce(limbs[i], F.lit(0).cast("decimal(38,0)")) == 0
        higher_zero = z if higher_zero is None else (higher_zero & z)
    return F.when(higher_zero, scaled)


def bigsum_emit(avg: bool, limbs: Column, monsters: Column,
                n: Column, rank: Column,
                extra: Column = None) -> Column:
    """Arrow-batched exact finalizer for the (rare) SUM/AVG groups the
    JVM limb recombination cannot represent: Python arbitrary-precision
    fold of the limb sums plus any monster elements; AVG divides at 50
    significant digits (the BigDecimal division contract).  Inputs are
    NULL-masked by the caller so the common path transfers empty Arrow
    columns.  ``monsters`` is an array of ``struct(l, n)`` — the monster
    lexical and its multiplicity n (the collapsed row count; n ≡ 1 when
    not collapsed, and for each element of a DISTINCT set).  Returns
    the result lexical (integer style at rank 0 for SUM, decimal style
    otherwise);
    NULL = poison (a limb sum overflowed decimal(38), needing >10^20
    rows — reported as unbound)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def run(lc: pd.Series, mc: pd.Series, nc: pd.Series,
            kc: pd.Series, xc: pd.Series) -> pd.Series:
        import decimal

        out = []
        for ls, ms, n_, k, xv in zip(lc, mc, nc, kc, xc):
            if ls is None or n_ is None or k is None:
                out.append(None)
                continue
            try:
                if any(x is None for x in ls):
                    out.append(None)  # limb-sum overflow: poison
                    continue
                m_tot = sum(int(x) * 10 ** (_LIMB_W * i)
                            for i, x in enumerate(ls))
                # the single-limb fast plane's partial sum (already
                # scaled ×10^10; NULL when the group had no fast rows)
                if xv is not None:
                    m_tot += int(xv)
                s_tot = 10
                for mrec in (ms if ms is not None else []):
                    mm, ss = _bignum_parse(mrec["l"])
                    mm *= int(mrec["n"])
                    s2 = max(s_tot, ss)
                    m_tot = m_tot * 10 ** (s2 - s_tot) + mm * 10 ** (s2 - ss)
                    s_tot = s2
                if avg:
                    mq, sq = _bignum_div(m_tot, int(n_) * 10**s_tot)
                    out.append(_bignum_render(mq, sq, True))
                else:
                    out.append(_bignum_render(m_tot, s_tot, int(k) == 1))
            except (ValueError, decimal.InvalidOperation):
                out.append(None)
        return pd.Series(out, dtype=object)

    run.__annotations__ = {
        "lc": pd.Series, "mc": pd.Series, "nc": pd.Series,
        "kc": pd.Series, "xc": pd.Series, "return": pd.Series,
    }
    if extra is None:
        extra = F.lit(None).cast("decimal(38,0)")
    return pandas_udf(run, "string")(limbs, monsters, n, rank, extra)


def canon_dec_lex(lex_col: Column) -> Column:
    """Decimal lexical → canonical `dec2string` form: drop '+', ensure
    one integer digit and one fraction digit, strip redundant zeros
    ("+00.50" → "0.5"; "5" → "5.0"; ".5" → "0.5"; "-0.0" → "0.0")."""
    c = F.regexp_replace(lex_col, r"^\+", "")
    c = F.when(c.contains("."), c).otherwise(F.concat(c, F.lit(".0")))
    c = F.regexp_replace(c, r"^(-?)\.", "$10.")
    c = F.regexp_replace(c, r"(\.\d*?)0*$", "$1")
    c = F.regexp_replace(c, r"\.$", ".0")
    c = F.regexp_replace(c, r"^(-?)0+(?=\d)", "$1")
    return F.when(c == "-0.0", F.lit("0.0")).otherwise(c)


def typed_num_term(
    rank: Column, dec: Column, dbl: Column, big: Column = None
) -> Column:
    """(rank, dec, dbl[, big]) → canonical numeric literal term
    (value.rs lexical_form + the rank's datatype); NULL rank → NULL
    (error).  ``big``, when given and non-NULL, carries the exact
    lexical for values beyond the decimal(38) plane (integer lexical at
    rank 0, canonical decimal lexical at rank 1)."""
    int_lex = integer_lexical(dec) if big is None else F.coalesce(
        big, integer_lexical(dec)
    )
    dec_lex = decimal_lexical(dec) if big is None else F.coalesce(
        big, decimal_lexical(dec)
    )
    return (
        F.when(
            rank == 0,
            F.concat(F.lit('"'), int_lex, F.lit(f'"^^<{XSD}integer>')),
        )
        .when(
            rank == 1,
            F.concat(F.lit('"'), dec_lex, F.lit(f'"^^<{XSD}decimal>')),
        )
        .when(
            rank == 2,
            F.concat(F.lit('"'), double_e_lexical(dbl), F.lit(f'"^^<{XSD}float>')),
        )
        .when(
            rank == 3,
            F.concat(F.lit('"'), double_e_lexical(dbl), F.lit(f'"^^<{XSD}double>')),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def int_term(c: Column) -> Column:
    """Plain integral value → canonical "n"^^xsd:integer (NULL-safe)."""
    return F.when(
        c.isNotNull(),
        F.concat(F.lit('"'), c.cast("long").cast("string"), F.lit(f'"^^<{XSD}integer>')),
    )


# --- XSD constructor casts (SPARQL-exact, not Spark-cast) -------------------


def xsd_boolean(term: Column) -> Column:
    """xsd:boolean(): 'true'/'1' → true, 'false'/'0' → false, numeric
    non-zero → true; anything else → NULL (function.rs:426-451 + XSD)."""
    l = lex(term)
    return (
        F.when(l.isin("true", "1"), F.lit(True))
        .when(l.isin("false", "0"), F.lit(False))
        .when(
            datatype(term).isin(_NUMERIC_DTS) & numeric_value(term).isNotNull(),
            numeric_value(term) != 0.0,
        )
        .otherwise(F.lit(None).cast("boolean"))
    )


def xsd_integer(term: Column) -> Column:
    """xsd:integer(): strict integer lexical (no float syntax) or
    truncation of numeric values; NULL on error."""
    l = lex(term)
    dt = datatype(term)
    return (
        F.when(l == "true", F.lit(1).cast("long"))
        .when(l == "false", F.lit(0).cast("long"))
        .when(
            dt.isin(f"{XSD}string", f"{XSD}integer") & l.rlike(r"^[+-]?\d+$"),
            l.try_cast("long"),
        )
        .when(dt.isin(_NUMERIC_DTS), numeric_value(term).try_cast("long"))
        .otherwise(F.lit(None).cast("long"))
    )


def xsd_double(term: Column) -> Column:
    l = lex(term)
    return (
        F.when(l == "true", F.lit(1.0))
        .when(l == "false", F.lit(0.0))
        .otherwise(l.try_cast("double"))
    )


def xsd_decimal(term: Column) -> Column:
    """xsd:decimal(): exact decimal lexical or boolean mapping; numeric
    SOURCE TYPES (float/double/integer literals) cast by VALUE (XPath
    casting — INF/NaN error to NULL); a plain string like '1e3' is not
    a decimal lexical and errors."""
    l = lex(term)
    return (
        F.when(l == "true", F.lit(1).cast("decimal(38,10)"))
        .when(l == "false", F.lit(0).cast("decimal(38,10)"))
        .when(l.rlike(r"^[+-]?(\d+(\.\d*)?|\.\d+)$"), l.try_cast("decimal(38,10)"))
        .when(
            datatype(term).isin(_NUMERIC_DTS),
            numeric_value(term).try_cast("decimal(38,10)"),
        )
        .otherwise(F.lit(None).cast("decimal(38,10)"))
    )


def xsd_datetime(term: Column) -> Column:
    """xsd:dateTime() constructor: lexical → timestamp, NULL on error."""
    return lex(term).try_cast("timestamp")


# --- EBV / boolean layer ----------------------------------------------------


def ebv(term: Column) -> Column:
    """Effective boolean value (value.rs:107-115 ``is_truthy``):
    booleans by value, numerics non-zero AND non-NaN, simple/xsd:string
    non-empty; language-TAGGED strings, dateTimes and everything else
    are a type error → NULL (row dropped by Filter, matching
    error-poisoning in exec.rs:597-625)."""
    dt = datatype(term)
    nv = numeric_value(term)
    return (
        F.when(dt == f"{XSD}boolean", xsd_boolean(term))
        .when(dt.isin(_NUMERIC_DTS), (nv != 0.0) & ~F.isnan(nv))
        .when(dt == f"{XSD}string", F.length(lex(term)) > 0)
        .otherwise(F.lit(None).cast("boolean"))
    )


# --- SPARQL ORDER BY key ----------------------------------------------------


def order_key(term: Column):
    """Composite sort key implementing SPARQL ordering (exec.rs:826-893 +
    api/src/term.rs:413-471): unbound first, then kind, then typed
    numeric value for comparable literals, then datatype/lang, then
    lexical form.  Use as ``df.orderBy(*order_key(col))``."""
    return [
        term.isNotNull(),  # unbound (NULL) sorts first
        kind(term),
        F.when(is_numeric(term), numeric_value(term)).otherwise(F.lit(None)),
        *int_order_keys(datatype(term), lex(term)),
        datatype(term),
        lang(term),
        F.when(is_literal(term), lex(term)).otherwise(term),
    ]


def int_order_keys_probe(k: Column, lx: Column) -> list:
    """:func:`int_order_keys` over a :func:`num_term_probe` class and
    probe lexical — ``k == 0`` is exactly ``dt.isin(_INT_RANK_DTS)``
    and :func:`int_lex_valid` exactly the ``_INT_LEX_RE`` rlike."""
    is_int = (k == 0) & int_lex_valid(lx)
    canon = canon_int_lex(lx)
    neg = canon.startswith("-")
    digits = F.regexp_replace(canon, r"^-", "")
    sign = F.when(is_int, F.when(neg, F.lit(0)).otherwise(F.lit(1)))
    dlen = F.when(neg, -F.octet_length(digits)).otherwise(F.octet_length(digits))
    dcmp = F.when(neg, F.translate(digits, "0123456789", "9876543210")).otherwise(
        digits
    )
    return [sign, F.when(is_int, dlen), F.when(is_int, dcmp)]


def int_order_keys(dt: Column, lx: Column) -> list:
    """Exact integer ordering components — the classic bignum sort key
    (sign, signed digit-count, digit-complemented magnitude), pure
    JVM expressions.  NULL (no effect) unless the operand is an
    integer-datatyped literal with an integer lexical; used as a
    refinement AFTER the double-valued key, whose 53-bit mantissa
    cannot distinguish large integers (the BigInt plane's exact
    compare, value/_number.rs partial_cmp)."""
    is_int = dt.isin(_INT_RANK_DTS) & lx.rlike(_INT_LEX_RE)
    canon = canon_int_lex(lx)
    neg = canon.startswith("-")
    digits = F.regexp_replace(canon, r"^-", "")
    sign = F.when(is_int, F.when(neg, F.lit(0)).otherwise(F.lit(1)))
    # negative: longer magnitude sorts FIRST (more negative) → negate
    # the length; digit-complement flips lexicographic order
    dlen = F.when(neg, -F.octet_length(digits)).otherwise(F.octet_length(digits))
    dcmp = F.when(neg, F.translate(digits, "0123456789", "9876543210")).otherwise(
        digits
    )
    return [sign, F.when(is_int, dlen), F.when(is_int, dcmp)]


def order_key_any(c: Column):
    """:func:`order_key` for columns that may hold PLAIN computed values
    (BIND of arithmetic, native numeric aggregates) alongside canonical
    terms.  Plain values order like simple literals of their value: the
    numeric key is taken from either plane (term literal through the
    SPARQL numeric layer, plain value through cast), everything else
    over the simple-literal wrapping.  This is the key `sparql_order_by`
    uses for MIN/MAX and ORDER BY (exec.rs:826-893,
    aggregate_iter.rs:274-308)."""
    cs = c.cast("string")
    t = F.when(cs.rlike('^["<_]'), cs).otherwise(
        F.concat(F.lit('"'), cs, F.lit('"'))
    )
    nv = F.when(cs.startswith('"'), numeric_value(cs)).otherwise(
        cs.try_cast("double")
    )
    return [
        c.isNotNull(),
        kind(t),
        nv,
        *int_order_keys(datatype(t), lex(t)),
        datatype(t),
        lang(t),
        F.when(is_literal(t), lex(t)).otherwise(t),
    ]
