"""Per-validator Catalyst rule builders.

Each builder compiles one schema leaf into a `CoreRule`:

* ``coerce(col) -> Column`` — the coerced output value, null when the value
  cannot be coerced;
* ``error(col, pos) -> Column`` — the FIRST failing check as a violation
  struct ``(rule_id, position, message, value)`` or null, evaluated in the
  same order as the reference validator raises (fail-fast per value,
  guyskk/validr `_validator_c.pyx` §2.3 of SURVEY.md);
* ``output_type`` — the Spark output type.

Everything here is a pure Column expression (JVM-side, whole-stage codegen).
The handful of validators whose coercion cannot be expressed in Catalyst with
exact reference parity (email, ipv6, timedelta, date/time/datetime with
Python strptime leniency) are built on a vectorized pandas UDF over the
`validr_spark.pyvalidate` backend — one Arrow batch at a time, never
row-at-a-time Python.  For email and default-format date/time/datetime
strings a native screen keeps the canonical values, which pyvalidate would
return unchanged, out of Python: only the rest cross the Arrow channel.

All expressions are ANSI-mode-safe (Spark 4 default): every fallible cast is
a try_cast, array access uses `get`/`try_element_at`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as st

from .errors import VALUE_CLIP, Invalid, SchemaError
from .pyvalidate import FALSE_VALUES, TRUE_VALUES, _enum_repr
from .pyvalidate import Compiler as PyCompiler
from .pyvalidate import builtin_validators

# ---------------------------------------------------------------------------
# violation struct helpers
# ---------------------------------------------------------------------------

VIOLATION_TYPE = st.StructType([
    st.StructField("rule_id", st.StringType()),
    st.StructField("position", st.StringType()),
    st.StructField("message", st.StringType()),
    st.StructField("value", st.StringType()),
])

def NULL_VIOLATION() -> Column:
    """Typed null violation (lazy: Column creation needs an active session)."""
    return F.lit(None).cast(VIOLATION_TYPE)


def _as_col(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def mkviol(rule_id, pos, message, value) -> Column:
    return F.struct(
        _as_col(rule_id).cast("string").alias("rule_id"),
        _as_col(pos).cast("string").alias("position"),
        _as_col(message).cast("string").alias("message"),
        _as_col(value).cast("string").alias("value"),
    )


def clip_str(col: Column) -> Column:
    """Shorten to 75 chars + '..' (reference pyx:20-23)."""
    return F.when(F.length(col) > VALUE_CLIP,
                  F.concat(F.substring(col, 1, VALUE_CLIP), F.lit("..")),
                  ).otherwise(col)


def value_repr(col: Column, input_type: st.DataType) -> Column:
    """Offending-value string: quoted+clipped for strings, str() otherwise."""
    if isinstance(input_type, st.StringType):
        return F.when(col.isNull(), F.lit("None")).otherwise(
            F.concat(F.lit("'"), clip_str(col), F.lit("'")))
    return F.when(col.isNull(), F.lit("None")).otherwise(
        clip_str(col.cast("string")))


@dataclass
class CoreRule:
    """Compiled rule of one schema node: a builder's core, or the whole
    node once ``SparkCompiler.compile_node`` has wrapped that core in the
    null/default/invalid_to semantics (a wrapped node has
    ``accept_string=False``)."""

    output_type: st.DataType
    coerce: Callable[[Column], Column]     # (col) -> coerced output
    # error(col, pos) -> violation struct | null. col is the RAW input.
    error: Callable[[Column, Column], Column]
    accept_string: bool = True    # '' counts as null for this rule
    # optional cheap boolean predicate: true iff error() would be non-null.
    # Containers use it to scan elements WITHOUT building a violation
    # struct per element (the struct is built once, for the first offender).
    invalid: Callable[[Column], Column] | None = None
    # optional WHOLE-ARRAY fast paths, defined on array<input_type> columns.
    # Catalyst lambda HOFs (transform/filter/exists) evaluate interpreted at
    # ~20µs/element; array_min/array_max/cast are tight JVM loops ~10×
    # faster, and the per-element HOF then runs only on flagged rows.
    # array_invalid(a) equals exists(a, invalid): is any element bad?
    array_invalid: Callable[[Column], Column] | None = None
    array_value: Callable[[Column], Column] | None = None     # coerce array


def chain(col: Column, pos: Column, input_type: st.DataType,
          checks: list[tuple[Column, str, object]], path: str) -> Column:
    """First failing check wins (validr is fail-fast within one value)."""
    vrepr = value_repr(col, input_type)
    out = NULL_VIOLATION()
    for fail_cond, rule_suffix, message in reversed(checks):
        rid = path + rule_suffix if rule_suffix.startswith("[") \
            else f"{path}.{rule_suffix}"
        out = F.when(fail_cond, mkviol(rid, pos, message, vrepr)).otherwise(out)
    return out


# ---------------------------------------------------------------------------
# scalar rule builders (expression backend)
# ---------------------------------------------------------------------------

_INT_STR_RE = r"\A\s*[+-]?\d+\s*\z"
LONG_MIN, LONG_MAX = -(2 ** 63), 2 ** 63 - 1
# value range of each integral Spark type, by its number of bits
_INTEGRAL_SPAN = {t: (-(2 ** (b - 1)), 2 ** (b - 1) - 1) for t, b in (
    (st.ByteType, 8), (st.ShortType, 16), (st.IntegerType, 32),
    (st.LongType, 64))}


def build_int(sc, schema, input_type, path):
    """int: accepts int/float/str/bool → LongType; bounds default ±(2^64−1).

    Bound checks beyond int64 are evaluated in DECIMAL(38,0); the stored
    output stays LongType (values beyond int64 fail coercion — documented
    divergence from Python's unbounded int, SURVEY.md §7 risks).
    """
    lo = int(schema.params.get("min", -(2 ** 64 - 1)))
    hi = int(schema.params.get("max", 2 ** 64 - 1))
    # fast path: integral input with int64-safe bounds → pure LONG math.
    # (decimal(38,0) per-element comparisons are ~10× slower in codegen and
    # the tokens[] hot loop runs this per token at 10^12-row scale.)
    integral_input = isinstance(
        input_type, (st.ByteType, st.ShortType, st.IntegerType, st.LongType,
                     st.BooleanType))
    fast = integral_input and LONG_MIN <= lo and hi <= LONG_MAX

    if isinstance(input_type, st.StringType):
        def coerce(col):
            return F.when(col.rlike(_INT_STR_RE),
                          F.trim(col).try_cast("decimal(38,0)")
                          ).otherwise(F.lit(None)).try_cast("long")

        def parsed(col):
            return F.when(col.rlike(_INT_STR_RE),
                          F.trim(col).try_cast("decimal(38,0)")
                          ).otherwise(F.lit(None))
    elif isinstance(input_type, (st.FloatType, st.DoubleType)):
        def coerce(col):
            ok = ~(F.isnan(col) | (F.abs(col) == float("inf")))
            # int() truncates toward zero
            return F.when(ok, col).otherwise(F.lit(None)).try_cast("long")

        def parsed(col):
            return coerce(col).cast("decimal(38,0)")
    else:  # integral / boolean / decimal
        def coerce(col):
            return col.try_cast("long")

        def parsed(col):
            return col.try_cast("long" if fast else "decimal(38,0)")

    def _bound_lit(v):
        return F.lit(v) if fast else F.lit(v).cast("decimal(38,0)")

    has_lo = lo > -(2 ** 64 - 1) or lo >= LONG_MIN
    has_hi = hi < 2 ** 64 - 1 or hi <= LONG_MAX

    def error(col, pos):
        v = parsed(col)
        checks = [(v.isNull(), "type", "invalid int")]
        if has_lo:
            checks.append((v < _bound_lit(lo), "min", f"value must >= {lo}"))
        if has_hi:
            checks.append((v > _bound_lit(hi), "max", f"value must <= {hi}"))
        return chain(col, pos, input_type, checks, path)

    def invalid(col):
        v = parsed(col)
        cond = v.isNull()
        if has_lo:
            cond = cond | (v < _bound_lit(lo))
        if has_hi:
            cond = cond | (v > _bound_lit(hi))
        return cond

    array_invalid = array_value = None
    if fast:
        # whole-array screen: bounds via array_min/array_max, which SKIP
        # nulls, so null elements need their own check.  array_contains
        # of a probe that breaks a bound is NULL exactly when the array
        # holds a NULL and not the probe, and finding the probe is a
        # violation anyway, so coalescing it to "array is not NULL" keeps
        # the screen exact.  Both are native loops; array_compact, the
        # fallback for boolean arrays and where no probe fits the element
        # type, plans as filter(x -> isnotnull(x)), an interpreted lambda
        # per element (PERF.md Finding 1).  The probe takes the element
        # type: a long literal would cast an array<int> on every row.
        t_lo, t_hi = _INTEGRAL_SPAN.get(type(input_type), (1, 0))
        probe = next((p for p in (lo - 1, hi + 1) if t_lo <= p <= t_hi),
                     None)

        def array_invalid(arr):
            # boolean arrays must compare on array<long> (boolean min/max
            # vs a long literal is a plan-time DATATYPE_MISMATCH); numeric
            # integral arrays compare directly — the cast would copy the
            # whole array per row for nothing.
            larr = (arr.cast("array<long>")
                    if isinstance(input_type, st.BooleanType) else arr)
            if probe is None:
                cond = F.size(F.array_compact(arr)) < F.size(arr)
            else:
                cond = F.coalesce(
                    F.array_contains(arr, F.lit(probe).cast(input_type)),
                    arr.isNotNull())
            if has_lo:
                cond = cond | (F.array_min(larr) < F.lit(lo))
            if has_hi:
                cond = cond | (F.array_max(larr) > F.lit(hi))
            return F.coalesce(cond, F.lit(False))

        def array_value(arr):
            return arr.cast("array<long>")

    return CoreRule(st.LongType(), coerce, error, invalid=invalid,
                    array_invalid=array_invalid, array_value=array_value)


def build_bool(sc, schema, input_type, path):
    if isinstance(input_type, st.BooleanType):
        def coerce(col):
            return col

        def error(col, pos):
            return NULL_VIOLATION()
    elif isinstance(input_type, st.StringType):
        trues = sorted(v for v in TRUE_VALUES if isinstance(v, str))
        falses = sorted(v for v in FALSE_VALUES if isinstance(v, str))

        def coerce(col):
            return (F.when(col.isin(trues), F.lit(True))
                    .when(col.isin(falses), F.lit(False)))

        def error(col, pos):
            return chain(col, pos, input_type,
                         [(~col.isin(trues + falses), "type", "invalid bool")],
                         path)
    else:  # numeric: only 0/1 accepted
        def coerce(col):
            return (F.when(col == 1, F.lit(True))
                    .when(col == 0, F.lit(False)))

        def error(col, pos):
            return chain(col, pos, input_type,
                         [(~col.isin(0, 1), "type", "invalid bool")], path)

    return CoreRule(st.BooleanType(), coerce, error)


def build_float(sc, schema, input_type, path):
    """DOCUMENTED DIVERGENCE (NaN): the reference ACCEPTS NaN through any
    bound (pyx:838-861 — Python NaN comparisons are all False, so its
    min/max checks can never fire), an artifact that would let NaN slip
    past every numeric gate into downstream aggregates at 10^12-row
    scale.  Under Spark's ordering NaN sorts ABOVE every double, so the
    same bound checks fire with an arbitrary bound message instead.
    Both are wrong in different ways; this engine rejects NaN explicitly
    and deterministically as 'invalid float' in BOTH backends (the
    pandas backend mirrors it in build_pyudf_rule — Arrow's NaN→null
    conversion would otherwise misreport it as 'required')."""
    lo = float(schema.params.get("min", -1.7976931348623157e308))
    hi = float(schema.params.get("max", 1.7976931348623157e308))
    exmin, exmax = schema.params.get("exmin", False), schema.params.get("exmax", False)
    if isinstance(exmin, (int, float)) and not isinstance(exmin, bool):
        lo, exmin = float(exmin), True
    if isinstance(exmax, (int, float)) and not isinstance(exmax, bool):
        hi, exmax = float(exmax), True

    def coerce(col):
        v = col.try_cast("double")
        return F.when(~F.isnan(v), v)

    def error(col, pos):
        v = col.try_cast("double")
        checks = [(v.isNull() | F.isnan(v), "type", "invalid float")]
        if exmin:
            checks.append((v <= lo, "min", "value must > %d" % lo))
        else:
            checks.append((v < lo, "min", "value must >= %d" % lo))
        if exmax:
            checks.append((v >= hi, "max", "value must < %d" % hi))
        else:
            checks.append((v > hi, "max", "value must <= %d" % hi))
        return chain(col, pos, input_type, checks, path)

    return CoreRule(st.DoubleType(), coerce, error)


_WS = r"[\s\u0085\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"


def _py_strip(col: Column) -> Column:
    """Python str.strip() equivalent (F.trim only strips ASCII spaces)."""
    return F.regexp_replace(F.regexp_replace(col, f"\\A{_WS}+", ""),
                            f"{_WS}+\\z", "")


def build_str(sc, schema, input_type, path, accept_any_object=False):
    minlen = int(schema.params.get("minlen", 0))
    maxlen = int(schema.params.get("maxlen", 1024 * 1024))
    strip = bool(schema.params.get("strip", False))
    escape = bool(schema.params.get("escape", False))
    match = schema.params.get("match")
    if match is not None:
        import re as _re
        try:
            _re.compile(match)
        except Exception as ex:
            raise SchemaError(f"match regex {match} compile failed") from ex

    str_input = isinstance(input_type, st.StringType)
    # str accepts int always; nstr accepts any object (cast to string)
    can_cast = accept_any_object or isinstance(
        input_type, (st.ByteType, st.ShortType, st.IntegerType, st.LongType,
                     st.BooleanType, st.NullType)) or str_input

    def base(col):
        s = col if str_input else col.cast("string")
        return _py_strip(s) if strip else s

    def coerce(col):
        if not can_cast:
            return F.lit(None).cast("string")
        s = base(col)
        if escape:
            for old, new in (("&", "&amp;"), (">", "&gt;"), ("<", "&lt;"),
                             ("'", "&#39;"), ('"', "&#34;")):
                s = F.replace(s, F.lit(old), F.lit(new))
        return s

    def error(col, pos):
        if not can_cast:
            return F.when(col.isNotNull(),
                          mkviol(f"{path}.type", pos, "invalid string",
                                 value_repr(col, input_type))
                          ).otherwise(NULL_VIOLATION())
        s = base(col)
        n = F.char_length(s)
        checks = []
        if minlen > 0:
            checks.append((n < minlen, "minlen",
                           f"string length must >= {minlen}"))
        checks.append((n > maxlen, "maxlen",
                       f"string length must <= {maxlen}"))
        if match is not None:
            target = coerce(col)  # escape applied before match (pyx:894-901)
            checks.append((~target.rlike(f"\\A(?:{match})\\z"), "match",
                           f"string not match regex {match}"))
        return chain(col, pos, input_type, checks, path)

    return CoreRule(st.StringType(), coerce, error)


def build_nstr(sc, schema, input_type, path):
    # same coercion core as str (int → str, other types rejected: the
    # reference's accept_object flag is never set by the nstr registration,
    # pyx:907); only null semantics differ: '' is NOT null-equivalent and
    # None stays None under optional.
    rule = build_str(sc, schema, input_type, path)
    rule.accept_string = False
    return rule


def build_bytes(sc, schema, input_type, path):
    minlen = int(schema.params.get("minlen", 0))
    maxlen = int(schema.params.get("maxlen", -1))
    is_bin = isinstance(input_type, st.BinaryType)

    def coerce(col):
        return col if is_bin else F.lit(None).cast("binary")

    def error(col, pos):
        if not is_bin:
            return F.when(col.isNotNull(),
                          mkviol(f"{path}.type", pos, "invalid bytes",
                                 value_repr(col, input_type))
                          ).otherwise(NULL_VIOLATION())
        n = F.octet_length(col)
        checks = []
        if minlen > 0:
            checks.append((n < minlen, "minlen",
                           f"bytes length must >= {minlen}"))
        if maxlen > -1:
            checks.append((n > maxlen, "maxlen",
                           f"bytes length must <= {maxlen}"))
        return chain(col, pos, input_type, checks, path)

    return CoreRule(st.BinaryType(), coerce, error, accept_string=False)


def build_enum(sc, schema, input_type, path):
    items = schema.items
    if not items:
        raise SchemaError("enum items not provided")
    expects = "{" + ", ".join(map(_enum_repr, items)) + "}"
    msg = f"expect one of {expects}"

    # Membership must follow PYTHON equality (reference: `value in
    # frozenset(items)`), not Spark's IN coercion, which casts across the
    # string/number boundary: over an all-string read schema, '1' would
    # match an int item 1 that the reference rejects.  Python equality
    # partitions: strings only equal strings; bool/int/float cross-equal
    # (True == 1 == 1.0) — which Spark's numeric-family coercion matches.
    if isinstance(input_type, st.StringType):
        cmp_items = [i for i in items if isinstance(i, str)]
    elif isinstance(input_type, (st.BooleanType, st.ByteType, st.ShortType,
                                 st.IntegerType, st.LongType, st.FloatType,
                                 st.DoubleType, st.DecimalType)):
        cmp_items = [i for i in items
                     if isinstance(i, (bool, int, float))]
    else:
        cmp_items = list(items)

    def member(col):
        if not cmp_items:
            # no item can equal a value of this type: every non-null
            # value is an enum violation
            return F.lit(False)
        return col.isin(cmp_items)

    def coerce(col):
        return F.when(member(col), col)

    def error(col, pos):
        return chain(col, pos, input_type,
                     [(~member(col), "enum", msg)], path)

    # reference enum uses default accept hints → '' counts as null
    return CoreRule(input_type, coerce, error)


def build_any(sc, schema, input_type, path):
    return CoreRule(input_type, lambda col: col,
                    lambda col, pos: NULL_VIOLATION(), accept_string=False)


# --- regex-factory validators (phone / idcard / slug) ----------------------

def make_regex_builder(name: str, pattern: str, default_maxlen: int):
    anchored = f"\\A(?:{pattern})\\z"

    def build(sc, schema, input_type, path):
        minlen = int(schema.params.get("minlen", 0))
        maxlen = int(schema.params.get("maxlen", default_maxlen))
        strip = bool(schema.params.get("strip", False))
        str_input = isinstance(input_type, st.StringType)

        def base(col):
            return _py_strip(col) if strip else col

        def coerce(col):
            if not str_input:
                return F.lit(None).cast("string")
            return base(col)

        def error(col, pos):
            if not str_input:
                return F.when(col.isNotNull(),
                              mkviol(f"{path}.type", pos,
                                     "value must be string",
                                     value_repr(col, input_type))
                              ).otherwise(NULL_VIOLATION())
            s = base(col)
            n = F.char_length(s)
            checks = []
            if minlen > 0:
                checks.append((n < minlen, "minlen",
                               f"{name} length must >= {minlen}"))
            checks.append((n > maxlen, "maxlen",
                           f"{name} length must <= {maxlen}"))
            checks.append((~s.rlike(anchored), name, f"invalid {name}"))
            return chain(col, pos, input_type, checks, path)

        return CoreRule(st.StringType(), coerce, error)

    return build


# --- network/identity validators (expression backend) ----------------------

_IPV4_RE = (r"\A((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
            r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\z")


def build_ipv4(sc, schema, input_type, path):
    """DOCUMENTED DIVERGENCE (message text only): the reference re-raises
    ``str(ipaddress.AddressValueError)`` verbatim (pyx:1067-1071) —
    CPython-internal strings ("Expected 4 octets in '0'", "Unexpected
    '/' in …") that change across CPython versions.  This backend emits
    the stable 'invalid ipv4 address' for every failure class; the
    accept/reject VERDICT is identical (tests/test_backend_matrix.py
    compares verdicts on ipv4 fields for this reason)."""
    def coerce(col):
        s = _py_strip(col)
        return F.when(s.rlike(_IPV4_RE), s)

    def error(col, pos):
        s = _py_strip(col)
        return chain(col, pos, input_type,
                     [(~s.rlike(_IPV4_RE), "ipv4", "invalid ipv4 address")],
                     path)

    return CoreRule(st.StringType(), coerce, error)


def build_uuid(sc, schema, input_type, path):
    version = schema.params.get("version")
    if version is None:
        msg = "invalid uuid"
    else:
        if version not in {1, 3, 4, 5}:
            raise SchemaError("illegal version number")
        msg = f"invalid uuid{version}"

    def hex32(col):
        # mirror uuid.UUID's normalization exactly (the reference calls
        # uuid.UUID(value.strip())): drop 'urn:'/'uuid:' anywhere, strip
        # braces at the ends, remove EVERY hyphen (uuid.UUID accepts
        # hyphens at any position, not just the canonical ones), then
        # require exactly 32 hex digits.
        s = _py_strip(col)
        s = F.regexp_replace(s, r"urn:|uuid:", "")
        s = F.regexp_replace(s, r"\A[{}]+|[{}]+\z", "")
        s = F.lower(F.regexp_replace(s, "-", ""))
        return F.when(s.rlike(r"\A[0-9a-f]{32}\z"), s)

    def coerce(col):
        h = hex32(col)
        canon = F.concat_ws(
            "-", F.substring(h, 1, 8), F.substring(h, 9, 4),
            F.substring(h, 13, 4), F.substring(h, 17, 4), F.substring(h, 21, 12))
        ok = h.isNotNull()
        if version is not None:
            ok = ok & (F.substring(h, 13, 1) == str(version))
        return F.when(ok, canon)

    def error(col, pos):
        h = hex32(col)
        bad = h.isNull()
        if version is not None:
            bad = bad | (F.substring(h, 13, 1) != str(version))
        return chain(col, pos, input_type, [(bad, "uuid", msg)], path)

    return CoreRule(st.StringType(), coerce, error)


_FQDN_RE = (r"\A(?:(?!-)[A-Za-z0-9-]{1,63}(?<!-)\.)+"
            r"(?!-)[A-Za-z0-9-]{1,63}(?<!-)\z")


def build_fqdn(sc, schema, input_type, path):
    def relative(col):
        s = F.regexp_replace(_py_strip(col), r"\.\z", "")
        return F.when(s.rlike(_FQDN_RE) & (F.char_length(s) <= 253), s)

    def coerce(col):
        return relative(col)

    def error(col, pos):
        return chain(col, pos, input_type,
                     [(relative(col).isNull(), "fqdn", "invalid fqdn")], path)

    return CoreRule(st.StringType(), coerce, error)


def build_url(sc, schema, input_type, path):
    allow = set(str(schema.params.get("scheme", "http https")).split())
    maxlen = int(schema.params.get("maxlen", 255))

    def coerce(col):
        s = _py_strip(col)
        scheme = F.lower(F.regexp_extract(s, r"\A([A-Za-z][A-Za-z0-9+.-]*):", 1))
        return F.when(scheme.isin(sorted(allow))
                      & (F.char_length(s) <= maxlen), s)

    def error(col, pos):
        s = _py_strip(col)
        scheme = F.lower(F.regexp_extract(s, r"\A([A-Za-z][A-Za-z0-9+.-]*):", 1))
        checks = [
            (F.char_length(s) > maxlen, "maxlen",
             f"url length must <= {maxlen}"),
            ((scheme == "") | ~scheme.isin(sorted(allow)), "scheme",
             f"invalid url scheme, expect {allow}"),
        ]
        return chain(col, pos, input_type, checks, path)

    return CoreRule(st.StringType(), coerce, error)


# ---------------------------------------------------------------------------
# pandas-UDF backend (email / ipv6 / timedelta / date / time / datetime)
# ---------------------------------------------------------------------------

# Native screens: true only for strings that pyvalidate accepts and returns
# unchanged, so those rows need no Python.  Strict on purpose: a value the
# screen rejects still gets the exact answer, from the UDF.
#   email: ASCII dot-atom local part of at most 64 chars; a lower-case LDH
#   domain of at least two labels, each 1-63 chars with no '--' (so no
#   'xn--' A-label, which IDNA decodes) and no edge hyphen, at most 253
#   chars, its TLD ending in a letter.  No whitespace: pyvalidate strips.
_EM_SCREEN_ATEXT = r"[a-zA-Z0-9_!#$%\&'*+/=?^`{|}~-]"
_EM_SCREEN_LABEL = r"(?=[a-z0-9-]{1,63}(?![a-z0-9-]))[a-z0-9]+(?:-[a-z0-9]+)*"
_EMAIL_SCREEN = (rf"\A(?=[^@]{{1,64}}@[^@]{{1,253}}\z)"
                 rf"{_EM_SCREEN_ATEXT}+(?:\.{_EM_SCREEN_ATEXT}+)*"
                 rf"@{_EM_SCREEN_LABEL}(?:\.{_EM_SCREEN_LABEL})+(?<=[a-z])\z")
#   date/time/datetime in their default formats: exactly the zero-padded
#   ASCII digits strftime writes back.  strptime also takes single-digit
#   fields, 1-5 digit %f, lower-case 't'/'z' and non-ASCII digits, and
#   rewrites them; strftime('%Y') leaves years below 1000 unpadded.
#   Day-of-month validity is left to Spark's strict string->date cast.
_SCREEN_DATE = r"[1-9][0-9]{3}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01])"
_SCREEN_TIME = r"(?:[01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]"
_DT_SCREENS = {   # validator -> (default format, pattern, has a date part)
    "date": ("%Y-%m-%d", _SCREEN_DATE, True),
    "time": ("%H:%M:%S", _SCREEN_TIME, False),
    "datetime": ("%Y-%m-%dT%H:%M:%S.%fZ",
                 rf"{_SCREEN_DATE}T{_SCREEN_TIME}\.[0-9]{{6}}Z", True),
}


def _native_screen(py_compiler, schema, input_type):
    """``screen(col) -> Column`` for the builtin email and default-format
    date/time/datetime validators over a string column, else None."""
    name = schema.validator
    if (not isinstance(input_type, st.StringType)
            or py_compiler.validators.get(name)
            is not builtin_validators.get(name)):
        return None
    if name == "email":
        return lambda col: col.rlike(_EMAIL_SCREEN)
    fmt, pattern, dated = _DT_SCREENS.get(name, (None, None, False))
    if fmt is None or schema.params.get("format", fmt) != fmt:
        return None

    def screen(col):
        ok = col.rlike(rf"\A{pattern}\z")
        if dated:   # rejects Feb 29 of a common year, Apr 31, ...
            ok = ok & col.substr(1, 10).try_cast("date").isNotNull()
        return ok

    return screen


def build_pyudf_rule(sc, schema, input_type, path,
                     output_type=st.StringType(), accept_string=True):
    """Vectorized Arrow-batch backend: exact reference parity for validators
    whose coercion Catalyst can't express (IDNA email, ipv6 compression,
    Go-duration strings, Python-strptime leniency).

    One Arrow-batched UDF per schema node (``_barrier.arrow_map`` over a
    per-value ``py_validate`` -> ``(value, message)``); the Spark-side
    wrapper still handles null/optional/default/invalid_to, so
    the UDF only sees the core check.

    Email and default-format date/time/datetime over a string column pass
    through a native screen first (``_native_screen``): a value it accepts
    is one pyvalidate returns unchanged, so it reaches Python as NULL and
    keeps its input as its value.  The screen sits in the UDF's argument
    and nowhere else: there it is evaluated once per row, while a CASE
    around the UDF changes nothing Python computes (PERF.md Finding 13)
    and a copy in each of the wrapper's CASE branches is evaluated once
    per branch (PERF.md Finding 22).
    """
    from .operators._barrier import arrow_map

    bare = schema.copy()
    for p in ("invalid_to", "invalid_to_default", "default", "desc",
              "object"):
        bare.params.pop(p, None)
    bare.params["optional"] = True  # wrapper handles required; keep core pure
    py_compiler = getattr(sc, "_py", None) or PyCompiler()
    py_validate = py_compiler.compile(bare)
    ret_type = st.StructType([
        st.StructField("value", output_type),
        st.StructField("message", st.StringType()),
    ])
    validator_name = schema.validator

    def check(raw):
        try:
            v = py_validate(raw)
        except Invalid as ex:
            return None, ex.message or f"invalid {validator_name}"
        # NaN-rejection mirror of the expression backend (see
        # build_float's DOCUMENTED DIVERGENCE): pyvalidate keeps the
        # reference's accept-NaN artifact, and Arrow's NaN→null
        # conversion would silently turn it into a 'required' misreport
        # here — reject it explicitly.
        if isinstance(v, float) and v != v:
            return None, f"invalid {validator_name}"
        return v, None

    def check_batch(series: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([check(raw) for raw in series],
                            columns=["value", "message"])

    screen = _native_screen(py_compiler, schema, input_type)

    def checked(col):
        return arrow_map(check_batch, ret_type,
                         col if screen is None else F.when(~screen(col), col))

    def coerce(col):
        res = checked(col)
        if screen is None:
            return res["value"]
        # a screened row comes back (NULL, NULL): its value is its input
        return F.coalesce(res["value"], F.when(res["message"].isNull(), col))

    def error(col, pos):
        msg = checked(col)["message"]
        return F.when(msg.isNotNull(),
                      mkviol(f"{path}.{validator_name}", pos, msg,
                             value_repr(col, input_type))
                      ).otherwise(NULL_VIOLATION())

    return CoreRule(output_type, coerce, error, accept_string=accept_string)


def build_timedelta(sc, schema, input_type, path):
    string_out = bool(schema.params.get("string", False))
    object_out = bool(schema.params.get("object", False))
    if string_out and object_out:
        raise SchemaError("can not output both string and object")
    if isinstance(input_type, (st.IntegerType, st.LongType, st.FloatType,
                               st.DoubleType)) and not string_out:
        # numeric seconds input, seconds output: pure expression path
        from .duration import format_duration as _fmt
        from .pyvalidate import _coerce_timedelta
        lo = schema.params.get("min")
        hi = schema.params.get("max")
        try:
            lo_s = _coerce_timedelta(lo).total_seconds() if lo is not None else None
        except Exception as ex:
            raise SchemaError("invalid min timedelta") from ex
        try:
            hi_s = _coerce_timedelta(hi).total_seconds() if hi is not None else None
        except Exception as ex:
            raise SchemaError("invalid max timedelta") from ex

        def coerce(col):
            v = col.try_cast("double")
            # NaN is not a duration: reference timedelta(seconds=nan)
            # raises -> Invalid; without this mask NaN would leak through
            # coerce and dodge the min check (NaN < lo is false)
            return F.when(~F.isnan(v), v)

        def error(col, pos):
            v = col.try_cast("double")
            checks = [(F.isnan(v), "timedelta", "invalid timedelta")]
            if lo_s is not None:
                import datetime as _dt
                checks.append((v < lo_s, "min", "value must >= " + _fmt(
                    _dt.timedelta(seconds=lo_s), extended=True)))
            if hi_s is not None:
                import datetime as _dt
                checks.append((v > hi_s, "max", "value must <= " + _fmt(
                    _dt.timedelta(seconds=hi_s), extended=True)))
            return chain(col, pos, input_type, checks, path)

        return CoreRule(st.DoubleType(), coerce, error)
    out_t = st.StringType() if string_out else st.DoubleType()
    return build_pyudf_rule(sc, schema, input_type, path, output_type=out_t)


BUILDERS = {
    "int": build_int,
    "bool": build_bool,
    "float": build_float,
    "str": build_str,
    "nstr": build_nstr,
    "bytes": build_bytes,
    "enum": build_enum,
    "any": build_any,
    "ipv4": build_ipv4,
    "uuid": build_uuid,
    "fqdn": build_fqdn,
    "url": build_url,
    "timedelta": build_timedelta,
    # pandas-UDF parity backends
    "email": build_pyudf_rule,
    "ipv6": build_pyudf_rule,
    "date": build_pyudf_rule,
    "time": build_pyudf_rule,
    "datetime": build_pyudf_rule,
    "phone": make_regex_builder("phone", r"((\+\d{2}\s?)|(\d{2}\s?))?1\d{10}", 15),
    "idcard": make_regex_builder("idcard", r"(\d{17}[\d|x|X])|(\d{15})", 18),
    "slug": make_regex_builder("slug", r"[a-z0-9]+(?:-[a-z0-9]+)*", 255),
}
