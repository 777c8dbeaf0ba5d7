"""Row-level (driver / Arrow-batch) validator backend.

A pure-Python interpreter for the schema tree with the same observable
semantics as the reference engine (guyskk/validr `_validator_c.pyx`).  In the
Spark engine this backend is used ONLY:

* at compile time, to pre-validate ``default`` / ``invalid_to`` params
  (reference pyx:361-378) and raise ``SchemaError`` before any job runs;
* inside **vectorized pandas UDFs** for the handful of validators whose
  coercion is not expressible as Catalyst expressions (email, ipv6,
  timedelta, lenient datetime) — one compiled closure applied over an Arrow
  batch, never per-row Python in the driver plan;
* by the model layer (`validr_spark.model`) and by differential tests.

The hot path of the engine is `validr_spark.compiler`, which emits Catalyst
Column expressions instead.
"""

from __future__ import annotations

import datetime
import ipaddress
import re
import sys
import time as _time
import typing
import uuid as _uuid
from copy import copy
from functools import lru_cache
from urllib.parse import urlparse, urlunparse

from .duration import DurationError, format_duration, parse_duration
from .errors import Invalid, SchemaError, mark_index, mark_key
from .schema import Schema

__all__ = ["Compiler", "validator", "builtin_validators",
           "create_re_validator", "create_enum_validator"]


def _is_empty(value) -> bool:
    return value is None or value == ""


def _is_mapping(obj) -> bool:
    # duck-typed mapping check (reference pyx:196-199)
    return hasattr(obj, "__getitem__") and hasattr(obj, "get")


def _hints(hints):
    if not isinstance(hints, (tuple, set, list)):
        hints = [hints]
    has_str = any(h is str for h in hints)
    has_obj = any(h is not str for h in hints)
    return has_str, has_obj


def validator(string=None, *, accept=None, output=None):
    """Create a validator from a factory ``f(compiler, **params) -> validate``.

    Handles the cross-cutting params (``optional, default, desc, invalid_to,
    invalid_to_default, object``) exactly like the reference's @validator
    wrapper (pyx:269-453): "null" means None (plus '' for string-accepting
    validators); null + default → default, null + optional → null-output
    ('' for string-output validators, None otherwise), null otherwise →
    Invalid('required'); invalid_to / invalid_to_default substitute a
    pre-validated fallback instead of raising.
    """
    if accept:
        accept_string, accept_object = _hints(accept)
    else:
        accept_string = accept_object = True
    if output:
        output_string, output_object = _hints(output)
    else:
        output_string, output_object = bool(string), not string

    def decorator(f):
        def build(compiler, schema):
            params = schema.params.copy()
            if schema.items is not None:
                params["items"] = schema.items
            out_object = output_object
            if output_string and output_object:
                out_object = bool(params.get("object", None))
                if schema.validator == "timedelta":
                    out_object = not bool(params.get("string", None))
            if output_object and "object" in params:
                params["output_object"] = bool(params.pop("object", None))
            null_output = None if out_object else ""
            optional = bool(params.pop("optional", False))
            default = params.pop("default", None)
            params.pop("desc", None)
            invalid_to_default = bool(params.pop("invalid_to_default", False))
            has_invalid_to = "invalid_to" in params
            invalid_to = params.pop("invalid_to", None)
            if accept_string:
                has_default = not _is_empty(default)
            else:
                has_default = default is not None
            if has_invalid_to and invalid_to_default:
                raise SchemaError(
                    "can not set both invalid_to and invalid_to_default")
            if invalid_to_default and not has_default and not optional:
                raise SchemaError(
                    "default or optional must be set when set invalid_to_default")
            try:
                core = f(compiler, **params)
            except TypeError as ex:
                raise SchemaError(str(ex)) from None
            if has_default:
                try:
                    default = core(default)
                except Invalid:
                    raise SchemaError(
                        f"invalid default value {default!r}") from None
                if invalid_to_default:
                    invalid_to = default
            elif invalid_to_default:
                invalid_to = null_output
            if has_invalid_to:
                try:
                    invalid_to = core(invalid_to)
                except Invalid:
                    raise SchemaError(
                        f"invalid invalid_to value {invalid_to!r}") from None
            suppress = has_invalid_to or invalid_to_default

            def guarded(value):
                is_null = _is_empty(value) if accept_string else value is None
                if is_null:
                    if has_default:
                        return default
                    if optional:
                        return null_output
                    raise Invalid("required")
                if not accept_object and not isinstance(value, str):
                    raise Invalid("require string value")
                result = core(value)
                is_null = _is_empty(result) if accept_string else result is None
                if is_null:
                    if has_default:
                        return default
                    if optional:
                        return null_output
                    raise Invalid("required")
                return result

            def validate(value):
                try:
                    return guarded(value)
                except Invalid as ex:
                    ex.set_value(value)
                    if suppress:
                        return invalid_to
                    raise

            validate.__schema__ = schema
            validate.__name__ = f"{f.__name__}<{schema.repr(prefix=False, desc=False)}>"
            validate.__doc__ = f.__doc__ or schema.params.get("desc")
            return validate

        def entry(compiler, schema):
            try:
                return build(compiler, schema)
            except SchemaError as ex:
                ex.set_value(schema)
                raise

        entry.is_string = entry.output_string = output_string
        entry.accept_string = accept_string
        entry.accept_object = accept_object
        entry.output_object = output_object
        entry.validator = f
        entry.__name__ = f.__name__
        entry.__doc__ = f.__doc__
        return entry

    return decorator


# ---------------------------------------------------------------------------
# containers
# ---------------------------------------------------------------------------

_UNHASHABLE_MSG = "unable to check unique for non-hashable types"


def _unique_key_fn(schema):
    """Deep-equality key for list.unique (reference pyx:459-489)."""
    if schema is None:
        raise SchemaError(_UNHASHABLE_MSG)
    if schema.validator == "dict":
        if schema.items is None:
            raise SchemaError(_UNHASHABLE_MSG)
        subs = [(k, _unique_key_fn(v)) for k, v in schema.items.items()]
        return lambda v: tuple(fn(v[k]) for k, fn in subs)
    if schema.validator == "list":
        if schema.items is None:
            raise SchemaError(_UNHASHABLE_MSG)
        inner = _unique_key_fn(schema.items)
        return lambda v: tuple(inner(x) for x in v)
    return lambda v: v


@validator(accept=typing.Iterable, output=typing.List)
def list_validator(compiler, items=None, minlen=0, maxlen=1024, unique=False):
    inner = None
    if items is not None:
        with mark_index():
            inner = compiler.compile(items)
    key_fn = _unique_key_fn(items) if unique else None

    def validate(value):
        try:
            pairs = enumerate(value)
        except TypeError:
            raise Invalid("not list") from None
        out, seen, i = [], set(), -1
        for i, x in pairs:
            if i >= maxlen:
                raise Invalid(f"list length must <= {maxlen}")
            with mark_index(i):
                v = inner(x) if inner is not None else copy(x)
                if key_fn is not None:
                    k = key_fn(v)
                    if k in seen:
                        raise Invalid("not unique")
                    seen.add(k)
            out.append(v)
        if minlen > 0 and i + 1 < minlen:
            raise Invalid(f"list length must >= {minlen}")
        return out

    return validate


def _slim(d: dict) -> dict:
    return {k: v for k, v in d.items() if not _is_empty(v)}


@validator(accept=(typing.Mapping, typing.Any), output=dict)
def dict_validator(compiler, items=None, key=None, value=None,
                   minlen=0, maxlen=1024, slim=False):
    fields = None
    if items is not None:
        fields = []
        for k, v in items.items():
            with mark_key(k):
                fields.append((k, compiler.compile(v)))
    key_check = value_check = None
    if key is not None:
        with mark_key("$self_key"):
            key_check = compiler.compile(key)
    if value is not None:
        with mark_key("$self_value"):
            value_check = compiler.compile(value)
    dynamic = bool(key_check or value_check)

    def validate(data):
        if fields is None and not dynamic:
            if not _is_mapping(data):
                raise Invalid("must be dict")
            if len(data) > maxlen:
                raise Invalid(f"dict length must <= {maxlen}")
            if minlen > 0 and len(data) < minlen:
                raise Invalid(f"dict length must >= {minlen}")
            return _slim(data) if slim else copy(data)
        if _is_mapping(data):
            get = lambda obj, k: obj.get(k, None)  # noqa: E731
            if dynamic:
                if len(data) > maxlen:
                    raise Invalid(f"dict length must <= {maxlen}")
                if minlen > 0 and len(data) < minlen:
                    raise Invalid(f"dict length must >= {minlen}")
        else:
            get = lambda obj, k: getattr(obj, k, None)  # noqa: E731
            if dynamic:
                raise Invalid("dynamic dict not allowed non-dict value")
        out = {}
        if fields is not None:
            for k, check in fields:
                with mark_key(k):
                    out[k] = check(get(data, k))
        if dynamic:
            for k in map(str, set(data) - set(out)):
                if key_check:
                    with mark_key("$self_key"):
                        k = str(key_check(k))
                with mark_key(k):
                    v = get(data, k)
                    out[k] = value_check(v) if value_check is not None else copy(v)
        return _slim(out) if slim else out

    return validate


@validator(accept=(typing.Mapping, typing.Any), output=object)
def model_validator(compiler, items=None):
    if items is None:
        raise SchemaError("model class not provided")
    return lambda value: items(value)


def _enum_repr(value):
    if value is None:
        return "null"
    if value is False:
        return "false"
    if value is True:
        return "true"
    if isinstance(value, str):
        return repr(value)
    return str(value)


@validator(output=object)
def enum_validator(compiler, items):
    if not items:
        raise SchemaError("enum items not provided")
    expects = "{" + ", ".join(map(_enum_repr, items)) + "}"
    allowed = frozenset(items)

    def validate(value):
        if value in allowed:
            return value
        raise Invalid(f"expect one of {expects}")

    return validate


def _no_optional_or_default(schema):
    if schema.params.get("optional") or schema.params.get("default") is not None:
        raise SchemaError("not allowed optional or default for union schemas")


def union_validator(compiler, schema):
    if not schema.items:
        raise SchemaError("union schemas not provided")
    if schema.params.get("default") is not None:
        raise SchemaError("not allowed default for union schema")
    by = schema.params.get("by")
    if isinstance(schema.items, list):
        if by is not None:
            raise SchemaError("not allowed 'by' argument for union list schema")
        return _union_by_shape(compiler, schema)
    if isinstance(schema.items, dict):
        if not by:
            raise SchemaError("required 'by' argument for union dict schema")
        if not isinstance(by, str):
            raise SchemaError("'by' argument must be str type for union schema")
        return _union_by_tag(compiler, schema)
    raise SchemaError("union schemas type invalid")


def _union_by_shape(compiler, schema):
    branches = {"scalar": None, "list": None, "dict": None}
    for i, sub in enumerate(schema.items):
        with mark_index(i):
            if sub.validator == "union":
                raise SchemaError("ambiguous union schema")
            _no_optional_or_default(sub)
            if schema.params.get("optional"):
                sub = sub.copy()
                sub.params["optional"] = True
            shape = ("list" if sub.validator == "list"
                     else "dict" if sub.validator in ("dict", "model")
                     else "scalar")
            if branches[shape] is not None:
                raise SchemaError("ambiguous union schema")
            branches[shape] = compiler.compile(sub)

    def validate(value):
        if isinstance(value, list):
            if branches["list"] is None:
                raise Invalid("not allowed list")
            return branches["list"](value)
        if _is_mapping(value) or hasattr(value, "__asdict__"):
            if branches["dict"] is None:
                raise Invalid("not allowed dict")
            return branches["dict"](value)
        if value is None:
            picked = (branches["scalar"] or branches["list"] or branches["dict"])
            return picked(value)
        if branches["scalar"] is None:
            raise Invalid("not allowed scalar value")
        return branches["scalar"](value)

    validate.__schema__ = schema
    return validate


@validator(accept=object, output=object)
def _union_by_tag_impl(compiler, items, by):
    inners = {}
    for tag, sub in items.items():
        with mark_key(tag):
            if sub.validator not in ("dict", "model"):
                raise SchemaError("must be dict or model schema")
            _no_optional_or_default(sub)
            inners[tag] = (sub.validator == "model", compiler.compile(sub))
    expect = "{" + ", ".join(sorted(inners)) + "}"

    def validate(value):
        get = ((lambda o, k: o.get(k, None)) if _is_mapping(value)
               else (lambda o, k: getattr(o, k, None)))
        with mark_key(by):
            tag = get(value, by)
            if not tag:
                raise Invalid("required", value=tag)
            info = inners.get(tag)
            if info is None:
                raise Invalid(f"expect one of {expect}", value=tag)
        is_model, inner = info
        result = inner(value)
        if not is_model:
            result[by] = tag
        return result

    return validate


def _union_by_tag(compiler, schema):
    return _union_by_tag_impl(compiler, schema)


@validator(accept=object, output=object)
def any_validator(compiler, **_ignore):
    """Accept any non-null value."""
    return copy


# ---------------------------------------------------------------------------
# scalars
# ---------------------------------------------------------------------------

MAX_INT = 2 ** 64 - 1


@validator(accept=(int, float, str), output=int)
def int_validator(compiler, min=-MAX_INT, max=MAX_INT):
    lo, hi = int(min), int(max)

    def validate(value):
        try:
            v = int(value)
        except Exception:
            raise Invalid("invalid int") from None
        if v < lo:
            raise Invalid(f"value must >= {lo}")
        if v > hi:
            raise Invalid(f"value must <= {hi}")
        return v

    return validate


TRUE_VALUES = frozenset({
    True, 1, "1", "True", "true", "TRUE",
    "Yes", "yes", "YES", "y", "Y", "On", "on", "ON",
})
FALSE_VALUES = frozenset({
    False, 0, "0", "False", "false", "FALSE",
    "No", "no", "NO", "n", "N", "Off", "off", "OFF",
})


@validator(accept=(bool, int, str), output=bool)
def bool_validator(compiler):
    def validate(value):
        if value in TRUE_VALUES:
            return True
        if value in FALSE_VALUES:
            return False
        raise Invalid("invalid bool")

    return validate


@validator(accept=(int, float, str), output=float)
def float_validator(compiler, min=-sys.float_info.max,
                    max=sys.float_info.max, exmin=False, exmax=False):
    lo, hi = float(min), float(max)
    if isinstance(exmin, (int, float)) and not isinstance(exmin, bool):
        lo, exmin = float(exmin), True
    else:
        exmin = bool(exmin)
    if isinstance(exmax, (int, float)) and not isinstance(exmax, bool):
        hi, exmax = float(exmax), True
    else:
        exmax = bool(exmax)

    def validate(value):
        try:
            v = float(value)
        except Exception:
            raise Invalid("invalid float") from None
        if exmin:
            if v <= lo:
                raise Invalid("value must > %d" % lo)
        elif v < lo:
            raise Invalid("value must >= %d" % lo)
        if exmax:
            if v >= hi:
                raise Invalid("value must < %d" % hi)
        elif v > hi:
            raise Invalid("value must <= %d" % hi)
        return v

    return validate


_ESCAPES = (("&", "&amp;"), (">", "&gt;"), ("<", "&lt;"),
            ("'", "&#39;"), ('"', "&#34;"))


def _make_str_core(compiler, minlen=0, maxlen=1024 * 1024, strip=False,
                   escape=False, match=None, accept_any_object=False):
    if match:
        try:
            matcher = re.compile(r"(?:%s)\Z" % match).match
        except Exception as ex:
            raise SchemaError(f"match regex {match} compile failed") from ex
    else:
        matcher = None

    def validate(value):
        if not isinstance(value, str):
            if accept_any_object or isinstance(value, int):
                value = str(value)
            else:
                raise Invalid("invalid string")
        if strip:
            value = value.strip()
        n = len(value)
        if n < minlen:
            raise Invalid(f"string length must >= {minlen}")
        if n > maxlen:
            raise Invalid(f"string length must <= {maxlen}")
        if escape:
            for old, new in _ESCAPES:
                value = value.replace(old, new)
        if matcher is not None and not matcher(value):
            raise Invalid(f"string not match regex {match}")
        return value

    return validate


@validator(accept=(str, object), output=str)
def str_validator(compiler, minlen=0, maxlen=1024 * 1024, strip=False,
                  escape=False, match=None):
    return _make_str_core(compiler, minlen, maxlen, strip, escape, match)


@validator(accept=object, output=object)
def nstr_validator(compiler, minlen=0, maxlen=1024 * 1024, strip=False,
                   escape=False, match=None):
    # same core as str (int coerced, other objects rejected); only the
    # null semantics differ via accept/output=object (pyx:907: the
    # accept_object flag is never actually set by the nstr registration)
    return _make_str_core(compiler, minlen, maxlen, strip, escape, match)


@validator(accept=bytes, output=bytes)
def bytes_validator(compiler, minlen=0, maxlen=-1):
    def validate(value):
        if not isinstance(value, bytes):
            raise Invalid("invalid bytes")
        n = len(value)
        if n < minlen:
            raise Invalid(f"bytes length must >= {minlen}")
        if maxlen > -1 and n > maxlen:
            raise Invalid(f"bytes length must <= {maxlen}")
        return value

    return validate


@validator(accept=(str, datetime.date), output=(str, datetime.date))
def date_validator(compiler, format="%Y-%m-%d", output_object=False):
    def validate(value):
        try:
            if not isinstance(value, (datetime.datetime, datetime.date)):
                value = datetime.datetime.strptime(value, format)
            if isinstance(value, datetime.datetime):
                value = value.date()
            return value if output_object else value.strftime(format)
        except Exception:
            raise Invalid("invalid date") from None

    return validate


@validator(accept=(str, datetime.time), output=(str, datetime.time))
def time_validator(compiler, format="%H:%M:%S", output_object=False):
    def validate(value):
        try:
            if not isinstance(value, (datetime.datetime, datetime.time)):
                value = datetime.datetime.strptime(value, format)
            if isinstance(value, datetime.datetime):
                value = value.time()
            return value if output_object else value.strftime(format)
        except Exception:
            raise Invalid("invalid time") from None

    return validate


@validator(accept=(str, datetime.datetime), output=(str, datetime.datetime))
def datetime_validator(compiler, format="%Y-%m-%dT%H:%M:%S.%fZ",
                       output_object=False):
    def validate(value):
        try:
            if isinstance(value, tuple):
                value = datetime.datetime.fromtimestamp(_time.mktime(value))
            elif not isinstance(value, datetime.datetime):
                value = datetime.datetime.strptime(value, format)
            return value if output_object else value.strftime(format)
        except Exception:
            raise Invalid("invalid datetime") from None

    return validate


def _coerce_timedelta(value) -> datetime.timedelta:
    # bool passes: it is an int subclass and the reference accepts it
    # (pyx:998-1000 isinstance(value, (int, float)))
    if isinstance(value, (int, float)):
        return datetime.timedelta(seconds=value)
    if isinstance(value, str):
        return parse_duration(value)
    if isinstance(value, datetime.timedelta):
        return value
    raise ValueError("invalid timedelta")


@validator(accept=(int, float, str, datetime.timedelta),
           output=(str, float, datetime.timedelta))
def timedelta_validator(compiler, min=None, max=None, string=False,
                        extended=False, output_object=False):
    if string and output_object:
        raise SchemaError("can not output both string and object")
    # OverflowError: timedelta(seconds=inf) raises it, not ValueError —
    # uncaught it would escape the pandas-UDF wrapper (which converts
    # only Invalid) and abort the whole Spark task on one bad value
    try:
        lo = _coerce_timedelta(min) if min is not None else None
    except (DurationError, ValueError, TypeError, OverflowError) as ex:
        raise SchemaError("invalid min timedelta") from ex
    try:
        hi = _coerce_timedelta(max) if max is not None else None
    except (DurationError, ValueError, TypeError, OverflowError) as ex:
        raise SchemaError("invalid max timedelta") from ex
    lo_repr = format_duration(lo, extended=True) if lo is not None else None
    hi_repr = format_duration(hi, extended=True) if hi is not None else None

    def validate(value):
        try:
            value = _coerce_timedelta(value)
        except (DurationError, ValueError, TypeError, OverflowError) as ex:
            raise Invalid("invalid timedelta") from ex
        if lo is not None and value < lo:
            raise Invalid(f"value must >= {lo_repr}")
        if hi is not None and value > hi:
            raise Invalid(f"value must <= {hi_repr}")
        if output_object:
            return value
        if string:
            return format_duration(value, extended=extended)
        return value.total_seconds()

    return validate


@validator(accept=(str, ipaddress.IPv4Address),
           output=(str, ipaddress.IPv4Address))
def ipv4_validator(compiler, output_object=False):
    def validate(value):
        try:
            value = ipaddress.IPv4Address(value.strip())
        except ipaddress.AddressValueError as ex:
            raise Invalid(str(ex)) from None
        except Exception:
            raise Invalid("invalid ipv4 address") from None
        return value if output_object else value.compressed

    return validate


@validator(accept=(str, ipaddress.IPv6Address),
           output=(str, ipaddress.IPv6Address))
def ipv6_validator(compiler, output_object=False):
    def validate(value):
        try:
            value = ipaddress.IPv6Address(value.strip())
        except ipaddress.AddressValueError as ex:
            raise Invalid(str(ex)) from None
        except Exception:
            raise Invalid("invalid ipv6 address") from None
        return value if output_object else value.compressed

    return validate


# Email syntax per RFC 2822/5321 dot-atom + IDNA 2008 hostname, with the
# exact acceptance envelope and error strings of python-email-validator
# (the reference vendors it at _vendor/email_validator.py and calls it with
# allow_smtputf8=False, check_deliverability=False, allow_empty_local=False,
# pyx:1100-1105).  The messages are part of the observable contract
# (Invalid.message), so they are reproduced verbatim.
_EM_ATEXT = r"a-zA-Z0-9_!#\$%&'\*\+\-/=\?\^`\{\|\}~"
_EM_DOT_ATOM = re.compile("[" + _EM_ATEXT + r"]+(?:\.[" + _EM_ATEXT + r"]+)*\Z")
_EM_ATEXT_UTF8 = _EM_ATEXT + "\u0080-\U0010FFFF"
_EM_DOT_ATOM_UTF8 = re.compile(
    "[" + _EM_ATEXT_UTF8 + r"]+(?:\.[" + _EM_ATEXT_UTF8 + r"]+)*\Z")
_EM_ONE_ATEXT = re.compile("[" + _EM_ATEXT + "]")
_EM_HOST_LABEL = r"(?:(?:[a-zA-Z0-9][a-zA-Z0-9\-]*)?[a-zA-Z0-9])"
_EM_HOSTNAME = re.compile(_EM_HOST_LABEL + r"(?:\." + _EM_HOST_LABEL + r")*$")


class _EmailSyntaxError(ValueError):
    pass


def _email_local_part(local: str) -> str:
    if len(local) == 0:
        raise _EmailSyntaxError("There must be something before the @-sign.")
    if len(local) > 64:
        raise _EmailSyntaxError(
            "The email address is too long before the @-sign.")
    if _EM_DOT_ATOM.match(local):
        return local
    if not _EM_DOT_ATOM_UTF8.match(local):
        bad = ", ".join(sorted({c for c in local
                                if not _EM_ONE_ATEXT.match(c)}))
        raise _EmailSyntaxError(
            "The email address contains invalid characters before the "
            "@-sign: %s." % bad)
    # it would only be valid under SMTPUTF8, which is disabled
    raise _EmailSyntaxError(
        "Internationalized characters before the @-sign are not supported.")


#: distinct email domains kept by ``_email_domain_part``'s cache, per
#: process; real columns repeat a few domains across millions of rows.
_EMAIL_DOMAIN_CACHE = 4096


# Pure, and 96% of an email check's cost is the IDNA remap/encode/decode
# below (PERF.md Finding 19), so each domain is normalized once per
# process.  An invalid domain raises, and raised calls are not cached.
@lru_cache(maxsize=_EMAIL_DOMAIN_CACHE)
def _email_domain_part(domain: str) -> str:
    import idna

    if len(domain) == 0:
        raise _EmailSyntaxError("There must be something after the @-sign.")
    try:
        domain = idna.uts46_remap(domain, std3_rules=False, transitional=False)
    except idna.IDNAError as ex:
        raise _EmailSyntaxError(
            "The domain name %s contains invalid characters (%s)."
            % (domain, ex)) from None
    if domain.endswith("."):
        raise _EmailSyntaxError("An email address cannot end with a period.")
    if domain.startswith("."):
        raise _EmailSyntaxError(
            "An email address cannot have a period immediately after the "
            "@-sign.")
    if ".." in domain:
        raise _EmailSyntaxError(
            "An email address cannot have two periods in a row.")
    try:
        domain = idna.encode(domain, uts46=False).decode("ascii")
    except idna.IDNAError as ex:
        raise _EmailSyntaxError(
            "The domain name %s contains invalid characters (%s)."
            % (domain, ex)) from None
    try:
        domain_i18n = idna.decode(domain.encode("ascii"))
    except idna.IDNAError as ex:
        raise _EmailSyntaxError(
            "The domain name %s is not valid IDNA (%s)." % (domain, ex)
        ) from None
    if len(domain) > 255:
        raise _EmailSyntaxError(
            "The email address is too long after the @-sign.")
    if not _EM_HOSTNAME.match(domain):
        raise _EmailSyntaxError(
            "The email address contains invalid characters after the "
            "@-sign.")
    if "." not in domain:
        raise _EmailSyntaxError(
            "The domain name %s is not valid. It should have a period."
            % domain_i18n)
    if not re.search(r"[A-Za-z]$", domain):
        raise _EmailSyntaxError(
            "The domain name %s is not valid. It is not within a valid "
            "top-level domain." % domain_i18n)
    return domain_i18n


def _normalize_email(value: str) -> str:
    """ascii local part + IDNA domain → 'local@domain-display-form'."""
    parts = value.split("@")
    if len(parts) != 2:
        raise _EmailSyntaxError(
            "The email address is not valid. It must have exactly one "
            "@-sign.")
    return _email_local_part(parts[0]) + "@" + _email_domain_part(parts[1])


@validator(accept=str, output=str)
def email_validator(compiler):
    def validate(value):
        try:
            return _normalize_email(value.strip())
        except _EmailSyntaxError as ex:
            raise Invalid(str(ex)) from None
        except Exception:
            raise Invalid("invalid email address") from None

    return validate


@validator(output=(str, object))
def url_validator(compiler, scheme="http https", maxlen=255,
                  output_object=False):
    allow = set(scheme.split())

    def validate(value):
        try:
            value = value.strip()
        except Exception:
            raise Invalid("invalid url") from None
        if len(value) > maxlen:
            raise Invalid(f"url length must <= {maxlen}")
        try:
            parsed = urlparse(value)
        except Exception:
            raise Invalid("invalid url") from None
        if not parsed.scheme or parsed.scheme not in allow:
            raise Invalid(f"invalid url scheme, expect {allow}")
        return parsed if output_object else urlunparse(parsed)

    return validate


_DNS_LABEL_RE = re.compile(r"\A(?!-)[A-Za-z0-9-]{1,63}(?<!-)\Z")


def _fqdn_relative(value: str) -> str | None:
    """Validate an FQDN; return the relative form (no trailing dot) or None.

    RFC1035 shape: ≥2 labels, each 1-63 alnum/hyphen chars not starting or
    ending with '-', total ≤253 chars excluding the optional trailing dot.
    """
    if not isinstance(value, str):
        return None
    relative = value[:-1] if value.endswith(".") else value
    if not relative or len(relative) > 253:
        return None
    labels = relative.split(".")
    if len(labels) < 2:
        return None
    for label in labels:
        if not _DNS_LABEL_RE.match(label) or not label.isascii():
            return None
    return relative


@validator(output=str)
def fqdn_validator(compiler):
    def validate(value):
        try:
            relative = _fqdn_relative(value.strip())
        except (ValueError, TypeError, AttributeError) as ex:
            raise Invalid("invalid fqdn") from ex
        if relative is None:
            raise Invalid("invalid fqdn")
        return relative

    return validate


@validator(output=(str, _uuid.UUID))
def uuid_validator(compiler, version=None, output_object=False):
    if version is None:
        msg = "invalid uuid"
    else:
        if version not in {1, 3, 4, 5}:
            raise SchemaError("illegal version number")
        msg = f"invalid uuid{version}"

    def validate(value):
        if not isinstance(value, _uuid.UUID):
            try:
                value = _uuid.UUID(value.strip())
            except Exception:
                raise Invalid(msg) from None
        if version is not None and value.version != version:
            raise Invalid(msg)
        return value if output_object else str(value)

    return validate


def create_re_validator(name: str, pattern: str, default_maxlen: int = 255):
    """Factory: a full-match regex validator (reference pyx:1185-1217)."""
    matcher = re.compile(r"(?:%s)\Z" % pattern).match
    bad = f"invalid {name}"

    def factory(compiler, minlen=0, maxlen=default_maxlen, strip=False):
        def validate(value):
            if not isinstance(value, str):
                raise Invalid("value must be string")
            if strip:
                value = value.strip()
            n = len(value)
            if n < minlen:
                raise Invalid(f"{name} length must >= {minlen}")
            if n > maxlen:
                raise Invalid(f"{name} length must <= {maxlen}")
            if matcher(value):
                return value
            raise Invalid(bad)

        return validate

    factory.__name__ = factory.__qualname__ = name + "_validator"
    return validator(accept=str, output=str)(factory)


def create_enum_validator(name: str, items, string=True):
    """Deprecated enum factory kept for API parity (pyx:1254-1278)."""
    allowed = set(items)
    msg = f"invalid {name}, expect one of {sorted(allowed)}"

    def factory(compiler):
        def validate(value):
            if value in allowed:
                return value
            raise Invalid(msg)

        return validate

    factory.__name__ = factory.__qualname__ = name + "_validator"
    if string:
        return validator(accept=str, output=str)(factory)
    return validator(accept=object, output=object)(factory)


REGEX_VALIDATORS = {
    "phone": (r"((\+\d{2}\s?)|(\d{2}\s?))?1\d{10}", 15),
    "idcard": (r"(\d{17}[\d|x|X])|(\d{15})", 18),
    "slug": (r"[a-z0-9]+(?:-[a-z0-9]+)*", 255),
}

builtin_validators = {
    "list": list_validator,
    "dict": dict_validator,
    "model": model_validator,
    "union": union_validator,
    "enum": enum_validator,
    "any": any_validator,
    "int": int_validator,
    "bool": bool_validator,
    "float": float_validator,
    "str": str_validator,
    "nstr": nstr_validator,
    "bytes": bytes_validator,
    "date": date_validator,
    "time": time_validator,
    "datetime": datetime_validator,
    "timedelta": timedelta_validator,
    "ipv4": ipv4_validator,
    "ipv6": ipv6_validator,
    "email": email_validator,
    "url": url_validator,
    "fqdn": fqdn_validator,
    "uuid": uuid_validator,
}
for _name, _opts in REGEX_VALIDATORS.items():
    builtin_validators[_name] = create_re_validator(_name, *_opts)


class Compiler:
    """Schema tree → row-validate callable (driver / Arrow-batch backend)."""

    def __init__(self, validators=None, is_dump=False):
        self.validators = dict(builtin_validators)
        if validators:
            self.validators.update(validators)
        self.is_dump = is_dump

    def compile(self, schema):
        if hasattr(schema, "__schema__"):
            schema = schema.__schema__
        if not isinstance(schema, Schema):
            raise SchemaError(f"{type(schema)} object is not schema")
        if not schema.validator:
            raise SchemaError("incomplete schema")
        factory = self.validators.get(schema.validator)
        if not factory:
            raise SchemaError(f"validator {schema.validator!r} not found")
        return factory(self, schema)
