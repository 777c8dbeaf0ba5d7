"""Schema tree → Catalyst validation plan.

`SparkCompiler.compile(T.dict(...)) -> ValidationPlan`; `plan.apply(df)`
adds, in ONE narrow projection (no shuffle, whole-stage codegen):

* one coerced output column per schema field (type-cast per §1.2 of
  SURVEY.md), and
* a ``_violations array<struct<rule_id, position, message, value>>`` column —
  at most one violation per (row, field), the FIRST failing check of that
  field, exactly the error the reference validator would raise
  (fail-fast per value; the per-field independence matches the reference
  model layer's collect-all-fields semantics, `_validator_c.pyx:1320-1355`).

Cross-cutting wrapper semantics (`_validator_c.pyx:381-421`): "null" means
None (plus '' for string-accepting validators); null+default → default,
null+optional → null-output, null otherwise → required violation;
``invalid_to``/``invalid_to_default`` suppress the violation and substitute a
pre-validated fallback.  Compile-time SchemaError parity (invalid defaults,
bad regexes, ambiguous unions) is guaranteed by pre-compiling the schema
through the pure-Python backend before any Catalyst expression is built.

Scale notes (100 TB design): row validation is embarrassingly parallel —
a single projection over the scan, no shuffle, no driver collect.  Violations
explode only rows that actually have violations (filter first, then explode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as st

from .errors import SchemaError
from .pyvalidate import Compiler as PyCompiler
from .rules import (
    BUILDERS,
    NULL_VIOLATION,
    VIOLATION_TYPE,
    CoreRule,
    build_pyudf_rule,
    chain,
    mkviol,
    value_repr,
)
from .schema import Schema, T

__all__ = ["SparkCompiler", "ValidationPlan", "ValidationResult"]


class SparkCompiler:
    """Compiles schema trees into Catalyst validation plans.

    ``validators`` may inject custom rule builders with signature
    ``(compiler, schema, input_type, path) -> CoreRule`` — the same extension
    point as the reference's ``Compiler(validators={...})``
    (schema.py:355-359).  A schema node whose validator is unknown to the
    expression backend but registered in the Python backend automatically
    falls back to a vectorized pandas-UDF rule.
    """

    def __init__(self, validators: dict | None = None,
                 py_validators: dict | None = None):
        self.builders = dict(BUILDERS)
        if validators:
            self.builders.update(validators)
        self._py = PyCompiler(validators=py_validators)

    # ------------------------------------------------------------------
    def compile(self, schema) -> "ValidationPlan":
        if hasattr(schema, "__schema__"):
            schema = schema.__schema__
        if not isinstance(schema, Schema):
            raise SchemaError(f"{type(schema)} object is not schema")
        if schema.validator == "model":
            schema = T(schema.items).__schema__ if schema.items else schema
        if schema.validator != "dict" or schema.items is None:
            # single-column plans are allowed: wrap as one field named 'value'
            schema = Schema(validator="dict", items={"value": schema})
        # SchemaError parity: the python backend performs all compile-time
        # checks (default/invalid_to pre-validation, regex compile, union
        # ambiguity, unknown validator) — reference pyx:361-378.
        self._py.compile(schema)
        return ValidationPlan(self, schema)

    # ------------------------------------------------------------------
    def compile_node(self, schema: Schema, input_type: st.DataType,
                     path: str) -> CoreRule:
        v = schema.validator
        if v == "dict":
            core = self._dict_core(schema, input_type, path)
        elif v == "list":
            core = self._list_core(schema, input_type, path)
        elif v == "union":
            core = self._union_core(schema, input_type, path)
        elif v == "model":
            inner = T(schema.items).__schema__
            core = self._dict_core(inner, input_type, path)
        else:
            builder = self.builders.get(v)
            if builder is None:
                if v in self._py.validators:
                    builder = build_pyudf_rule  # auto Arrow-batch fallback
                else:
                    raise SchemaError(f"validator {v!r} not found")
            core = builder(self, schema, input_type, path)
        return self._wrap(core, schema, input_type, path)

    # ------------------------------------------------------------------
    # the cross-cutting null/default/invalid_to wrapper (pyx:381-421)
    # ------------------------------------------------------------------
    def _wrap(self, core: CoreRule, schema: Schema,
              input_type: st.DataType, path: str) -> CoreRule:
        params = schema.params
        optional = bool(params.get("optional", False))
        default = params.get("default", None)
        invalid_to_default = bool(params.get("invalid_to_default", False))
        has_invalid_to = "invalid_to" in params
        if core.accept_string:
            has_default = not (default is None or default == "")
        else:
            has_default = default is not None
        suppress = has_invalid_to or invalid_to_default

        # pre-validated fallback literals via the python backend
        py_validate = self._py.compile(schema)
        null_result = py_validate(None) if (has_default or optional) else None
        fallback = py_validate(params["invalid_to"]) if has_invalid_to else (
            py_validate(None) if invalid_to_default else None)
        out_t = core.output_type
        if isinstance(out_t, st.NullType):
            # identity-typed validators (enum, any) over a MISSING input
            # column: input_type is NullType, so out_t would be VOID and
            # F.lit(default).cast(VOID) fails analysis — infer the output
            # type from the pre-validated python fallback instead, so the
            # default/invalid_to fills every row as the reference does.
            probe = null_result if null_result is not None else fallback
            if probe is not None:
                out_t = {str: st.StringType(), bool: st.BooleanType(),
                         int: st.LongType(), float: st.DoubleType()} \
                    .get(type(probe), out_t)
        null_lit = F.lit(null_result).cast(out_t)
        fallback_lit = F.lit(fallback).cast(out_t) if suppress else None

        str_input = isinstance(input_type, st.StringType)

        def is_null(col: Column) -> Column:
            if core.accept_string and str_input:
                return col.isNull() | (col == "")
            return col.isNull()

        # post-validate null recheck (pyx:397-408): a coerced result that is
        # null/'' counts as missing again.
        def post_null(val: Column) -> Column:
            if core.accept_string and isinstance(out_t, st.StringType):
                return val.isNull() | (val == "")
            return val.isNull()

        def core_invalid(col: Column) -> Column:
            # cheap boolean equivalent of core.error(col).isNotNull(),
            # valid for non-null inputs (the wrapper guards nulls)
            if core.invalid is not None:
                return core.invalid(col)
            return core.error(col, F.lit("")).isNotNull()

        def coerce(col: Column) -> Column:
            coerced = core.coerce(col)
            ok_val = F.when(core_invalid(col) | post_null(coerced),
                            fallback_lit if suppress else
                            (null_lit if (has_default or optional)
                             else F.lit(None).cast(out_t))
                            ).otherwise(coerced)
            if has_default or optional:
                return F.when(is_null(col), null_lit).otherwise(ok_val)
            if suppress:
                return F.when(is_null(col), fallback_lit).otherwise(ok_val)
            return F.when(is_null(col), F.lit(None).cast(out_t)).otherwise(ok_val)

        def error(col: Column, pos: Column) -> Column:
            if suppress:
                return NULL_VIOLATION()
            required = mkviol(f"{path}.required", pos, "required",
                              value_repr(col, input_type))
            core_err = core.error(col, pos)
            coerced = core.coerce(col)
            not_null_branch = F.when(core_err.isNotNull(), core_err).otherwise(
                F.when(post_null(coerced),
                       NULL_VIOLATION() if (has_default or optional) else required
                       ).otherwise(NULL_VIOLATION()))
            if has_default or optional:
                return F.when(is_null(col), NULL_VIOLATION()).otherwise(
                    not_null_branch)
            return F.when(is_null(col), required).otherwise(not_null_branch)

        def invalid(col: Column) -> Column:
            if suppress:
                return F.lit(False)
            bad = core_invalid(col)
            if not (has_default or optional):
                bad = bad | post_null(core.coerce(col))
            if has_default or optional:
                return F.when(is_null(col), F.lit(False)).otherwise(bad)
            return F.when(is_null(col), F.lit(True)).otherwise(bad)

        # whole-array fast paths survive the wrapper only when the wrapper
        # adds no element-level semantics: a null element must mean
        # 'required' (core.array_invalid flags it) and the coerced element
        # must be the plain core coercion.
        plain = not (optional or has_default or suppress)
        return CoreRule(out_t, coerce, error, accept_string=False,
                        invalid=invalid,
                        array_invalid=core.array_invalid if plain else None,
                        array_value=core.array_value if plain else None)

    # ------------------------------------------------------------------
    # containers
    # ------------------------------------------------------------------
    def _dict_core(self, schema: Schema, input_type, path: str) -> CoreRule:
        items = schema.items or {}
        prefix = f"{path}." if path else ""
        if isinstance(input_type, st.MapType):
            return self._map_core(schema, input_type, path)
        # DOCUMENTED DIVERGENCE (reference pyx:534-541): dict minlen/maxlen
        # bound the size of the INPUT mapping, including extra keys.  A
        # fixed StructType has a static field set and extra keys never
        # exist, so the params are unrepresentable here — reject them at
        # compile time instead of silently ignoring them.  They remain
        # fully supported on MapType (dynamic-dict) inputs above.
        if isinstance(input_type, st.StructType):
            for p in ("minlen", "maxlen"):
                if p in schema.params:
                    raise SchemaError(
                        f"dict.{p} is not supported over a fixed struct "
                        "input (field count is static; reference semantics "
                        "count input-mapping keys) — use a MapType column "
                        "for dynamic dicts, or drop the param")
        if not isinstance(input_type, st.StructType):
            out_t = st.StructType([st.StructField(k, st.NullType())
                                   for k in items]) if items else input_type
            return self._type_mismatch_core(input_type, path,
                                            "must be dict", out_t)

        field_types = {f.name: f.dataType for f in input_type.fields}
        children = {}
        for k, sub in items.items():
            children[k] = self.compile_node(
                sub, field_types.get(k, st.NullType()), f"{prefix}{k}")
        out_t = st.StructType([st.StructField(k, c.output_type)
                               for k, c in children.items()])

        def getf(col, k):
            if k in field_types:
                return col.getField(k)
            return F.lit(None)

        def coerce(col):
            return F.struct(*[children[k].coerce(getf(col, k)).alias(k)
                              for k in children])

        def error(col, pos):
            # fail-fast in field order (dict validator, pyx:580-582)
            errs = [children[k].error(getf(col, k),
                                      F.concat(pos, F.lit(f".{k}"))
                                      if path else F.lit(k))
                    for k in children]
            first = F.coalesce(*errs, NULL_VIOLATION()) if errs else NULL_VIOLATION()
            return F.when(col.isNotNull(), first).otherwise(NULL_VIOLATION())

        return CoreRule(out_t, coerce, error, accept_string=False)

    def _map_core(self, schema: Schema, input_type: st.MapType,
                  path: str) -> CoreRule:
        """Dynamic dict over a MapType column: ``.key(schema)`` /
        ``.value(schema)`` validate every entry, ``slim`` drops null/''
        values, minlen/maxlen bound the entry count (reference dynamic-dict
        semantics, pyx:544-596).  Key/value rules must be expression-backed
        (Catalyst forbids UDFs inside lambda higher-order functions) —
        email-style UDF validators in a map schema raise at plan time.
        """
        from .schema import _as_schema

        minlen = int(schema.params.get("minlen", 0))
        maxlen = int(schema.params.get("maxlen", 1024))
        slim = bool(schema.params.get("slim", False))
        key_s = schema.params.get("key")
        val_s = schema.params.get("value")
        key_rule = (self.compile_node(_as_schema(key_s), input_type.keyType,
                                      f"{path}.$self_key")
                    if key_s is not None else None)
        val_rule = (self.compile_node(_as_schema(val_s), input_type.valueType,
                                      f"{path}.$self_value")
                    if val_s is not None else None)
        key_out = key_rule.output_type if key_rule else input_type.keyType
        val_out = val_rule.output_type if val_rule else input_type.valueType
        out_t = st.MapType(key_out, val_out)

        def coerce(col):
            out = col
            if key_rule:
                out = F.transform_keys(out, lambda k, v: key_rule.coerce(k))
            if val_rule:
                out = F.transform_values(out, lambda k, v: val_rule.coerce(v))
            if slim:
                if isinstance(val_out, st.StringType):
                    out = F.map_filter(
                        out, lambda k, v: v.isNotNull() & (v != ""))
                else:
                    out = F.map_filter(out, lambda k, v: v.isNotNull())
            return out

        def error(col, pos):
            checks = []
            n = F.size(col)
            if maxlen >= 0:
                checks.append((n > maxlen, "maxlen",
                               f"dict length must <= {maxlen}"))
            if minlen > 0:
                checks.append((n < minlen, "minlen",
                               f"dict length must >= {minlen}"))
            length_viol = chain(col, pos, input_type, checks, path)

            def entry_err(e):
                errs = []
                if key_rule:
                    kpos = (F.concat(pos, F.lit(".$self_key")) if path
                            else F.lit("$self_key"))
                    errs.append(key_rule.error(e.getField("key"), kpos))
                if val_rule:
                    kname = e.getField("key").cast("string")
                    vpos = (F.concat(pos, F.lit("."), kname) if path
                            else kname)
                    errs.append(val_rule.error(e.getField("value"), vpos))
                if not errs:
                    return NULL_VIOLATION()
                return F.coalesce(*errs)

            first_entry = F.get(
                F.filter(F.transform(F.map_entries(col), entry_err),
                         lambda x: x.isNotNull()), 0)
            return F.when(col.isNull(), NULL_VIOLATION()).otherwise(
                F.coalesce(length_viol, first_entry, NULL_VIOLATION()))

        return CoreRule(out_t, coerce, error, accept_string=False)

    def _list_core(self, schema: Schema, input_type, path: str) -> CoreRule:
        minlen = int(schema.params.get("minlen", 0))
        maxlen = int(schema.params.get("maxlen", 1024))
        unique = bool(schema.params.get("unique", False))
        inner_schema = schema.items
        if not isinstance(input_type, st.ArrayType):
            return self._type_mismatch_core(input_type, path, "not list",
                                            st.ArrayType(st.NullType()))

        et = input_type.elementType
        inner: CoreRule | None = None
        if inner_schema is not None:
            inner = self.compile_node(inner_schema, et, f"{path}[]")
        out_t = st.ArrayType(inner.output_type if inner else et)

        def coerce(col):
            if inner is None:
                return col
            if inner.array_value is not None:
                # vectorized array cast — no per-element lambda
                return inner.array_value(col)
            return F.transform(col, lambda x: inner.coerce(x))

        def error(col, pos):
            n = F.size(col)
            checks = []
            if inner is not None:
                # scan with the cheap boolean predicate; build the ONE
                # violation struct only for the first offending element
                # (vs a struct per element — 10-50× less work per row on
                # long token arrays).
                hof_pos1 = F.array_position(
                    F.transform(col, lambda x: inner.invalid(x)),
                    F.lit(True))                      # 1-based, 0 = none
                if inner.array_invalid is not None:
                    # whole-array screen first: the per-element HOF runs
                    # only on flagged (~bad-rate) rows (PERF.md Finding 1).
                    pos1 = F.when(inner.array_invalid(col), hof_pos1) \
                        .otherwise(F.lit(0))
                else:
                    pos1 = hof_pos1
                bad_idx = (pos1 - 1).cast("int")
                first_elem = inner.error(
                    F.get(col, bad_idx),
                    F.concat(pos, F.lit("["), bad_idx.cast("string"),
                             F.lit("]")))
                # element errors at index < maxlen fire before the length cap
                elem_fires = (pos1 > 0) & (pos1 <= F.lit(maxlen))
                checks.append((elem_fires, first_elem))
            if unique:
                if inner is None:
                    raise SchemaError(
                        "unable to check unique for non-hashable types")
                coerced = coerce(col)
                dup_flags = F.transform(
                    coerced,
                    lambda x, i: F.exists(F.slice(coerced, F.lit(1), i),
                                          lambda p: p.eqNullSafe(x)))
                dup_idx = F.array_position(dup_flags, F.lit(True)) - 1
                dup_viol = mkviol(
                    f"{path}[].unique",
                    F.concat(pos, F.lit("["), dup_idx.cast("string"),
                             F.lit("]")),
                    "not unique",
                    value_repr(F.get(col, dup_idx.cast("int")), et))
                checks.append(((dup_idx >= 0) & (dup_idx < maxlen), dup_viol))
            vrepr = value_repr(col, input_type)
            checks.append((n > maxlen,
                           mkviol(f"{path}.maxlen", pos,
                                  f"list length must <= {maxlen}", vrepr)))
            if minlen > 0:
                checks.append((n < minlen,
                               mkviol(f"{path}.minlen", pos,
                                      f"list length must >= {minlen}", vrepr)))
            out = NULL_VIOLATION()
            for cond, viol in reversed(checks):
                out = F.when(cond, viol).otherwise(out)
            return F.when(col.isNull(), NULL_VIOLATION()).otherwise(out)

        def list_invalid(col):
            # boolean twin of error(); a bad element at index ≥ maxlen
            # implies size > maxlen, so the union of conditions matches.
            n = F.size(col)
            inv = n > maxlen
            if minlen > 0:
                inv = inv | (n < minlen)
            if inner is not None:
                if inner.array_invalid is not None:
                    inv = inv | inner.array_invalid(col)
                else:
                    inv = inv | F.exists(col, lambda x: inner.invalid(x))
            if unique:
                c = coerce(col)
                inv = inv | (F.size(F.array_distinct(c)) < F.size(c))
            return F.coalesce(inv, F.lit(False))

        return CoreRule(out_t, coerce, error, accept_string=False,
                        invalid=list_invalid)

    def _union_core(self, schema: Schema, input_type, path: str) -> CoreRule:
        """union: tagged (dict) form dispatches on the `by` field of a struct
        column; list (shape) form dispatches statically on the Spark input
        type — Spark columns have exactly one type, so the runtime
        shape-dispatch of the reference (pyx:695-709) resolves at compile
        time."""
        by = schema.params.get("by")
        if isinstance(schema.items, dict):
            if not isinstance(input_type, st.StructType):
                return self._type_mismatch_core(
                    input_type, path, "must be dict")
            tags = {}
            field_types = {f.name: f.dataType for f in input_type.fields}
            for tag, sub in schema.items.items():
                body = sub if sub.validator == "dict" else T(sub.items).__schema__
                keep = {k: v for k, v in (body.items or {}).items()}
                branch_schema = Schema(validator="dict", items=keep,
                                       params=body.params)
                tags[tag] = self._dict_core(branch_schema, input_type, path)
            expect = "{" + ", ".join(sorted(tags)) + "}"
            out_fields: dict[str, st.DataType] = {by: st.StringType()}
            for core in tags.values():
                for f_ in core.output_type.fields:
                    out_fields.setdefault(f_.name, f_.dataType)
            out_t = st.StructType([st.StructField(k, t)
                                   for k, t in out_fields.items()])

            def tag_col(col):
                if by in field_types:
                    return col.getField(by).cast("string")
                return F.lit(None).cast("string")

            def coerce(col):
                tc = tag_col(col)
                result = F.lit(None).cast(out_t)
                for tag, core in tags.items():
                    branch = core.coerce(col)
                    fields = [F.lit(tag).alias(by)]
                    for k, t in out_fields.items():
                        if k == by:
                            continue
                        if k in [f_.name for f_ in core.output_type.fields]:
                            fields.append(branch.getField(k).cast(t).alias(k))
                        else:
                            fields.append(F.lit(None).cast(t).alias(k))
                    result = F.when(tc == tag, F.struct(*fields)).otherwise(result)
                return result

            def error(col, pos):
                tc = tag_col(col)
                by_pos = F.concat(pos, F.lit(f".{by}")) if path else F.lit(by)
                missing = mkviol(f"{path}.{by}.required" if path
                                 else f"{by}.required",
                                 by_pos, "required", F.lit("None"))
                unknown = mkviol(f"{path}.{by}.enum" if path
                                 else f"{by}.enum", by_pos,
                                 f"expect one of {expect}",
                                 value_repr(tc, st.StringType()))
                out = unknown
                for tag, core in tags.items():
                    out = F.when(tc == tag, core.error(col, pos)).otherwise(out)
                out = F.when(tc.isNull() | (tc == ""), missing).otherwise(out)
                return F.when(col.isNull(), NULL_VIOLATION()).otherwise(out)

            return CoreRule(out_t, coerce, error, accept_string=False)

        # list (shape) form: pick the branch whose shape matches input_type.
        # On a statically-typed column the reference's runtime shape
        # dispatch (pyx:695-709) resolves at compile time; on a
        # **VariantType** column (parse_json ingest) the dispatch is TRUE
        # runtime, per row, via schema_of_variant — see
        # _union_variant_core.  ≤1 alternative per shape is enforced with
        # the reference's SchemaError (pyx:676-692) in both paths.
        branches = {"scalar": None, "list": None, "dict": None}
        for sub in schema.items:
            shape = ("list" if sub.validator == "list"
                     else "dict" if sub.validator in ("dict", "model")
                     else "scalar")
            if branches[shape] is not None:
                raise SchemaError("ambiguous union schema")
            branches[shape] = sub
        if isinstance(input_type, st.VariantType):
            return self._union_variant_core(branches, path)
        if isinstance(input_type, st.ArrayType):
            pick, reject = branches["list"], "not allowed list"
        elif isinstance(input_type, st.StructType):
            pick, reject = branches["dict"], "not allowed dict"
        else:
            pick, reject = branches["scalar"], "not allowed scalar value"
        if pick is None:
            return self._type_mismatch_core(input_type, path, reject)
        return self.compile_node(pick, input_type, path)

    def _union_variant_core(self, branches: dict, path: str) -> CoreRule:
        """Runtime shape-dispatched union over a VariantType column —
        reference-parity with pyx:695-709's per-VALUE dispatch.

        Each row's shape comes from ``schema_of_variant``; the matching
        branch validates a string-typed ``try_variant_get`` extraction, so
        scalar coercion rides the normal accept-string path (int/float/
        bool/str all coerce from their canonical string form).  The output
        is a struct-of-options: one field per declared shape, the
        non-matching fields null — the natural Spark representation of a
        runtime sum type.

        Depth-1 extraction: a list branch sees array<string> (nested
        objects arrive as their JSON text), a dict branch sees
        struct<all-string fields>.  Variant NULL (VOID) behaves exactly
        like SQL NULL: the wrapper's required/optional/default logic
        applies unchanged.

        DOCUMENTED DIVERGENCE (README "union" note): branches see the
        value's canonical JSON-string form, so an int branch rejects a
        non-integral float scalar ("3.5" → 'invalid int') where the
        reference's Python dispatch truncates (int(3.5) → 3).  On typed
        float columns (the non-variant path) truncation parity holds."""
        subs: dict[str, tuple] = {}
        for shape, sub in branches.items():
            if sub is None:
                continue
            if shape == "scalar":
                in_t: st.DataType = st.StringType()
            elif shape == "list":
                in_t = st.ArrayType(st.StringType())
            else:
                body = (sub if sub.validator == "dict"
                        else T(sub.items).__schema__)
                in_t = st.StructType([st.StructField(k, st.StringType())
                                      for k in (body.items or {})])
            subs[shape] = (in_t, self.compile_node(sub, in_t, path))

        out_t = st.StructType([st.StructField(s, plan.output_type)
                               for s, (_, plan) in subs.items()])

        def classify(col):
            sov = F.schema_of_variant(col)
            return (sov.startswith("ARRAY"),
                    sov.startswith("OBJECT") | sov.startswith("STRUCT"))

        def _ext(col, in_t):
            return F.try_variant_get(col, "$", in_t.simpleString())

        def _shape_cond(shape, is_arr, is_obj):
            if shape == "list":
                return is_arr
            if shape == "dict":
                return is_obj
            return ~is_arr & ~is_obj

        def coerce(col):
            is_arr, is_obj = classify(col)
            fields = []
            for shape, (in_t, plan) in subs.items():
                val = F.when(_shape_cond(shape, is_arr, is_obj),
                             plan.coerce(_ext(col, in_t))) \
                    .otherwise(F.lit(None).cast(plan.output_type))
                fields.append(val.alias(shape))
            return F.when(col.isNull() | F.is_variant_null(col),
                          F.lit(None).cast(out_t)) \
                .otherwise(F.struct(*fields))

        def error(col, pos):
            is_arr, is_obj = classify(col)

            def branch_err(shape, not_allowed):
                if shape in subs:
                    in_t, plan = subs[shape]
                    return plan.error(_ext(col, in_t), pos)
                return mkviol(f"{path}.type" if path else "type", pos,
                              not_allowed,
                              value_repr(_ext(col, st.StringType()),
                                         st.StringType()))

            out = (F.when(is_arr, branch_err("list", "not allowed list"))
                   .when(is_obj, branch_err("dict", "not allowed dict"))
                   .otherwise(branch_err("scalar",
                                         "not allowed scalar value")))
            return F.when(col.isNull() | F.is_variant_null(col),
                          NULL_VIOLATION()).otherwise(out)

        return CoreRule(out_t, coerce, error, accept_string=False)

    def _type_mismatch_core(self, input_type, path, message,
                            out_t=None) -> CoreRule:
        """Static type mismatch: every non-null value fails
        ``<path>.type`` with ``message`` and coerces to a NULL of
        ``out_t`` (default: the input type)."""
        out_t = input_type if out_t is None else out_t

        def coerce(col):
            return F.lit(None).cast(out_t)

        def error(col, pos):
            return F.when(col.isNotNull(),
                          mkviol(f"{path}.type", pos, message,
                                 value_repr(col, input_type))
                          ).otherwise(NULL_VIOLATION())

        return CoreRule(out_t, coerce, error, accept_string=False)


class ValidationPlan:
    """A compiled schema, applicable to any DataFrame with matching columns."""

    def __init__(self, compiler: SparkCompiler, schema: Schema):
        self.compiler = compiler
        self.schema = schema

    @property
    def fields(self) -> list[str]:
        return list(self.schema.items.keys())

    def rule_manifest(self) -> str:
        """Stable lineage string for checkpoint manifests (schema identity).

        Uses the full isomorph-JSON form: dict repr() renders only field
        NAMES, so nested rule changes (e.g. n_tok.max 100→50) must come
        from to_primitive() to invalidate checkpoints.
        """
        import json

        return json.dumps(self.schema.to_primitive(), sort_keys=True,
                          ensure_ascii=False)

    def _checks(self, df: DataFrame, prefix: str = ""):
        """``(name, node, col)`` per schema field, compiled for its type
        in ``df`` and reading ``prefix + name`` (NULL if ``df`` lacks
        it), and the violations array of their errors."""
        from .operators._barrier import nonnull_array

        in_types = {f.name: f.dataType for f in df.schema.fields}
        checks = []
        for name, sub in self.schema.items.items():
            node = self.compiler.compile_node(
                sub, in_types.get(name, st.NullType()), name)
            col = F.col(prefix + name) if name in in_types else F.lit(None)
            checks.append((name, node, col))
        viol = nonnull_array([node.error(col, F.lit(name))
                              for name, node, col in checks], VIOLATION_TYPE)
        return checks, viol

    def apply(self, df: DataFrame, id_cols: list[str] | None = None,
              violation_col: str = "_violations") -> "ValidationResult":
        """One projection: coerced schema columns + violations array.

        Extra input columns are dropped (reference pyx:577-584: extra keys
        silently dropped); missing columns validate as null (→ required).
        """
        id_cols = list(id_cols or [])
        checks, viol = self._checks(df, "__vs_in_")
        # Read the inputs renamed: Spark 4 lateral column alias resolution
        # would otherwise make the violations expression capture the
        # coerced output column aliased to the same name as its input.
        src = df.withColumnsRenamed({name: f"__vs_in_{name}"
                                     for name in self.schema.items
                                     if name in df.columns})
        out_cols = [F.col(c) for c in id_cols if c not in self.schema.items]
        out_cols += [node.coerce(col).alias(name) for name, node, col in checks]
        annotated = src.select(*out_cols, viol.alias(violation_col))
        return ValidationResult(annotated, id_cols, violation_col)

    def flag(self, df: DataFrame,
             violation_col: str = "_violations") -> DataFrame:
        """Annotate ``df`` with the violations array, KEEPING every input
        column un-coerced (``apply`` projects to the schema shape and
        drops extras).

        For filter-shaped consumers (drop invalid rows, route to
        quarantine) this is both safer and cheaper than joining
        ``violations()`` back by id: it needs no id column at all — NULL
        or duplicated ids can't collateral-drop innocent rows — and it is
        one map-side projection, zero shuffle at any scale.
        """
        return df.withColumn(violation_col, self._checks(df)[1])


def verdict_counts(violations: Column,
                   where: Column | None = None) -> list[Column]:
    """``n_rows``, ``n_violations`` (0 over no rows) and ``n_bad_rows``
    of a violations array over the rows where ``where`` holds (all rows
    if None), and ``verdict``: ``pass`` exactly when it has no violation.
    """
    n = F.size(violations)
    if where is not None:
        n = F.when(where, n)    # NULL elsewhere: no count sees the row
    n_violations = F.coalesce(F.sum(n), F.lit(0))
    return [F.count(n).alias("n_rows"),
            n_violations.alias("n_violations"),
            F.count_if(n > 0).alias("n_bad_rows"),
            F.when(n_violations == 0, "pass").otherwise("fail")
            .alias("verdict")]


class ValidationResult:
    """Annotated DataFrame + derived views (all lazy, no driver collect)."""

    def __init__(self, df: DataFrame, id_cols: list[str],
                 violation_col: str = "_violations"):
        self.df = df
        self.id_cols = id_cols
        self._vc = violation_col

    def _checked(self) -> DataFrame:
        """``df`` with ``_violations`` behind the projection barrier, so
        a filter on it stays above the projection that computes it and
        the pandas UDFs inside run once per row (PERF.md Finding 19)."""
        from .operators._barrier import once

        return self.df.withColumn(self._vc, once(F.col(self._vc)))

    def clean(self) -> DataFrame:
        """Rows that passed every check, with coerced columns."""
        return (self._checked().filter(F.size(F.col(self._vc)) == 0)
                .drop(self._vc))

    def bad_rows(self) -> DataFrame:
        """Quarantine view: rows that failed ≥1 check, in coerced shape
        plus an ``n_violations`` count — write this next to the clean
        output so a repair loop can fix-and-revalidate instead of
        re-scanning the full input for its failures.  Complement of
        :meth:`clean`; same single-projection plan, only the filter
        predicate flips."""
        return (self._checked().filter(F.size(F.col(self._vc)) > 0)
                .withColumn("n_violations", F.size(F.col(self._vc)))
                .drop(self._vc))

    def violations(self) -> DataFrame:
        """One row per violation: (id..., rule_id, position, message, value).

        Every row's violations are computed in one projection; the
        ``size > 0`` filter above it keeps passing rows out of the
        explode.
        """
        v = (self._checked().filter(F.size(F.col(self._vc)) > 0)
             .select(*self.id_cols, F.explode(F.col(self._vc)).alias("v")))
        return v.select(*self.id_cols, "v.rule_id", "v.position",
                        "v.message", "v.value")

    def summary(self) -> DataFrame:
        """Violation counts per rule_id (partial-agg friendly)."""
        return (self.violations().groupBy("rule_id")
                .agg(F.count("*").alias("n_violations"))
                .orderBy("rule_id"))

    def verdicts(self, partition_col: str) -> DataFrame:
        """Per-partition pass/fail + metrics (north-star verdict table)."""
        return (self.df.groupBy(partition_col)
                .agg(*verdict_counts(F.col(self._vc))))
