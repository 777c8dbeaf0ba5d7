"""Spark validation plan: differential vs the row backend + golden
violations (positions, rule_ids, messages, clipped values)."""

import pytest
from pyspark.sql import functions as F

from validr_spark import Compiler as PyCompiler
from validr_spark import Invalid, SchemaError, T
from validr_spark.compiler import SparkCompiler


def run_plan(spark, schema, rows, ddl):
    df = spark.createDataFrame(rows, ddl)
    plan = SparkCompiler().compile(schema)
    res = plan.apply(df, id_cols=["rid"])
    out = {r["rid"]: r for r in res.df.collect()}
    return out


def _plain(v):
    """Rows → dicts recursively so Spark structs compare to py dicts."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


def differential(spark, schema, values, ddl_type, pyschema=None,
                 loose_messages=False):
    """Column of `ddl_type` with `values`; Spark outcome must equal the row
    backend outcome (coerced value or first-error rule/position)."""
    rows = [(i, v) for i, v in enumerate(values)]
    out = run_plan(spark, T.dict(v=schema),
                   rows, f"rid int, v {ddl_type}")
    py = PyCompiler().compile(T.dict(v=(pyschema or schema)))
    for i, raw in enumerate(values):
        got = out[i]
        try:
            expect = py({"v": raw})["v"]
            assert got["_violations"] == [], \
                f"value {raw!r}: unexpected violations {got['_violations']}"
            assert _plain(got["v"]) == expect, \
                f"value {raw!r}: coerced {got['v']!r} != {expect!r}"
        except Invalid as ex:
            assert len(got["_violations"]) == 1, \
                f"value {raw!r}: expected violation {ex}, got " \
                f"{got['_violations']}"
            viol = got["_violations"][0]
            expect_pos = ex.position or "v"
            if not expect_pos.startswith("v"):
                expect_pos = "v" + ("" if expect_pos.startswith("[")
                                    else ".") + expect_pos
            assert viol["position"] == expect_pos, \
                f"value {raw!r}: position {viol['position']} != {expect_pos}"
            if not loose_messages:
                assert viol["message"] == ex.message, \
                    f"value {raw!r}: message {viol['message']!r} != " \
                    f"{ex.message!r}"


def test_int_string_input(spark):
    differential(spark, T.int.min(0).max(9),
                 ["0", "9", "5", "-1", "10", "abc", "1.5", " 7 ", None, ""],
                 "string")


def test_int_long_input(spark):
    differential(spark, T.int.min(0).max(100), [0, 100, -1, 101, None],
                 "long")


def test_int_double_input(spark):
    differential(spark, T.int, [1.9, -1.9, 0.0, None], "double")


def test_float_checks(spark):
    differential(spark, T.float.min(0).exmax(1),
                 ["0", "0.5", "1", "-0.1", "x", None, ""], "string")
    differential(spark, T.float, [0.0, -100.0, 1e308, None], "double")


def test_bool(spark):
    differential(spark, T.bool,
                 ["True", "yes", "ON", "y", "1", "0", "off", "N", "x", "",
                  None], "string")


def test_str_checks(spark):
    differential(spark, T.str.minlen(2).maxlen(4),
                 ["ab", "abcd", "a", "abcde", "中文字", None, ""], "string")
    differential(spark, T.str.strip, ["  ab  ", "ab"], "string")
    differential(spark, T.str.escape, ["&><'\"", "plain"], "string")
    differential(spark, T.str.match("[a-z]+"),
                 ["abc", "ABC", "abc1"], "string")
    differential(spark, T.str, [1, 123, None], "long")


def test_str_optional_default(spark):
    differential(spark, T.str.optional, [None, "", "x"], "string")
    differential(spark, T.str.default("d"), [None, "", "x"], "string")
    differential(spark, T.int.optional, [None, "", "5"], "string")
    differential(spark, T.int.default(3), [None, "", "5"], "string")


def test_invalid_to(spark):
    differential(spark, T.int.invalid_to(1), ["x", "5", None], "string")
    differential(spark, T.int.optional.invalid_to_default,
                 ["x", "5", None], "string")


def test_enum(spark):
    differential(spark, T.enum("A B C"), ["A", "B", "X", " A", None, ""],
                 "string")
    differential(spark, T.enum([1, 2, 3]), [1, 3, 4, None], "long")


def test_regex_validators(spark):
    differential(spark, T.phone,
                 ["13387654321", "+8613387654321", "1331234567x", None],
                 "string")
    differential(spark, T.slug, ["aa-b-c", "123-abc", "a--b", "-a", "中文"],
                 "string")
    differential(spark, T.idcard,
                 ["210727198507128796", "43138976061660X", "1234"], "string")


def test_network_expr(spark):
    # expr backend emits a generic message where the reference embeds the
    # ipaddress module's detailed text (documented divergence)
    differential(spark, T.ipv4,
                 ["127.0.0.1", "255.255.255.255", "256.0.0.0", "1.x.1.1",
                  " 10.0.0.1 ", None], "string", loose_messages=True)
    differential(spark, T.fqdn,
                 ["github.com", "mx.gmail.com.", "a", "localhost", "a..bc",
                  "aaa_bbb.com", "-a", "a-", "999.999.999.999", "a.bc"],
                 "string")
    differential(spark, T.uuid,
                 ["5bd4b82a-35d4-456c-9838-c3a0ab24bb9b",
                  "5bd4B82A35d4456c9838c3a0ab24bb9b",
                  "xxxxxxxx-35d4-456c-9838-c3a0ab24bb9b", None], "string")
    differential(spark, T.uuid.version(4),
                 ["5bd4b82a-35d4-456c-9838-c3a0ab24bb9b",
                  "5bd4b82a-35d4-156c-9838-c3a0ab24bb9b"], "string")


def test_url_expr(spark):
    # NOTE: scheme/length checks are expression-side; exotic urlparse
    # normalizations are not reproduced (documented divergence)
    differential(spark, T.url,
                 ["https://github.com", "http://tool.lu/regex/",
                  "github.com", "", None,
                  "https://www.google.com/" + "x" * 256], "string")


def test_pandas_udf_backends(spark):
    differential(spark, T.email,
                 ["12345678@qq.com", " 123@163.com ", "123 @163.com",
                  "中文@qq.com", "qq.com", None, ""], "string")
    differential(spark, T.ipv6,
                 ["2001:db8:2de:0:0:0:0:e13", "::1", "2001::25de::cade",
                  None], "string")
    differential(spark, T.date,
                 ["2016-07-09", "2016-7-9", "2016-13-09", "07-09", None],
                 "string")
    differential(spark, T.datetime,
                 ["2016-07-09T00:00:00.123Z", "2016-07-09T00:00:00.000000Z",
                  "2016-07-09T00:00:00Z"], "string")
    differential(spark, T.time, ["12:00:59", "24:00:00", "23:60:30"],
                 "string")
    differential(spark, T.timedelta,
                 ["12h59s", "2d59m59s", "10x", "23:30:30", None, ""],
                 "string")
    differential(spark, T.timedelta.min(10).max("24h"),
                 ["10s", "24h", "9s", "24h1s"], "string")
    differential(spark, T.timedelta, [10.0, 9.9, None], "double")


def test_native_screen_edges(spark):
    """The values at the edge of the native screens in front of the
    email and date/time/datetime UDFs: those pyvalidate rewrites or
    rejects must still get its answer, the canonical ones their input.
    Run under a zone with DST, so the gap time 02:30 of 2021-03-14 is
    checked where it does not exist."""
    ts = "2016-07-09T00:00:00.000000Z"
    lbl63, lbl64 = "b" * 63, "b" * 64
    differential(spark, T.email, [
        "a@example.com", "Bob.O'Neil+x@sub-1.example.org",
        "a@EXAMPLE.COM", "a@Example.com", "c@xn--fsqu00a.xn--3lr804guic",
        "a@例え.テスト", "a@ab--cd.com", "a@a--b.com", "a@xn--.com",
        "l" * 64 + "@e.io", "l" * 65 + "@e.io",
        f"a@{lbl63}.com", f"a@{lbl64}.com", "a@b.c1", "a@b.com1", "a@1.2",
        '"a b"@b.com', ".a@b.com", "a.@b.com", "a..b@b.com",
        " a@b.com ", "a@b.com\n", "a\n@b.com", "a@b", "a@-b.com",
        "a@b-.com", "a@b.com.", "a@@b.com", "a@b..com", "", None],
        "string")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        differential(spark, T.datetime, [
            ts, "1000-01-01T00:00:00.000000Z", "9999-12-31T23:59:59.999999Z",
            "2016-7-9T1:2:3.000000Z", "2016-07-09T00:00:00.1Z",
            "2016-07-09T00:00:00.12Z", "2016-07-09T00:00:00.123Z",
            "2016-07-09T00:00:00.1234Z", "2016-07-09T00:00:00.12345Z",
            "2016-07-09t00:00:00.000000Z", "2016-07-09T00:00:00.000000z",
            "２０１６-07-09T00:00:00.000000Z", "2016-07-09T00:00:0０.000000Z",
            "0000-01-01T00:00:00.000000Z", "0001-01-01T00:00:00.000000Z",
            "0999-12-31T00:00:00.000000Z", "2016-13-09T00:00:00.000000Z",
            "2016-04-31T00:00:00.000000Z", "2019-02-29T00:00:00.000000Z",
            "2020-02-29T00:00:00.000000Z", "2016-07-09T24:00:00.000000Z",
            "2016-07-09T23:59:60.000000Z", "2016-07-09T23:59:61.000000Z",
            ts + "\n", " " + ts, ts + " ", "2021-03-14T02:30:00.000000Z",
            "", None], "string")
        differential(spark, T.date, [
            "2016-07-09", "2016-7-9", "２０１６-07-09", "0001-01-01",
            "0999-01-01", "2016-13-09", "2016-04-31", "2019-02-29",
            "2020-02-29", "2016-07-09\n", " 2016-07-09", "2021-03-14"],
            "string")
        differential(spark, T.time, [
            "12:00:59", "1:2:3", "00:00:0０", "24:00:00", "23:59:60",
            "23:59:61", "12:00:00\n", " 12:00:00", "02:30:00"], "string")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_native_screen_plan_shape(spark):
    """The perfbench ``pyudf`` schema's ``violations()`` plans one
    Python pass, and each screen once per row: one ``rlike`` per
    screened field.  Custom formats, custom Python validators and
    non-string inputs keep the unscreened UDF."""
    from validr_spark.pyvalidate import validator
    from validr_spark.testing import plan_count, python_passes

    df = spark.createDataFrame(
        [(0, 0, "a@b.com", "2016-07-09T00:00:00.000000Z", None)],
        "rid int, uid int, email string, ts string, d date")
    schema = T.dict(uid=T.int.min(0), email=T.email, ts=T.datetime)
    res = SparkCompiler().compile(schema).apply(df, id_cols=["rid"])
    for got in (res.violations(), res.df):
        assert python_passes(got) == 1
        assert plan_count(got, "rlike") == 2

    @validator(accept=str, output=str)
    def lower_email(compiler):
        return str.lower

    unscreened = [
        (SparkCompiler(py_validators={"email": lower_email}), "email",
         T.email),
        (SparkCompiler(), "ts", T.datetime.format("%Y-%m-%dT%H:%M:%S.%f")),
        (SparkCompiler(), "d", T.date)]
    for sc, col, sub in unscreened:
        got = sc.compile(T.dict(**{col: sub})).apply(
            df, id_cols=["rid"]).violations()
        assert python_passes(got) == 1
        assert plan_count(got, "rlike") == 0, (col, sub)


def test_list_checks(spark):
    differential(spark, T.list(T.int.min(0).max(9)),
                 [[1, 2], [], [0, 9], [1, -1], [1, 10, -1], None],
                 "array<long>")
    differential(spark, T.list(T.int).minlen(1).maxlen(3),
                 [[1], [], [1, 2, 3, 4], None], "array<long>")
    differential(spark, T.list(T.int).unique,
                 [[1, 2, 3], [1, 2, 2], [2, 2]], "array<long>")
    differential(spark, T.list(T.str.minlen(2)),
                 [["ab", "cd"], ["ab", "c"]], "array<string>")


def test_nested_struct(spark):
    differential(spark, T.dict(userid=T.int.min(0).max(9)),
                 [{"userid": 5}, {"userid": 15}, None],
                 "struct<userid:long>")
    differential(
        spark, T.dict(k=T.dict(k2=T.int.min(0))),
        [{"k": {"k2": 1}}, {"k": {"k2": -1}}, {"k": None}],
        "struct<k:struct<k2:long>>")


def test_list_of_struct(spark):
    differential(
        spark, T.list(T.dict(x=T.int.max(5))),
        [[{"x": 1}, {"x": 9}], [{"x": 2}]],
        "array<struct<x:long>>")


def test_union_tagged(spark):
    schema = T.union(
        cat=T.dict(sound=T.str),
        dog=T.dict(legs=T.int),
    ).by("kind")
    rows = [
        (0, ("cat", "meow", None)),
        (1, ("dog", None, 4)),
        (2, ("bird", None, None)),
        (3, (None, "x", None)),
    ]
    df = spark.createDataFrame(
        [(i, {"kind": k, "sound": s, "legs": l}) for i, (k, s, l) in rows],
        "rid int, v struct<kind:string,sound:string,legs:long>")
    plan = SparkCompiler().compile(T.dict(v=schema))
    out = {r["rid"]: r for r in plan.apply(df, id_cols=["rid"]).df.collect()}
    assert out[0]["_violations"] == []
    assert out[0]["v"]["kind"] == "cat"
    assert out[1]["_violations"] == []
    assert out[2]["_violations"][0]["position"] == "v.kind"
    assert "expect one of" in out[2]["_violations"][0]["message"]
    assert out[3]["_violations"][0]["message"] == "required"


def test_union_shape_static(spark):
    # shape dispatch resolves statically on the Spark column type
    differential(spark, T.union([T.int.min(0), T.list(T.int)]),
                 [[1, 2], [7]], "array<long>",
                 pyschema=T.union([T.int.min(0), T.list(T.int)]))
    differential(spark, T.union([T.int.min(0), T.list(T.int)]),
                 [5, -1], "long")


def test_container_over_wrong_column_type(spark):
    # a static type mismatch: every non-null value fails `<field>.type`
    # and coerces to NULL; a NULL value is only `required`
    from pyspark.sql import types as st

    cases = [
        (T.dict(x=T.int), "string", "abc", "'abc'", "must be dict",
         st.StructType([st.StructField("x", st.NullType())])),
        (T.list(T.int), "int", 7, "7", "not list",
         st.ArrayType(st.NullType())),
        (T.union(a=T.dict(n=T.int), b=T.dict(m=T.str)).by("kind"),
         "string", "abc", "'abc'", "must be dict", st.StringType()),
    ]
    for schema, ddl, value, raw, message, out_type in cases:
        df = spark.createDataFrame([(0, value), (1, None)],
                                   f"rid int, f {ddl}")
        res = SparkCompiler().compile(T.dict(f=schema)).apply(
            df, id_cols=["rid"])
        assert res.df.schema["f"].dataType == out_type
        assert [r["f"] for r in res.df.orderBy("rid").collect()] == \
            [None, None]
        viols = {v["rid"]: v for v in res.violations().collect()}
        assert (viols[0]["rule_id"], viols[0]["position"],
                viols[0]["message"]) == ("f.type", "f", message)
        assert viols[0]["value"] == raw
        assert viols[1]["rule_id"] == "f.required"


def test_value_clipping(spark):
    df = spark.createDataFrame([(0, "x" * 100)], "rid int, v string")
    plan = SparkCompiler().compile(T.dict(v=T.str.maxlen(10)))
    viol = plan.apply(df, id_cols=["rid"]).violations().collect()[0]
    assert viol["value"] == "'" + "x" * 75 + "..'"
    assert viol["rule_id"] == "v.maxlen"


def test_rule_ids_and_missing_column(spark):
    df = spark.createDataFrame([(1,)], "a long")
    plan = SparkCompiler().compile(T.dict(a=T.int, b=T.str))
    viols = plan.apply(df).violations().collect()
    assert [(v["rule_id"], v["position"]) for v in viols] == \
        [("b.required", "b")]


def test_extra_columns_dropped(spark):
    df = spark.createDataFrame([(1, "x")], "a long, extra string")
    plan = SparkCompiler().compile(T.dict(a=T.int))
    res = plan.apply(df)
    assert res.clean().columns == ["a"]


def test_schema_error_parity(spark):
    with pytest.raises(SchemaError):
        SparkCompiler().compile(T.dict(a=T.int.default("x")))
    with pytest.raises(SchemaError):
        SparkCompiler().compile(T.dict(a=T.unknown))
    with pytest.raises(SchemaError):
        SparkCompiler().compile(T.dict(a=T.union([T.int, T.str])))


def test_custom_spark_validator_fallback(spark):
    """A custom python validator with no expression builder runs as an
    Arrow-batch UDF automatically."""
    from validr_spark import Invalid, validator

    @validator(accept=str, output=str)
    def choice_validator(compiler, items):
        choices = set(items.split())

        def validate(value):
            if value in choices:
                return value
            raise Invalid("invalid choice")

        return validate

    sc = SparkCompiler(py_validators={"choice": choice_validator})
    df = spark.createDataFrame([(0, "A"), (1, "Z")], "rid int, v string")
    plan = sc.compile(T.dict(v=T.choice("A B")))
    out = {r["rid"]: r for r in plan.apply(df, id_cols=["rid"]).df.collect()}
    assert out[0]["v"] == "A" and out[0]["_violations"] == []
    assert out[1]["_violations"][0]["message"] == "invalid choice"


def test_verdicts(spark):
    df = spark.createDataFrame(
        [("p1", 5), ("p1", -1), ("p2", 3)], "part string, v long")
    plan = SparkCompiler().compile(T.dict(v=T.int.min(0)))
    res = plan.apply(df, id_cols=["part"])
    verd = {r["part"]: r for r in res.verdicts("part").collect()}
    assert verd["p1"]["verdict"] == "fail"
    assert verd["p1"]["n_bad_rows"] == 1
    assert verd["p2"]["verdict"] == "pass"


def test_result_views_one_python_pass(spark):
    """violations / clean / bad_rows each run the pandas UDFs once per
    row, and return the rows of their unguarded forms, which filter
    below the projection and so run the UDFs a second time.  The
    violations array is compacted without a lambda on the per-row path
    of both gated workloads: the pandas-UDF schema's ``violations()``
    and the sequences report's ``apply``/``flag`` of ``rowlevel_schema``.
    """
    from validr_spark.operators.sequences import rowlevel_schema
    from validr_spark.testing import (physical_plan, plan_count,
                                      python_passes)

    rows = [(0, 0, "a@example.com", "2016-07-09T00:00:00.123Z"),
            (1, 1, "Bob@EXAMPLE.ORG", "2016-07-09T00:00:00.000000Z"),
            (2, 2, "not-an-email", "2016-07-09T00:00:00.000000Z"),
            (3, 3, "x@b.com", "2016-13-09T00:00:00.000000Z"),
            (4, -4, None, None),
            (5, 5, "", "07-09"),
            (6, None, "中文@例え.テスト", "2016-07-09T00:00:00Z"),
            (7, 7, "a@b..com", ""),
            (8, 8, "c@xn--fsqu00a.xn--3lr804guic", "2016-07-09T00:00:00Z")]
    df = spark.createDataFrame(
        rows, "rid int, uid int, email string, ts string")
    plan = SparkCompiler().compile(
        T.dict(uid=T.int.min(0), email=T.email, ts=T.datetime))
    res = plan.apply(df, id_cols=["rid"])
    vc = F.col("_violations")
    bad = res.df.filter(F.size(vc) > 0)
    unguarded = {
        "violations": bad.select("rid", F.explode(vc).alias("v"))
                         .select("rid", "v.*"),
        "clean": res.df.filter(F.size(vc) == 0).drop("_violations"),
        "bad_rows": bad.withColumn("n_violations", F.size(vc))
                       .drop("_violations"),
    }
    for name, want in unguarded.items():
        got = getattr(res, name)()
        assert python_passes(got) == 1, physical_plan(got)
        assert python_passes(want) == 2, physical_plan(want)
        got_rows = sorted(got.collect(), key=str)
        assert got_rows and got_rows == sorted(want.collect(), key=str)
        assert got.columns == want.columns
    assert plan_count(res.violations(), "lambdafunction") == 0
    seqs = spark.createDataFrame(
        [("d0", [1, 2], 2, "a"), ("d1", None, 9, "z")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rowlevel = SparkCompiler().compile(rowlevel_schema(16, 4, ["a", "b"]))
    for got in (rowlevel.apply(seqs, id_cols=["doc_id"]).df,
                rowlevel.flag(seqs)):
        assert plan_count(got, "lambdafunction") == 0
    # pipeline.py's validate stage filters plan.flag unguarded, yet plans
    # one pass: the filter keeps no other use of the projected column,
    # so ColumnPruning drops it and the UDFs run only under the filter
    kept = (plan.flag(df, "_pipe_violations")
            .filter(F.size("_pipe_violations") == 0)
            .drop("_pipe_violations"))
    assert python_passes(kept) == 1, physical_plan(kept)
    assert sorted(r["rid"] for r in kept.collect()) == \
        sorted(r["rid"] for r in res.clean().collect())


def _filter_oracle(cols, elem_type):
    """The compaction ``nonnull_array`` replaced: an interpreted
    ``filter(array(cols), x -> x IS NOT NULL)``, empty over no cols."""
    from pyspark.sql import types as st

    if not cols:
        return F.array().cast(st.ArrayType(elem_type))
    return F.filter(F.array(*cols), lambda x: x.isNotNull())


def _oracle_violations(plan, df):
    """``flag``'s violations array built with the filter oracle from the
    same compiled per-field errors."""
    from pyspark.sql import types as st

    from validr_spark.rules import VIOLATION_TYPE

    in_types = {f.name: f.dataType for f in df.schema.fields}
    errs = []
    for name, sub in plan.schema.items.items():
        node = plan.compiler.compile_node(
            sub, in_types.get(name, st.NullType()), name)
        col = F.col(name) if name in in_types else F.lit(None)
        errs.append(node.error(col, F.lit(name)))
    return _filter_oracle(errs, VIOLATION_TYPE)


@pytest.mark.parametrize("case", ["fields", "dotted_dup", "zero_fields"])
def test_violations_array_matches_filter_oracle(spark, case):
    """``apply`` and ``flag`` compact the per-field errors with
    ``nonnull_array``: the same array, element for element and in schema
    order, as the interpreted filter they replaced — duplicates kept."""
    if case == "fields":
        # `m` is missing from the input and reads NULL -> required
        schema = T.dict(x=T.int.min(0), s=T.str.maxlen(3),
                        arr=T.list(T.int.min(0)).maxlen(2), m=T.int)
        ddl = "rid int, x int, s string, arr array<int>"
        rows = [(0, None, None, None),            # every input NULL
                (1, -1, "long", [1, 2, 3, 4, 5]),  # every field fails
                (2, 1, "ok", [1]),
                (3, 5, "abcd", [0, -1])]
    elif case == "dotted_dup":
        # the `a.b` field and `a`'s `b` field fail with equal structs
        schema = T.dict(**{"a.b": T.int, "a": T.dict(b=T.int)})
        ddl = "rid int, `a.b` string, a struct<b string>"
        rows = [(0, "x", ("x",)), (1, "1", ("2",))]
    else:
        schema = T.dict()
        ddl = "rid int, x int"
        rows = [(0, None), (1, 1)]
    df = spark.createDataFrame(rows, ddl)
    plan = SparkCompiler().compile(schema)
    want = {r["rid"]: r["v"] for r in
            df.select("rid", _oracle_violations(plan, df).alias("v"))
            .collect()}
    applied = plan.apply(df, id_cols=["rid"]).df
    flagged = plan.flag(df)
    for got in (applied, flagged):
        assert got.schema["_violations"].dataType == \
            df.select(_oracle_violations(plan, df)).schema[0].dataType
        assert {r["rid"]: r["_violations"] for r in got.collect()} == want
    if case == "fields":
        assert [v["rule_id"] for v in want[1]] == \
            ["x.min", "s.maxlen", "arr.maxlen", "m.required"]
        assert [v["rule_id"] for v in want[2]] == ["m.required"]
    elif case == "dotted_dup":
        assert len(want[0]) == 2 and want[0][0] == want[0][1]
    else:
        assert want == {0: [], 1: []}


def test_nonnull_array_matches_filter_oracle(spark):
    """On the helper directly: duplicates and order kept, all-NULL
    inputs give an empty array, no inputs a typed empty array."""
    from pyspark.sql import types as st

    from validr_spark.operators._barrier import nonnull_array
    from validr_spark.testing import plan_count

    df = spark.createDataFrame(
        [(0, 1, 1), (1, None, None), (2, None, 3), (3, 4, None)],
        "rid int, x int, y int")
    x, y = F.col("x"), F.col("y")
    cases = {"dup": [x, y, x, F.lit(None).cast("int"), y],
             "nulls": [F.lit(None).cast("int"), F.lit(None).cast("int")],
             "one": [y], "zero": []}
    cols = []
    for k, cs in cases.items():
        cols += [nonnull_array(cs, st.IntegerType()).alias(f"n_{k}"),
                 _filter_oracle(cs, st.IntegerType()).alias(f"o_{k}")]
    out = df.select("rid", *cols)
    assert plan_count(out.select(*[f"n_{k}" for k in cases]),
                      "lambdafunction") == 0
    got = out.collect()
    for k in cases:
        assert out.schema[f"n_{k}"].dataType.elementType == \
            st.IntegerType()
        for r in got:
            assert r[f"n_{k}"] == r[f"o_{k}"], (k, r)
    assert {r["rid"]: r["n_dup"] for r in got} == \
        {0: [1, 1, 1, 1], 1: [], 2: [3, 3], 3: [4, 4]}


def test_int_list_over_boolean_array(spark):
    """Regression: the whole-array int fast path must compile for
    array<boolean> input (BooleanType is integral-accepted); previously
    array_min(boolean) vs long literal failed at plan time."""
    out = run_plan(spark, T.dict(v=T.list(T.int.min(0).max(1))),
                   [(0, [True, False]), (1, [True, None])],
                   "rid int, v array<boolean>")
    assert _plain(out[0]["v"]) == [1, 0]
    assert out[0]["_violations"] == []
    assert len(out[1]["_violations"]) == 1
    assert out[1]["_violations"][0]["rule_id"] == "v[].required"


def test_int_list_bounds_over_boolean_array(spark):
    # bound violation path on booleans: max(0) makes True invalid
    out = run_plan(spark, T.dict(v=T.list(T.int.min(0).max(0))),
                   [(0, [False, True])], "rid int, v array<boolean>")
    assert len(out[0]["_violations"]) == 1
    assert out[0]["_violations"][0]["rule_id"] == "v[].max"


def test_fixed_dict_minlen_maxlen_schema_error(spark):
    """Documented divergence: dict minlen/maxlen count input-mapping keys
    in the reference; a fixed StructType input can't represent that, so
    compiling them over a struct raises instead of silently ignoring."""
    df = spark.createDataFrame([(1, (1,))], "rid int, v struct<a:int>")
    with pytest.raises(SchemaError, match="minlen"):
        plan = SparkCompiler().compile(T.dict(v=T.dict(a=T.int).minlen(1)))
        plan.apply(df, id_cols=["rid"])
    # MapType input keeps full support (no error)
    dfm = spark.createDataFrame([(1, {"a": 1})], "rid int, v map<string,int>")
    plan2 = SparkCompiler().compile(
        T.dict(v=T.dict.key(T.str).value(T.int).minlen(1)))
    assert plan2.apply(dfm, id_cols=["rid"]).violations().count() == 0


def test_union_ambiguous_schema_error(spark):
    """Reference parity (pyx:676-692): two alternatives of the same shape
    in a list-form union raise 'ambiguous union schema' at compile."""
    df = spark.createDataFrame([(1, "x")], "rid int, v string")
    with pytest.raises(SchemaError, match="ambiguous union schema"):
        plan = SparkCompiler().compile(T.dict(v=T.union([T.str, T.int])))
        plan.apply(df, id_cols=["rid"])


def test_table_fingerprint_order_insensitive(spark):
    from validr_spark.operators.stats import table_fingerprint
    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "id long, s string")
    b = spark.createDataFrame(
        [(3, None), (1, "x"), (2, "y")], "id long, s string")
    fa = table_fingerprint(a).collect()[0]
    fb = table_fingerprint(b.repartition(7)).collect()[0]
    assert (fa["n_rows"], fa["fingerprint"]) == (3, fb["fingerprint"])
    # any changed cell flips it
    c = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id long, s string")
    assert table_fingerprint(c).collect()[0]["fingerprint"] \
        != fa["fingerprint"]


def test_top_k_per_group_partial_limit_plan(spark):
    from validr_spark.operators.stats import top_k_per_group
    df = spark.createDataFrame(
        [(g, v) for g in range(4) for v in range(50)], "g int, v int")
    got = top_k_per_group(df, "g", [F.desc("v")], 3, rank_col="rk")
    rows = got.collect()
    assert len(rows) == 12
    assert all(r["v"] >= 47 for r in rows)
    assert sorted(r["rk"] for r in rows if r["g"] == 0) == [1, 2, 3]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_fuzzy_orphans_near_miss_vs_orphan(spark):
    from validr_spark.operators.referential import fuzzy_orphans
    dim = spark.createDataFrame(
        [("wikipedia",), ("github",), ("arxiv",)], "source string")
    df = spark.createDataFrame(
        [("wikipedia",), ("wikipedai",),    # transposition = 2 edits
         ("wikipedi",),                     # 1 deletion -> near miss
         ("githb",), ("gith",),            # 1 del near-miss, 2-del orphan
         ("qqqq",), ("arxiv1",)],           # orphan; 1 insert near-miss
        "source string")
    rows = {r["value"]: r for r in fuzzy_orphans(df, dim, "source").collect()}
    assert "wikipedia" not in rows                 # exact match: not listed
    assert rows["wikipedi"]["status"] == "near_miss"
    assert rows["wikipedi"]["suggestion"] == "wikipedia"
    assert rows["githb"]["status"] == "near_miss"
    assert rows["arxiv1"]["status"] == "near_miss"
    assert rows["wikipedai"]["status"] == "orphan"  # lev 2: not suggested
    assert rows["gith"]["status"] == "orphan"
    assert rows["qqqq"]["status"] == "orphan"


def test_fuzzy_orphans_matches_brute_force(spark):
    import random
    from validr_spark.operators.referential import fuzzy_orphans

    def lev(a, b):
        m = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(len(a) + 1):
            m[i][0] = i
        for j in range(len(b) + 1):
            m[0][j] = j
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i][j] = min(m[i - 1][j] + 1, m[i][j - 1] + 1,
                              m[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
        return m[-1][-1]

    rng = random.Random(11)
    alphabet = "abc"
    dims = list({"".join(rng.choice(alphabet)
                         for _ in range(rng.randint(2, 5)))
                 for _ in range(30)})
    keys = list({"".join(rng.choice(alphabet)
                         for _ in range(rng.randint(2, 5)))
                 for _ in range(60)})
    dim = spark.createDataFrame([(d,) for d in dims], "source string")
    df = spark.createDataFrame([(k,) for k in keys], "source string")
    got = {r["value"]: r["status"]
           for r in fuzzy_orphans(df, dim, "source").collect()}
    for k in keys:
        if k in dims:
            assert k not in got
        else:
            near = any(lev(k, d) <= 1 for d in dims)
            assert got[k] == ("near_miss" if near else "orphan"), k


def test_table_fingerprint_boundary_and_null_unambiguous(spark):
    # review finding: 'a|b','c' vs 'a','b|c' collided; ' NULL' vs NULL too
    from validr_spark.operators.stats import table_fingerprint
    a = spark.createDataFrame([("a|b", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "b|c")], "x string, y string")
    fa = table_fingerprint(a).collect()[0]["fingerprint"]
    fb = table_fingerprint(b).collect()[0]["fingerprint"]
    assert fa != fb
    c = spark.createDataFrame([(" NULL",)], "x string")
    d = spark.createDataFrame([(None,)], "x string")
    assert table_fingerprint(c).collect()[0]["fingerprint"] \
        != table_fingerprint(d).collect()[0]["fingerprint"]


# -- the integer element screen's null probe --------------------------------

_SPANS = {ddl: (-2 ** (b - 1), 2 ** (b - 1) - 1) for ddl, b in
          (("tinyint", 8), ("smallint", 16), ("int", 32), ("bigint", 64))}


def _compact_screen(arr, boolean, lo, hi):
    """The array_compact form of the screen, which the probe replaced."""
    larr = arr.cast("array<long>") if boolean else arr
    cond = ((F.size(F.array_compact(arr)) < F.size(arr))
            | (F.array_min(larr) < F.lit(lo))
            | (F.array_max(larr) > F.lit(hi)))
    return F.coalesce(cond, F.lit(False))


def _screen_cases(t_lo, t_hi):
    """(lo, hi) bounds: inside the type, and at its min and max (where only
    one probe fits, or none)."""
    return [(0, 9), (-3, 5), (t_lo, 4), (-2, t_hi), (t_lo, t_hi)]


def test_array_screen_probe_equals_compact(spark):
    import random

    from validr_spark.testing import plan_count

    rnd = random.Random(7)
    for ddl in ("tinyint", "smallint", "int", "bigint", "boolean"):
        t_lo, t_hi = _SPANS.get(ddl, (0, 1))
        cases = (_screen_cases(t_lo, t_hi) if ddl != "boolean"
                 else [(0, 0), (1, 1), (0, 1)])
        fits = lambda v: v is None or t_lo <= v <= t_hi   # noqa: E731
        conv = bool if ddl == "boolean" else int
        arrays = [None, [], [None]]
        for lo, hi in cases:
            probe = next((p for p in (lo - 1, hi + 1) if fits(p)), None)
            mid = (lo + hi) // 2
            arrays += [[probe], [probe, None], [lo, hi], [lo - 1], [hi + 1],
                       [None, mid, probe], [mid, mid]]
            pool = [lo - 1, lo, mid, hi, hi + 1, t_lo, t_hi, None]
            arrays += [[rnd.choice(pool) for _ in range(rnd.randint(0, 5))]
                       for _ in range(30)]
        arrays = [a if a is None else [x if x is None else conv(x)
                                       for x in a]
                  for a in arrays if a is None or all(fits(x) for x in a)]
        df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)],
                                   f"rid int, a array<{ddl}>")
        et = df.schema["a"].dataType.elementType
        cols = []
        for k, (lo, hi) in enumerate(cases):
            node = SparkCompiler().compile_node(
                T.int.min(lo).max(hi).__schema__, et, "a[]")
            new = node.array_invalid(F.col("a"))
            old = _compact_screen(F.col("a"), ddl == "boolean", lo, hi)
            cols += [new.alias(f"n{k}"), old.alias(f"o{k}")]
            has_probe = ddl != "boolean" and (t_lo < lo or hi < t_hi)
            lambdas = plan_count(df.select(new), "lambdafunction")
            assert (lambdas > 0) != has_probe, (ddl, lo, hi)
            # the probe literal takes the element type: no per-row array cast
            assert not has_probe or \
                plan_count(df.select(new), "cast(a#") == 0, (ddl, lo, hi)
        for r in df.select("rid", "a", *cols).collect():
            for k, (lo, hi) in enumerate(cases):
                assert r[f"n{k}"] == r[f"o{k}"], (ddl, lo, hi, r["a"])
