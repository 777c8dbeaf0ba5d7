"""Regression tests for the round-3 continuation review of the core
layer: default-over-missing-column VOID cast, pipeline NULL-id collateral
drop, enum cross-type coercion, timedelta NaN/inf, element-string escape
decoding of non-ASCII, uuid normalization parity, streaming drift
baseline total, stateful key typing, and manifest n_bad_rows honesty."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from validr_spark import T
from validr_spark.compiler import SparkCompiler


# -------------------------------------------- default over missing column

def test_enum_default_fills_missing_column(spark):
    plan = SparkCompiler().compile(
        T.dict(source=T.enum(["web", "books"]).default("web")))
    df = spark.createDataFrame([(1,), (2,)], "id long") \
        .withColumn("_id", F.col("id"))
    res = plan.apply(df, id_cols=["_id"])
    rows = res.df.select("source", F.size("_violations").alias("nv")) \
        .collect()
    assert all(r["source"] == "web" and r["nv"] == 0 for r in rows)


def test_enum_invalid_to_over_missing_typed_output(spark):
    plan = SparkCompiler().compile(
        T.dict(flag=T.enum([1, 2, 3]).default(2)))
    df = spark.createDataFrame([(1,)], "id long").withColumn(
        "_id", F.col("id"))
    out = plan.apply(df, id_cols=["_id"]).df.select("flag").first()
    assert out["flag"] == 2


# ------------------------------------------------- pipeline NULL-id drop

def test_pipeline_null_ids_no_collateral_drop(spark):
    from validr_spark.pipeline import prepare_training_data

    # 3 NULL-id rows: one fails n_tok max, two pass.  The old anti-join by
    # eqNullSafe(id) dropped ALL null-id rows once one violated.
    rows = [(None, "valid text alpha beta gamma delta", 5),
            (None, "another valid text entirely different words", 6),
            (None, "bad row text here completely", 999),
            ("d1", "a fine document with plenty of words", 7)]
    df = spark.createDataFrame(rows, "doc_id string, text string, n_tok int")
    schema = T.dict(doc_id=T.str.optional,
                    text=T.str.minlen(1),
                    n_tok=T.int.min(1).max(100))
    res = prepare_training_data(df, schema, near_dup=False, pack=False,
                                len_col="n_tok",
                                quality_kwargs={"min_words": 1})
    texts = {r["text"] for r in res.kept.select("text").collect()}
    assert "valid text alpha beta gamma delta" in texts
    assert "another valid text entirely different words" in texts
    assert "bad row text here completely" not in texts
    val_stage = [s for s in res.stats if s["stage"] == "validate"][0]
    assert val_stage["rows_out"] == 3


# ------------------------------------------------------- enum cross-type

def test_enum_string_input_int_items_rejects(spark):
    """Reference semantics: '1' not in {0,1,2} — Spark's IN coercion must
    not cast across the string/number boundary."""
    plan = SparkCompiler().compile(T.dict(v=T.enum([0, 1, 2])))
    df = spark.createDataFrame([("1",), ("x",)], "v string") \
        .withColumn("_id", F.monotonically_increasing_id())
    viol = plan.apply(df, id_cols=["_id"]).violations().collect()
    assert len(viol) == 2
    assert all(r["rule_id"] == "v.enum" for r in viol)


def test_enum_int_input_int_items_still_pass(spark):
    plan = SparkCompiler().compile(T.dict(v=T.enum([0, 1, 2])))
    df = spark.createDataFrame([(1,), (5,)], "v int") \
        .withColumn("_id", F.monotonically_increasing_id())
    res = plan.apply(df, id_cols=["_id"])
    assert res.violations().count() == 1  # only the 5


def test_enum_mixed_items_partition(spark):
    """String items still match string input when the enum mixes types."""
    plan = SparkCompiler().compile(T.dict(v=T.enum(["a", 1])))
    df = spark.createDataFrame([("a",), ("1",)], "v string") \
        .withColumn("_id", F.monotonically_increasing_id())
    viol = plan.apply(df, id_cols=["_id"]).violations().collect()
    # 'a' matches the string item; '1' must NOT match the int item
    assert len(viol) == 1 and viol[0]["value"] == "'1'"


# ------------------------------------------------------- timedelta NaN/inf

def test_timedelta_nan_is_invalid_not_silent(spark):
    plan = SparkCompiler().compile(T.dict(d=T.timedelta.min("1s")))
    df = spark.createDataFrame([(float("nan"),), (5.0,)], "d double") \
        .withColumn("_id", F.monotonically_increasing_id())
    res = plan.apply(df, id_cols=["_id"])
    viol = res.violations().collect()
    assert len(viol) == 1
    assert viol[0]["message"] == "invalid timedelta"
    vals = [r["d"] for r in res.df.select("d").collect()]
    assert sorted(v for v in vals if v is not None) == [5.0]


def test_timedelta_inf_invalid_via_udf_backend():
    """timedelta(seconds=inf) raises OverflowError — it must surface as
    Invalid, not crash the executor."""
    from validr_spark.errors import Invalid
    from validr_spark.pyvalidate import Compiler
    from validr_spark.schema import Schema

    v = Compiler().compile(Schema.parse_element("timedelta.object"))
    with pytest.raises(Invalid, match="invalid timedelta"):
        v(float("inf"))
    assert v(5.5) == dt.timedelta(seconds=5.5)


# ------------------------------------------------ element-string escapes

def test_parse_element_preserves_non_ascii_literals():
    from validr_spark.schema import Schema

    s = Schema.parse_element("str.match('café.*').default('naïve')")
    assert s.params["match"] == "café.*"
    assert s.params["default"] == "naïve"
    # escapes still decode
    s2 = Schema.parse_element(r"str.match('a\tb')")
    assert s2.params["match"] == "a\tb"


# ----------------------------------------------------------------- uuid

def test_uuid_accepts_noncanonical_hyphens(spark):
    """uuid.UUID (the reference's parser) strips hyphens anywhere and
    accepts urn:/brace forms; the expression backend must agree."""
    import uuid as _uuid

    cases = ["12345678-1234-5678-1234-567812345678",
             "1234-5678123456781234-567812345678",
             "12345678123456781234567812345678",
             "urn:uuid:12345678-1234-5678-1234-567812345678",
             "{12345678-1234-5678-1234-567812345678}",
             "12345678-1234-5678-1234-56781234567",    # 31 hex: bad
             "g2345678-1234-5678-1234-567812345678"]   # non-hex: bad
    for c in cases[:5]:
        _uuid.UUID(c)  # sanity: reference parser accepts these
    plan = SparkCompiler().compile(T.dict(u=T.uuid))
    df = spark.createDataFrame([(c,) for c in cases], "u string") \
        .withColumn("_id", F.monotonically_increasing_id())
    res = plan.apply(df, id_cols=["_id"])
    assert res.violations().count() == 2
    canon = "12345678-1234-5678-1234-567812345678"
    got = [r["u"] for r in res.df.select("u").collect() if r["u"]]
    assert got == [canon] * 5


# ------------------------------------------------- streaming drift total

def test_windowed_drift_total_shift_scores_high(spark):
    from validr_spark.streaming.drift import windowed_category_drift

    t0 = dt.datetime(2026, 1, 1)
    rows = [(t0 + dt.timedelta(seconds=i), "z") for i in range(100)]
    df = spark.createDataFrame(rows, "ts timestamp, cat string")
    base = spark.createDataFrame([("a", 1000)], "category string, n long")
    out = windowed_category_drift(df, base, "ts", "cat",
                                  window="10 minutes").collect()
    # every observed category missed the baseline: with the baseline total
    # correctly joined, exp('z') = 0.5/1000 * 100 = 0.05 and chi2 is huge;
    # the old F.first-over-matches path fell back to t_base=1 and scored
    # ~150 — low enough to pass most thresholds during TOTAL drift
    assert len(out) == 1
    assert out[0]["chi2"] > 10_000


# ---------------------------------------------------- stateful key typing

def test_running_verdicts_numeric_key(spark, tmp_path):
    from validr_spark.streaming import running_verdicts

    data = str(tmp_path / "in_nk")
    rows = [(i, 999 if i % 10 == 0 else 5, 1 + (i % 2)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int, source long")
    df.coalesce(1).write.parquet(data)
    schema = T.dict(doc_id=T.int, n_tok=T.int.min(1).max(100),
                    source=T.int)
    sdf = spark.readStream.schema(df.schema).parquet(data)
    verd = running_verdicts(SparkCompiler().compile(schema), sdf,
                            key_col="source", fail_rate=0.05)
    q = (verd.writeStream.format("memory").queryName("runverd_nk")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = spark.sql("SELECT * FROM runverd_nk").collect()
    assert {r["key"] for r in out} == {"1", "2"}
    assert sum(r["n_rows"] for r in out) == 20


# ---------------------------------------------------- manifest n_bad_rows

def test_manifest_n_bad_rows_exact(spark, tmp_path):
    """n_bad_rows is the number of rows with at least one violation, with
    or without id columns — bad rows sharing an id or with a NULL id
    count once each."""
    from validr_spark.plans import ResumableValidation

    schema = T.dict(doc_id=T.str, n_tok=T.int.min(1).max(100),
                    source=T.str)
    rows = [(f"{s}-{i}", 999 if i < 2 else 5, s)
            for s in ("a", "b") for i in range(10)]
    rows += [(f"c-{i}", 5, "c") for i in range(10)]
    # two bad rows sharing a doc_id, one bad row with a NULL doc_id
    rows += [("d-0", 999, "d"), ("d-0", 0, "d"), (None, 999, "d"),
             ("d-1", 5, "d")]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
    plan = SparkCompiler().compile(schema)

    def manifest(name, **kw):
        rv = ResumableValidation(plan, part_col="source",
                                 manifest_path=str(tmp_path / name / "m"),
                                 violations_path=str(tmp_path / name / "v"))
        rv.run(spark, df, **kw)
        return {r["part"]: r for r in
                spark.read.parquet(str(tmp_path / name / "m")).collect()}

    m = manifest("no_ids")  # NO id_cols
    assert m["a"]["n_violations"] == 2 and m["a"]["n_bad_rows"] == 2
    assert m["b"]["n_bad_rows"] == 2
    # clean partition: zero violations pins zero bad rows
    assert m["c"]["n_violations"] == 0 and m["c"]["n_bad_rows"] == 0
    assert m["d"]["n_bad_rows"] == 3

    m = manifest("ids", id_cols=["doc_id"])
    keyed = df.withColumn("_part", F.col("source"))
    want = {r["_part"]: (r["n_rows"], r["n_violations"], r["n_bad_rows"],
                         r["verdict"])
            for r in plan.apply(keyed, id_cols=["_part", "doc_id"])
            .verdicts("_part").collect()}
    got = {p: (r["n_rows"], r["n_violations"], r["n_bad_rows"],
               r["verdict"]) for p, r in m.items()}
    assert got == want
    # the NULL doc_id is itself a violation (doc_id is required)
    assert want["d"] == (4, 4, 3, "fail")
