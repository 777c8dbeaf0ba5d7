"""Tests for the corpus-hygiene operators: encoding QC (operators/
encoding.py), robust MAD outliers (operators/stats.py), embedding hygiene
(operators/embedding.py)."""

import math

import pytest
from pyspark.sql import functions as F

from validr_spark.operators.embedding import embedding_hygiene
from validr_spark.operators.encoding import (ENCODING_PATTERNS,
                                             encoding_report, encoding_scan)
from validr_spark.operators.stats import (MAD_CONSISTENCY, mad_outliers,
                                          robust_center_scale)
from validr_spark.testing import physical_plan, python_passes

# ---------------------------------------------------------------- encoding


SAMPLES = [
    (1, "clean text here", "a"),
    (2, "lost �� bytes", "a"),
    (3, "ctrl\x08here\x00and\x1f", "a"),
    (4, "tab\tok\nnewline\rcr fine", "b"),
    (5, "moji Ã© and â€™ quote", "b"),
    (6, "zero​width‍ and bom ﻿", "b"),
    (7, "normal élan café naïve €50", "b"),
]


@pytest.fixture(scope="module")
def enc_df(spark):
    return spark.createDataFrame(
        SAMPLES, "doc_id long, text string, source string")


def test_encoding_scan_counts(enc_df):
    rows = {r["doc_id"]: r for r in encoding_scan(enc_df).collect()}
    assert rows[1]["is_clean"] and rows[1]["n_bad_chars"] == 0
    assert rows[2]["n_replacement"] == 2 and not rows[2]["is_clean"]
    assert rows[3]["n_control"] == 3
    assert rows[4]["is_clean"]          # \t \n \r are fine
    assert rows[5]["n_mojibake"] == 2   # Ã© and â€
    assert rows[6]["n_zero_width"] == 3
    assert rows[7]["is_clean"]          # real accents + bare € are fine


def test_encoding_report_by_source(enc_df):
    rep = {r["source"]: r for r in
           encoding_report(enc_df, by="source").collect()}
    assert rep["a"]["n_docs"] == 3
    assert rep["a"]["docs_replacement"] == 1
    assert rep["a"]["docs_control"] == 1
    assert rep["a"]["clean_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert rep["b"]["docs_mojibake"] == 1
    assert rep["b"]["docs_zero_width"] == 1
    assert rep["b"]["clean_frac"] == pytest.approx(0.5, abs=1e-6)


def test_encoding_patterns_duckdb_parity(enc_df):
    """The exact pattern strings must count identically in DuckDB (RE2) —
    this is what makes the oracle query honest."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    spark_rows = {r["doc_id"]: r for r in encoding_scan(enc_df).collect()}
    for doc_id, text, _ in SAMPLES:
        for name, pat in ENCODING_PATTERNS.items():
            n = len(con.execute(
                "select regexp_extract_all(?, ?)", [text, pat]).fetchone()[0])
            assert spark_rows[doc_id][f"n_{name}"] == n, (doc_id, name)


def test_encoding_scan_is_map_side(enc_df):
    plan = encoding_scan(enc_df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------------ mad outliers


@pytest.fixture(scope="module")
def val_df(spark):
    # group g: tight cluster around 10 plus two wild points;
    # group h: all-identical values (MAD = 0)
    rows = ([(i, "g", 10.0 + (i % 5) * 0.1) for i in range(20)]
            + [(100, "g", 500.0), (101, "g", -480.0)]
            + [(200 + i, "h", 7.0) for i in range(10)]
            + [(300, "g", None)])
    return spark.createDataFrame(rows, "id long, grp string, value double")


def test_robust_center_scale(val_df):
    stats = {r["grp"]: r for r in
             robust_center_scale(val_df, "value", by="grp",
                                 exact=True).collect()}
    g = stats["g"]
    assert g["n"] == 22                      # nulls excluded
    assert 10.0 <= g["median"] <= 10.4
    assert 0 < g["mad"] <= 0.3
    h = stats["h"]
    assert h["median"] == 7.0 and h["mad"] == 0.0


def test_mad_outliers_flags(val_df):
    out = mad_outliers(val_df, "value", by="grp", k=3.5,
                       exact=True).collect()
    flagged = {r["id"] for r in out if r["is_outlier"]}
    assert flagged == {100, 101}
    by_id = {r["id"]: r for r in out}
    # identical group: MAD=0 -> no flags, null z
    assert all(not by_id[200 + i]["is_outlier"] for i in range(10))
    assert by_id[200]["robust_z"] is None
    # null value passes through unflagged
    assert not by_id[300]["is_outlier"] and by_id[300]["robust_z"] is None
    # z sign and magnitude sanity on the wild points
    assert by_id[100]["robust_z"] > 3.5 and by_id[101]["robust_z"] < -3.5


def test_mad_outliers_hand_math(spark):
    # values 1..9 plus 100: median 5.5, |dev| median = 2.5
    rows = [(i, float(v)) for i, v in enumerate(list(range(1, 10)) + [100])]
    df = spark.createDataFrame(rows, "id long, value double")
    out = {r["id"]: r for r in
           mad_outliers(df, "value", k=3.5, exact=True).collect()}
    med, mad = 5.5, 2.5
    z100 = MAD_CONSISTENCY * (100 - med) / mad
    assert out[9]["robust_z"] == pytest.approx(z100, rel=1e-12)
    assert out[9]["is_outlier"]
    assert sum(r["is_outlier"] for r in out.values()) == 1


def test_mad_outliers_no_global_group(val_df):
    # ungrouped: one global median/MAD over all values
    out = mad_outliers(val_df, "value", k=3.5, exact=True)
    assert out.count() == val_df.count()


def test_mad_outliers_no_row_shuffle(val_df):
    """Data rows must reach the flags via broadcast joins, never a
    shuffle exchange on the full input."""
    plan = (mad_outliers(val_df, "value", by="grp")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# -------------------------------------------------------- embedding hygiene


def _emb_rows():
    nan, inf = float("nan"), float("inf")
    return [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [nan, 2.0, 3.0, 4.0]),
        (3, [inf, 2.0, 3.0, 4.0]),
        (4, [1.0, 2.0, 3.0, -inf]),
        (5, [1.0, None, 3.0, 4.0]),
        (6, [1.0, 2.0, 3.0]),          # wrong dim
        (7, [0.0, 0.0, 0.0, 0.0]),     # zero vector
        (8, None),                      # null vector
        (9, [4.0, 3.0, 2.0, 1.0]),
    ]


def test_embedding_hygiene_counts(spark):
    df = spark.createDataFrame(_emb_rows(), "vec_id long, e array<float>")
    row = embedding_hygiene(df, emb_col="e", dim=4).collect()[0]
    assert row["n_rows"] == 9
    assert row["n_null_vec"] == 1
    assert row["n_wrong_dim"] == 1
    assert row["n_null_elem"] == 1
    assert row["n_nan"] == 1
    assert row["n_inf"] == 2
    assert row["n_zero_vec"] == 1
    assert row["n_clean"] == 2


def test_embedding_hygiene_infers_dim(spark):
    df = spark.createDataFrame(_emb_rows(), "vec_id long, e array<float>")
    row = embedding_hygiene(df, emb_col="e").collect()[0]
    assert row["n_wrong_dim"] == 1    # dim inferred from first non-null = 4


def test_embedding_hygiene_all_null_raises(spark):
    df = spark.createDataFrame([(1, None)], "vec_id long, e array<float>")
    with pytest.raises(ValueError):
        embedding_hygiene(df, emb_col="e")
    row = embedding_hygiene(df, emb_col="e", dim=4).collect()[0]
    assert row["n_null_vec"] == 1 and row["n_clean"] == 0


def test_embedding_hygiene_grouped(spark):
    rows = [(i, "s" if i % 2 else "t", v) for i, v in
            [(r[0], r[1]) for r in _emb_rows()]]
    df = spark.createDataFrame(rows, "vec_id long, src string, e array<float>")
    out = embedding_hygiene(df, emb_col="e", dim=4, by="src").collect()
    assert {r["src"] for r in out} == {"s", "t"}
    assert sum(r["n_rows"] for r in out) == 9


def test_embedding_hygiene_math_is_nan_proof(spark):
    """NaN in one vector must not leak into any other row's flags and the
    double-typed column path works too."""
    df = spark.createDataFrame(
        [(1, [float("nan"), 1.0]), (2, [1.0, 2.0])],
        "vec_id long, e array<double>")
    row = embedding_hygiene(df, emb_col="e", dim=2).collect()[0]
    assert row["n_nan"] == 1 and row["n_clean"] == 1


# ------------------------------------------------- fd / ordering violations


def test_fd_violations_basic(spark):
    from validr_spark.operators.consistency import fd_violations

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "z"),
         ("c", None), ("c", "w"), ("d", None)],
        "k string, v string")
    out = {r["k"]: r for r in fd_violations(df, "k", "v").collect()}
    # only b maps to >1 non-null value; nulls never count as a value
    assert set(out) == {"b"}
    assert out["b"]["n_values"] == 3
    assert out["b"]["values"] == ["x", "y", "z"]


def test_fd_violations_sample_bound(spark):
    from validr_spark.operators.consistency import fd_violations

    rows = [("hot", f"v{i:03d}") for i in range(50)] + [("ok", "only")]
    df = spark.createDataFrame(rows, "k string, v string")
    out = fd_violations(df, "k", "v", sample_values=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_values"] == 50
    assert r["values"] == ["v000", "v001", "v002", "v003"]


def test_fd_violations_composite_determinant(spark):
    from validr_spark.operators.consistency import fd_violations

    df = spark.createDataFrame(
        [(1, "p", 10), (1, "p", 11), (1, "q", 10), (2, "p", 10)],
        "a long, b string, c long")
    out = fd_violations(df, ["a", "b"], "c").collect()
    assert len(out) == 1
    assert (out[0]["a"], out[0]["b"]) == (1, "p")
    assert out[0]["values"] == ["10", "11"]


def test_ordering_violations(spark):
    from validr_spark.operators.consistency import ordering_violations

    # per-user event stream in arrival order (id); ts should not regress
    df = spark.createDataFrame(
        [(1, "u1", 10), (2, "u1", 20), (3, "u1", 15),   # regression at id 3
         (4, "u2", 5), (5, "u2", 5), (6, "u2", 7),      # tie at id 5
         (7, "u3", 1)],
        "id long, user string, ts long")
    out = ordering_violations(df, "user", "ts", "id", id_cols="id").collect()
    assert [r["id"] for r in out] == [3]            # ties are fine
    assert out[0]["prev_ts"] == 20 and out[0]["ts"] == 15
    strict = ordering_violations(df, "user", "ts", "id", id_cols="id",
                                 strict=True).collect()
    assert sorted(r["id"] for r in strict) == [3, 5]


# ---------------------------------------------------- jsd / robust_clip


def test_jsd_hand_math(spark):
    from validr_spark.operators.drift import jsd

    a = spark.createDataFrame([("x",)] * 3 + [("y",)] * 1, "c string")
    b = spark.createDataFrame([("x",)] * 1 + [("y",)] * 3, "c string")
    row = jsd(a, b, "c").collect()[0]
    p, q = [0.75, 0.25], [0.25, 0.75]
    m = [(pi + qi) / 2 for pi, qi in zip(p, q)]
    expect = 0.5 * sum(pi * math.log2(pi / mi) for pi, mi in zip(p, m)) \
        + 0.5 * sum(qi * math.log2(qi / mi) for qi, mi in zip(q, m))
    assert row["jsd"] == pytest.approx(expect, abs=1e-9)
    assert row["n_categories"] == 2
    assert row["n_ref"] == 4 and row["n_new"] == 4


def test_jsd_bounds_and_disjoint(spark):
    from validr_spark.operators.drift import jsd

    a = spark.createDataFrame([("x",)] * 5, "c string")
    same = jsd(a, a, "c").collect()[0]
    assert same["jsd"] == pytest.approx(0.0, abs=1e-12)
    b = spark.createDataFrame([("y",)] * 5, "c string")
    disjoint = jsd(a, b, "c").collect()[0]
    assert disjoint["jsd"] == pytest.approx(1.0, abs=1e-9)  # log2 bound


def test_robust_clip(val_df):
    from validr_spark.operators.stats import robust_clip

    out = {r["id"]: r for r in
           robust_clip(val_df, "value", by="grp", k=3.5,
                       exact=True).collect()}
    # wild points clipped into the acceptance interval, inliers untouched
    assert out[100]["value"] < 500.0 and out[100]["value"] > 10.0
    assert out[101]["value"] > -480.0 and out[101]["value"] < 10.5
    assert out[0]["value"] == 10.0
    # MAD=0 group passes through unclipped; nulls stay null
    assert out[200]["value"] == 7.0
    assert out[300]["value"] is None


def test_robust_clip_matches_outlier_boundary(spark):
    from validr_spark.operators.stats import (MAD_CONSISTENCY, mad_outliers,
                                              robust_clip)

    rows = [(i, float(v)) for i, v in enumerate(list(range(1, 10)) + [100])]
    df = spark.createDataFrame(rows, "id long, value double")
    clipped = {r["id"]: r["value"] for r in
               robust_clip(df, "value", k=3.5, exact=True).collect()}
    med, mad = 5.5, 2.5
    hi = med + 3.5 * mad / MAD_CONSISTENCY
    assert clipped[9] == pytest.approx(hi, rel=1e-12)
    # after clipping, nothing is an outlier anymore
    df2 = robust_clip(df, "value", k=3.5, exact=True)
    flags = mad_outliers(df2, "value", k=3.5, exact=True)
    # note: clipping changes the median/MAD slightly; boundary values may
    # sit exactly AT the threshold, which is not > k -> not flagged
    assert flags.filter("is_outlier").count() == 0


# ------------------------------------------- streaming encoding quality


def test_windowed_encoding_quality_batch(spark):
    import datetime

    from validr_spark.streaming.quality import windowed_encoding_quality

    t0 = datetime.datetime(2026, 1, 1, 10, 0)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [(ts(0), "clean one"), (ts(1), "lost � byte"),
            (ts(2), "also clean"),
            (ts(11), "moji Ã© here"), (ts(12), "fine")]
    df = spark.createDataFrame(rows, "ts timestamp, text string")
    out = {r["window_start"]: r for r in
           windowed_encoding_quality(df, "ts", window="10 minutes").collect()}
    w1, w2 = out[ts(0)], out[ts(10)]
    assert w1["n_docs"] == 3 and w1["docs_replacement"] == 1
    assert w1["clean_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert w2["n_docs"] == 2 and w2["docs_mojibake"] == 1
    assert w2["clean_frac"] == pytest.approx(0.5, abs=1e-6)


def test_windowed_encoding_quality_stream(spark, tmp_path):
    import datetime

    from validr_spark.streaming.quality import windowed_encoding_quality

    t0 = datetime.datetime(2026, 1, 1, 10, 0)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = ([(ts(i % 5), "ok doc") for i in range(4)]
            + [(ts(3), "bad \x00 ctrl")]
            # far-future row closes the first window past the watermark
            + [(ts(60), "tail")])
    df = spark.createDataFrame(rows, "ts timestamp, text string")
    data = str(tmp_path / "in")
    df.coalesce(1).write.parquet(data)
    sdf = spark.readStream.schema(df.schema).parquet(data)
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (windowed_encoding_quality(sdf, "ts", window="10 minutes",
                                   watermark="1 minute")
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 1                      # only the closed window
    r = got[0]
    assert r["n_docs"] == 5 and r["docs_control"] == 1
    assert r["clean_frac"] == pytest.approx(0.8, abs=1e-6)


# ------------------------------------------ seeded differentials (numpy/re)


def test_encoding_counts_python_re_differential(spark):
    """Independent third implementation: translate the Java/RE2 \\x{hhhh}
    escapes to Python re and compare counts on seeded random dirty text."""
    import random
    import re as pyre

    rng = random.Random(42)
    alphabet = (list("abc XYZ .!?\t\n\r") + ["�", "\x00", "\x07", "\x1f",
                "Ã", "©", "â", "€", "™", "Â", "\u200b", "\ufeff", "é", "ü"])
    rows = [(i, "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(0, 60))))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in encoding_scan(df).collect()}

    def topy(p):
        return pyre.sub(r"\\x\{([0-9A-Fa-f]+)\}",
                        lambda m: chr(int(m.group(1), 16)), p)

    pypats = {n: pyre.compile(topy(p)) for n, p in ENCODING_PATTERNS.items()}
    for i, text in rows:
        for n, rx in pypats.items():
            assert got[i][f"n_{n}"] == len(rx.findall(text)), (i, n, text)


def test_mad_outliers_numpy_differential(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vals = np.round(rng.normal(50, 10, 400), 6)
    vals[::37] += 300            # seeded outliers
    rows = [(int(i), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, value double")
    got = {r["id"]: r for r in
           mad_outliers(df, "value", k=3.5, exact=True).collect()}
    med = float(np.median(vals))
    mad = float(np.median(np.abs(vals - med)))
    z = MAD_CONSISTENCY * (vals - med) / mad
    for i, zi in enumerate(z):
        assert got[i]["is_outlier"] == (abs(zi) > 3.5), i
        assert got[i]["robust_z"] == pytest.approx(zi, rel=1e-9, abs=1e-12)


def test_jsd_numpy_differential(spark):
    import numpy as np

    from validr_spark.operators.drift import jsd

    rng = np.random.default_rng(11)
    cats = list("abcdefgh")
    xa = [cats[i] for i in rng.integers(0, 6, 500)]     # never g/h
    xb = [cats[i] for i in rng.integers(2, 8, 400)]     # never a/b
    a = spark.createDataFrame([(c,) for c in xa], "c string")
    b = spark.createDataFrame([(c,) for c in xb], "c string")
    got = jsd(a, b, "c").collect()[0]

    union = sorted(set(xa) | set(xb))
    p = np.array([xa.count(c) for c in union], dtype=float)
    q = np.array([xb.count(c) for c in union], dtype=float)
    p, q = p / p.sum(), q / q.sum()
    m = (p + q) / 2
    with np.errstate(divide="ignore", invalid="ignore"):
        ref = 0.5 * np.nansum(np.where(p > 0, p * np.log2(p / m), 0)) \
            + 0.5 * np.nansum(np.where(q > 0, q * np.log2(q / m), 0))
    assert got["jsd"] == pytest.approx(float(ref), abs=1e-9)
    assert got["n_categories"] == len(union)


def test_is_nfc_and_normalize(spark):
    from validr_spark.operators.encoding import is_nfc, nfc_normalize_text
    df = spark.createDataFrame(
        [(1, "plain ascii"),            # ascii -> NFC via JVM screen
         (2, "café"),              # precomposed, non-ascii, NFC
         (3, "café"),             # decomposed -> NOT NFC
         (4, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["ok"]
           for r in df.select("doc_id",
                              is_nfc("text").alias("ok")).collect()}
    assert got == {1: True, 2: True, 3: False, 4: None}
    # one scan, one Python pass: the ASCII screen sits in the argument
    normalized = nfc_normalize_text(df)
    assert python_passes(normalized) == 1
    assert "Union" not in physical_plan(normalized)
    fixed = {r["doc_id"]: r["text"] for r in normalized.collect()}
    assert fixed[3] == "café"          # recomposed
    assert fixed[1] == "plain ascii" and fixed[4] is None
    # idempotent: normalizing the normalized corpus changes nothing
    again = {r["doc_id"]: r["text"]
             for r in nfc_normalize_text(nfc_normalize_text(df)).collect()}
    assert again == fixed


def test_nfc_audit_counts(spark):
    from validr_spark.operators.encoding import nfc_audit
    df = spark.createDataFrame(
        [("a", "x"), ("a", "é"), ("a", "é"), ("b", None)],
        "source string, text string")
    audit = nfc_audit(df)
    assert python_passes(audit) == 1            # one scan, one aggregate
    assert "Join" not in physical_plan(audit)
    rows = {r["source"]: r for r in audit.collect()}
    a = rows["a"]
    assert (a["n_docs"], a["n_non_ascii"], a["n_not_nfc"]) == (3, 2, 1)
    assert abs(a["not_nfc_frac"] - 1 / 3) < 1e-6
    b = rows["b"]
    assert (b["n_docs"], b["n_not_nfc"]) == (0, 0)
    assert b["not_nfc_frac"] is None
    # an empty frame, no groups: one row of NULL sums
    empty = nfc_audit(df.limit(0), by=None).collect()
    assert [tuple(r) for r in empty] == [(None, None, 0, None)]


def test_clean_text_repairs_and_idempotent(spark):
    from validr_spark.operators.encoding import clean_text, encoding_scan
    df = spark.createDataFrame(
        [(1, "hello\x00 world​!"),           # control + zero-width
         (2, "a  b\t c \n\n  d  "),               # whitespace runs
         (3, "café ok"),                     # decomposed NFC target
         (4, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in clean_text(df).collect()}
    assert got[1] == "hello world!"
    assert got[2] == "a b c\nd"                    # line structure kept
    assert got[3] == "café ok"
    assert got[4] is None
    # idempotent
    once = clean_text(df)
    twice = {r["doc_id"]: r["text"] for r in clean_text(once).collect()}
    assert twice == got
    # post-clean scan is clean for the repairable classes
    scan = encoding_scan(clean_text(df)).collect()
    assert all(r["n_control"] == 0 and r["n_zero_width"] == 0
               for r in scan if r["n_control"] is not None)
