"""Sequence-table checks: element rules through the generic compiler,
the verdict report, and the per-position / n-gram profiles."""

from pyspark.sql import functions as F

from validr_spark import T
from validr_spark.compiler import SparkCompiler
from validr_spark.datagen import (SOURCES, VOCAB, make_sequences,
                                  make_sources_dim)
from validr_spark.operators import sequences as seqops


def _token_schema(maxlen):
    return T.dict(
        doc_id=T.str.minlen(1).maxlen(64),
        tokens=T.list(T.int.min(0).max(VOCAB - 1)).minlen(1).maxlen(maxlen),
        n_tok=T.int.min(1).max(maxlen),
        source=T.enum(" ".join(SOURCES)),
    )


def test_element_error_beats_maxlen(spark):
    # bad element at idx < maxlen suppresses the list maxlen violation;
    # bad element only at idx >= maxlen lets maxlen win
    rows = [
        (0, list(range(10)) + [-5] + [0] * 10),   # bad elem idx 10 < 16
        (1, [0] * 20),                            # only too long
        (2, [0] * 15 + [99999] * 5),              # bad elem at 15 < 16
        (3, [0] * 16 + [-1]),                     # bad elem only at 16
    ]
    df = spark.createDataFrame(rows, "_rid long, tokens array<int>") \
        .withColumn("doc_id", F.concat(F.lit("d-"), F.col("_rid"))) \
        .withColumn("n_tok", F.lit(1)) \
        .withColumn("source", F.lit("web"))
    v = SparkCompiler().compile(_token_schema(16)).apply(
        df, id_cols=["_rid"]).violations()
    by_rid = {}
    for r in sorted(v.select("_rid", "rule_id").collect()):
        by_rid.setdefault(r[0], []).append(r[1])
    assert by_rid == {0: ["tokens[].min"], 1: ["tokens.maxlen"],
                      2: ["tokens[].max"], 3: ["tokens.maxlen"]}


def test_element_violations_per_row_with_shared_and_null_ids(spark):
    # violations are per row, not per id: two rows sharing an id, and two
    # rows with a NULL id, each keep their own token violation
    rows = [
        ("d", [5, -1]),
        ("d", [VOCAB + 1]),
        (None, [-3]),
        (None, [1, VOCAB]),
        ("e", [1, 2]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>") \
        .withColumn("n_tok", F.size("tokens")) \
        .withColumn("source", F.lit("web"))
    v = SparkCompiler().compile(_token_schema(16)).apply(
        df, id_cols=["doc_id"]).violations()
    got = sorted((tuple(r) for r in
                  v.filter(F.col("rule_id").startswith("tokens[]"))
                  .select("doc_id", "rule_id", "position").collect()),
                 key=repr)
    assert got == sorted([
        ("d", "tokens[].min", "tokens[1]"),
        ("d", "tokens[].max", "tokens[0]"),
        (None, "tokens[].min", "tokens[0]"),
        (None, "tokens[].max", "tokens[1]"),
    ], key=repr)


SEQ_DDL = "doc_id string, tokens array<int>, n_tok int, source string"
REPORT_KW = dict(vocab=VOCAB, maxlen=8192, sources=SOURCES, max_n_tok=8192)


def _bad_tokens_by_source(df):
    """Reference count: explode every token, keep the NULL and
    out-of-vocabulary ones, count them per source."""
    x = F.col("_x")
    return {r["source"]: r["count"] for r in
            df.select("source", F.explode("tokens").alias("_x"))
            .filter(x.isNull() | (x < 0) | (x >= VOCAB))
            .groupBy("source").count().collect()}


def _report_bad_tokens(rep):
    return {r["source"]: r["n_token_violations"] for r in rep["per_source"]
            if r["n_token_violations"]}


def test_sequence_report_counts(spark):
    # a tenth of the rows get two more bad tokens, another tenth a NULL
    # element and a bad token
    k = F.pmod(F.xxhash64("doc_id"), F.lit(10))
    df = make_sequences(spark, 20000, maxlen=64).withColumn(
        "tokens",
        F.when(k == 0, F.concat("tokens", F.array(F.lit(-7),
                                                  F.lit(VOCAB + 3))))
         .when(k == 1, F.concat("tokens", F.array(F.lit(None).cast("int"),
                                                  F.lit(-1))))
         .otherwise(F.col("tokens")))
    rep = seqops.sequence_report(df, make_sources_dim(spark), **REPORT_KW)
    total_rows = sum(r["n_rows"] for r in rep["per_source"])
    assert total_rows == 20000
    assert rep["dup_keys"] > 0
    assert sum(r["n_orphans"] for r in rep["per_source"]) > 0
    assert sum(r["n_token_violations"] for r in rep["per_source"]) > 0
    assert sum(r["n_inconsistent"] for r in rep["per_source"]) > 0
    assert _report_bad_tokens(rep) == _bad_tokens_by_source(df)


def test_report_attributes_unknown_source_token_violations(spark):
    """Rows whose source is NOT in the configured list must still have their
    token-violation counts attributed (previously collapsed into the null
    bucket / silently dropped)."""
    rows = [
        ("d1", [1, 2, 3], 3, "web"),           # known, clean
        ("d2", [-5, 2], 2, "mystery"),         # unknown source, 1 bad token
        ("d3", [VOCAB + 7], 1, None),          # null source, 1 bad token
        ("d4", [-1, -2], 2, "mystery"),        # unknown source, 2 bad tokens
        ("d5", [None, -1, None, VOCAB], 4, "other"),   # NULLs + 2 bad
        ("d6", [None, 5, -2, VOCAB + 1], 4, "books"),  # NULL + 2 bad
        ("d7", [None], 1, "books"),                    # only a NULL
    ]
    df = spark.createDataFrame(rows, SEQ_DDL)
    rep = seqops.sequence_report(df, make_sources_dim(spark), **REPORT_KW)
    by_src = {r["source"]: r for r in rep["per_source"]}
    assert by_src["mystery"]["n_token_violations"] == 3
    assert by_src[None]["n_token_violations"] == 1
    assert by_src["web"]["n_token_violations"] == 0
    assert by_src["other"]["n_token_violations"] == 4
    assert by_src["books"]["n_token_violations"] == 4
    assert _report_bad_tokens(rep) == _bad_tokens_by_source(df)


def test_report_counts_bad_tokens_without_native_screen(spark):
    # double tokens get no whole-array screen: the count still holds
    rows = [("d1", [1.0, -1.0, None, VOCAB + 0.5], 4, "web"),
            ("d2", [2.0, 3.0], 2, "web"), ("d3", None, 1, "code"),
            ("d4", [-0.5, 0.9, float("nan")], 3, "books")]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<double>, n_tok int, "
              "source string")
    rep = seqops.sequence_report(df, make_sources_dim(spark), **REPORT_KW)
    # an element is coerced as T.int coerces it before the bounds apply:
    # -0.5 and 0.9 truncate to 0 and are good, NaN is bad
    assert _report_bad_tokens(rep) == {"web": 3, "books": 1}


def test_report_queries_read_tokens_once(spark, tmp_path):
    """The bad-token count rides the row-check scan: one scan reads
    ``tokens``, and nothing explodes it."""
    path = str(tmp_path / "seq")
    make_sequences(spark, 200, maxlen=16).write.parquet(path)
    qs = seqops.build_report_queries(spark.read.parquet(path),
                                     make_sources_dim(spark), **REPORT_KW)
    plans = [q._jdf.queryExecution().executedPlan().toString()
             for q in (qs["agg1"], qs["dup"])]
    scans = [ln for p in plans for ln in p.splitlines()
             if "FileScan" in ln and "tokens#" in ln]
    assert len(scans) == 1
    assert not any("Generate" in p for p in plans)


def test_sequence_report_empty_table(spark):
    from validr_spark.operators.uniqueness import duplication_report

    df = spark.createDataFrame([], SEQ_DDL)
    rep = seqops.sequence_report(df, make_sources_dim(spark), **REPORT_KW)
    assert rep == {"per_source": [], "dup_keys": 0, "n_keys": 0}
    assert duplication_report(df, "doc_id").first().asDict() == {
        "n_rows": 0, "n_keys": 0, "n_dup_keys": 0, "n_surplus_rows": 0}


def test_single_key_flood(spark):
    """Every row shares one doc_id: one key, duplicated, with all rows
    but one surplus, in the report and in both duplicate_keys plans."""
    from validr_spark.operators.uniqueness import (duplicate_keys,
                                                   duplication_report)

    n = 40
    df = spark.createDataFrame([("d", [i % VOCAB], 1, "web")
                                for i in range(n)], SEQ_DDL)
    assert duplication_report(df, "doc_id").first().asDict() == {
        "n_rows": n, "n_keys": 1, "n_dup_keys": 1, "n_surplus_rows": n - 1}
    rep = seqops.sequence_report(df, make_sources_dim(spark), **REPORT_KW)
    assert (rep["n_keys"], rep["dup_keys"]) == (1, 1)
    assert [(r["source"], r["n_rows"]) for r in rep["per_source"]] == \
        [("web", n)]
    for two_phase in (False, True):
        got = duplicate_keys(df, "doc_id", two_phase=two_phase).collect()
        assert [tuple(r) for r in got] == [("d", n)]


def test_sequence_report_all_null_tokens(spark):
    rows = [("a", None, 1, "web"), ("b", None, 2, "web"),
            ("c", [1], 1, "code")]
    rep = seqops.sequence_report(spark.createDataFrame(rows, SEQ_DDL),
                                 make_sources_dim(spark), **REPORT_KW)
    web = {r["source"]: r for r in rep["per_source"]}["web"]
    assert web["n_rows"] == 2 and web["n_bad_rows"] == 2
    assert web["n_tokens"] == 0 and web["n_token_violations"] == 0


def test_position_token_stats_template_detection(spark):
    import math
    from validr_spark.operators.sequences import position_token_stats
    # 64 sequences: position 0 constant (template header), position 1
    # has 2 values, position 2 unique per row
    rows = [([7, i % 2, i],) for i in range(64)]
    df = spark.createDataFrame(rows, "tokens array<int>")
    got = {r["pos"]: r for r in position_token_stats(df).collect()}
    assert got[0]["entropy"] == 0.0 and got[0]["top_share"] == 1.0
    assert got[0]["top_token"] == 7 and got[0]["n_distinct_tokens"] == 1
    assert abs(got[1]["entropy"] - 1.0) < 1e-6       # fair coin
    assert abs(got[2]["entropy"] - math.log2(64)) < 1e-6
    assert all(r["n_seqs"] == 64 for r in got.values())


def test_position_token_stats_bounds_and_ragged(spark):
    from validr_spark.operators.sequences import position_token_stats
    df = spark.createDataFrame(
        [([1, 2, 3],), ([1],), ([1, 9],), (None,)], "tokens array<int>")
    got = {r["pos"]: r for r in position_token_stats(df, max_pos=2).collect()}
    assert set(got) == {0, 1}                         # max_pos respected
    assert got[0]["n_seqs"] == 3                      # null row excluded
    assert got[1]["n_seqs"] == 2                      # ragged tails ok
    # deterministic tie-break: counts 1/1 at pos 1 -> smaller token wins
    assert got[1]["top_token"] == 2


def test_token_ngram_stats_hand_math(spark):
    from validr_spark.operators.sequences import token_ngram_stats

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4]),       # 3 distinct bigrams
         ("b", [5, 5, 5, 5]),       # (5,5) x3: pure loop
         ("c", [1, 2, 1, 2, 1]),    # (1,2)x2 (2,1)x2: phrase repeat
         ("d", [7]),                # < n tokens: absent
         ("e", None)],              # null: absent
        "doc_id string, tokens array<int>")
    got = {r["doc_id"]: r for r in token_ngram_stats(df).collect()}
    assert set(got) == {"a", "b", "c"}
    assert (got["a"]["n_ngrams"], got["a"]["n_distinct"]) == (3, 3)
    assert got["a"]["dup_ngram_frac"] == 0.0
    assert got["b"]["dup_ngram_frac"] == 0.666667
    assert got["b"]["top_ngram_share"] == 1.0
    assert got["b"]["loop_frac"] == 1.0          # single-token loop
    assert got["c"]["dup_ngram_frac"] == 0.5
    assert got["c"]["top_ngram_share"] == 0.5
    assert got["c"]["loop_frac"] == 0.0          # repeated PHRASE, no loop


def test_token_ngram_stats_trigrams_and_guard(spark):
    import pytest as _pytest

    from validr_spark.operators.sequences import token_ngram_stats

    df = spark.createDataFrame(
        [("a", [9, 9, 9, 9, 1])],   # trigrams (9,9,9)x2 (9,9,1)
        "doc_id string, tokens array<int>")
    r = token_ngram_stats(df, n=3).collect()[0]
    assert (r["n_ngrams"], r["n_distinct"]) == (3, 2)
    assert r["loop_frac"] == 0.666667
    with _pytest.raises(ValueError, match="n must be"):
        token_ngram_stats(df, n=0)


def test_token_ngram_stats_plan_all_codegen(spark):
    from validr_spark.operators.sequences import token_ngram_stats
    from validr_spark.testing import assert_no_python, assert_plan

    df = spark.createDataFrame(
        [("a", [1, 2, 3])], "doc_id string, tokens array<int>")
    out = token_ngram_stats(df)
    assert_no_python(out)
    # codegen slice/zip construction, not an interpreted lambda HOF
    assert_plan(out, absent=["LambdaFunction"])


def test_token_ngram_stats_random_matches_python(spark):
    import random
    from collections import Counter

    from validr_spark.operators.sequences import token_ngram_stats

    rng = random.Random(23)
    rows = []
    for i in range(60):
        ln = rng.randint(0, 12)
        # small vocab so duplicates/loops actually occur
        rows.append((f"d{i}", [rng.randint(0, 4) for _ in range(ln)]))
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    n = 3
    got = {r["doc_id"]: r for r in token_ngram_stats(df, n=n).collect()}
    expected_ids = set()
    for doc_id, toks in rows:
        if len(toks) < n:
            assert doc_id not in got
            continue
        expected_ids.add(doc_id)
        grams = [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        total = sum(c.values())
        loop = sum(v for g, v in c.items() if len(set(g)) == 1)
        r = got[doc_id]
        assert r["n_ngrams"] == total
        assert r["n_distinct"] == len(c)
        assert r["dup_ngram_frac"] == round(1 - len(c) / total, 6)
        assert r["top_ngram_share"] == round(max(c.values()) / total, 6)
        assert r["loop_frac"] == round(loop / total, 6)
    assert set(got) == expected_ids
