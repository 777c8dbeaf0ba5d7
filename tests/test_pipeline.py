"""End-to-end prepare_training_data pipeline (validr_spark/pipeline.py)."""

import sys

import pytest
from pyspark.sql import functions as F

from validr_spark import T
from validr_spark.pipeline import prepare_training_data


def _doc_words(i, n=40):
    """Distinct per-doc vocabulary (letters only, so quality_filter's
    digit/mean-length rules pass); pairwise word overlap across docs is
    zero, so only the injected dup/near-dup pairs are similar."""
    return [f"w{chr(97 + i % 26)}{chr(97 + i // 26)}q"
            + "".join(chr(97 + int(d)) for d in str(j)) for j in range(n)]


def _doc_text(i):
    return " ".join(_doc_words(i))


@pytest.fixture()
def docs(spark):
    rows = [(i, _doc_text(i), "en") for i in range(20)]
    # exact duplicate of doc 3 under a later id
    rows.append((100, _doc_text(3), "en"))
    # near-duplicate of doc 5 (one word changed)
    near = _doc_words(5)
    near[20] = near[20] + "zz"
    rows.append((101, " ".join(near), "en"))
    # low quality: too few words
    rows.append((102, "tiny doc", "en"))
    # invalid: bad lang enum
    rows.append((103, _doc_text(7) + " extraword", "zz"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _schema():
    return T.dict(doc_id=T.int.min(0), text=T.str.minlen(5),
                  lang=T.enum(["en", "de"]))


def test_pipeline_stages_and_survivors(spark, docs, monkeypatch):
    # each stage's rows_in is the previous stage's rows_out: one stats
    # count per stage plus the first stage's input, not two per stage
    # (operators' own counts, e.g. label propagation's, are not stats)
    counts = []
    frame = type(docs)
    count = frame.count

    def spy_count(self):
        counts.append(sys._getframe(1).f_globals["__name__"])
        return count(self)

    monkeypatch.setattr(frame, "count", spy_count)
    res = prepare_training_data(
        docs, _schema(), max_tokens=256,
        jaccard_threshold=0.6,
        minhash_kwargs={"num_hashes": 64, "bands": 32, "shingle_k": 4})
    monkeypatch.undo()
    assert counts.count("validr_spark.pipeline") == 6
    by = {s["stage"]: (s["rows_in"], s["rows_out"]) for s in res.stats}
    assert by["validate"] == (24, 23)          # doc 103 dropped (lang enum)
    assert by["exact_dedup"] == (23, 22)       # doc 100 == doc 3
    assert by["near_dup"][1] == 21             # doc 101 ~ doc 5 -> min kept
    assert by["quality"] == (21, 20)           # doc 102 too short
    kept_ids = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    assert kept_ids == set(range(20))
    # packing covered every surviving doc exactly once
    assert by["pack"] == (20, 20)
    packed_ids = [r["id"] for r in res.packed.collect()]
    assert sorted(int(i) for i in packed_ids) == sorted(kept_ids)
    # stats_df renders
    assert res.stats_df(spark).count() == 5


def test_pipeline_lazy_mode_no_counts(spark, docs):
    res = prepare_training_data(
        docs, None, near_dup=False, pack=False, collect_stats=False)
    assert all(s["rows_in"] is None for s in res.stats)
    # plan still executable
    assert res.kept.count() > 0
    assert res.packed is None


def test_pipeline_len_col_passthrough(spark, docs):
    df = docs.withColumn("n_tok", F.lit(100))
    res = prepare_training_data(
        df, None, near_dup=False, len_col="n_tok", max_tokens=250)
    # 100-token docs pack 2 per 250-token bin
    per_bin = (res.packed.groupBy("bin_id")
               .agg(F.sum("n_tok").alias("t")).collect())
    assert all(r["t"] <= 250 for r in per_bin)


def test_pipeline_keep_by_elects_best_duplicate(spark):
    from validr_spark.pipeline import prepare_training_data
    # two exact duplicates with different lengths of padding noise in a
    # quality column; keep_by elects the higher-quality copy
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again", 10),
         (2, "the quick brown fox jumps over the lazy dog again", 90),
         (3, "completely different text about distributed systems", 50)],
        "doc_id long, text string, quality int")
    res = prepare_training_data(df, near_dup=False, pack=False,
                                keep_by=F.col("quality"),
                                quality_kwargs={"min_words": 1},
                                collect_stats=False)
    kept = sorted(r["doc_id"] for r in res.kept.collect())
    assert 2 in kept and 1 not in kept and 3 in kept


def test_pipeline_encoding_gate(spark, docs):
    # doc 104 is valid, unique, good quality — but mojibake-damaged
    bad = docs.sparkSession.createDataFrame(
        [(104, _doc_text(9).replace(" ", " Ã© ", 1), "en")],
        "doc_id long, text string, lang string")
    res = prepare_training_data(
        docs.unionByName(bad), _schema(), max_tokens=256,
        drop_bad_encoding=True, near_dup=False, pack=False)
    by = {s["stage"]: (s["rows_in"], s["rows_out"]) for s in res.stats}
    assert by["encoding"] == (24, 23)          # only doc 104 gated
    kept_ids = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    assert 104 not in kept_ids and 9 in kept_ids
    # default off: stage absent, doc 104 survives
    res2 = prepare_training_data(
        docs.unionByName(bad), _schema(), near_dup=False, pack=False)
    assert "encoding" not in {s["stage"] for s in res2.stats}
    assert 104 in {r["doc_id"] for r in res2.kept.select("doc_id").collect()}


def test_prepare_sequences_full_stage_fixture(spark):
    from validr_spark.datagen import sequences_schema
    from validr_spark.pipeline import prepare_sequences

    good = list(range(10, 30))
    rows = [
        ("a", good, len(good), "web"),
        ("dup_a", good, len(good), "web"),              # exact dup of a
        ("b", list(range(50, 80)), 30, "books"),
        ("bad", [5, -1, 6], 3, "web"),                  # negative token
        ("contam", list(range(200, 220)), 20, "web"),   # in benchmark
        ("c", list(range(300, 340)), 40, "code"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    bench = spark.createDataFrame(
        [(list(range(200, 220)),)], "tokens array<int>")
    res = prepare_sequences(df, sequences_schema(), benchmark=bench,
                            max_tokens=64)
    kept = sorted(r["doc_id"] for r in res.kept.collect())
    assert kept == ["a", "b", "c"]
    stages = [s["stage"] for s in res.stats]
    assert stages == ["validate", "exact_dedup", "decontaminate", "pack"]
    by = {s["stage"]: s for s in res.stats}
    assert by["validate"]["rows_out"] == 5        # 'bad' dropped
    assert by["exact_dedup"]["rows_out"] == 4     # 'dup_a' dropped
    assert by["decontaminate"]["rows_out"] == 3   # 'contam' dropped
    # packing: every kept doc appears exactly once in the bin assignment
    packed_ids = sorted(r["id"] for r in res.packed.collect())
    assert packed_ids == kept


def test_prepare_sequences_near_dup_and_budget(spark):
    from validr_spark.pipeline import prepare_sequences

    base = list(range(100, 160))
    rows = [
        ("a", base, 60, "web"),
        ("near_a", base[:-1] + [999], 60, "web"),   # near-dup of a
        ("far", list(range(500, 560)), 60, "books"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    res = prepare_sequences(df, None, near_dup=True,
                            minhash_kwargs={"num_hashes": 32, "bands": 16},
                            min_bands=4, pack=False)
    kept = sorted(r["doc_id"] for r in res.kept.collect())
    assert kept == ["a", "far"]                    # near_a merged into a
    # budget: keep a ~60-token cut deterministically
    res2 = prepare_sequences(df, None, budget_tokens=60, pack=False)
    total = sum(r["n_tok"] for r in res2.kept.collect())
    assert 0 < total <= 60
    rerun = sorted(r["doc_id"] for r in prepare_sequences(
        df, None, budget_tokens=60, pack=False).kept.collect())
    assert rerun == sorted(r["doc_id"] for r in res2.kept.collect())
