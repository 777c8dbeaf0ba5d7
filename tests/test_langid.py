"""Char-n-gram Naive-Bayes language ID: NB math against hand-computed
values, held-out precision/recall on synthetic bilingual text,
deterministic prediction, the filter gate, and the no-Python plan."""

import math

import pytest
from pyspark.sql import functions as F

from validr_spark.operators.langid import (
    lang_filter, lang_predict, lang_scores, train_lang_model)

EN = ["the cat sat on the mat and the dog ran away",
      "a quick brown fox jumps over the lazy dog",
      "it is a truth universally acknowledged that a single man",
      "call me ishmael some years ago never mind how long",
      "to be or not to be that is the question of the day"]
DE = ["der schnelle braune fuchs springt ueber den faulen hund",
      "es ist eine allgemein anerkannte wahrheit dass ein mann",
      "nennt mich ishmael vor einigen jahren egal wie lange",
      "sein oder nicht sein das ist hier die frage des tages",
      "die katze sass auf der matte und der hund lief weg"]


@pytest.fixture()
def model(spark):
    rows = [(t, "en") for t in EN[:4]] + [(t, "de") for t in DE[:4]]
    df = spark.createDataFrame(rows, "text string, lang string")
    return train_lang_model(df, n=3, alpha=1.0)


def test_nb_math_hand_computed(spark):
    # corpus: lang a = 'abab' (bigrams ab:2, ba:1), lang b = 'bcbc'
    # (bc:2, cb:1); V = 4 distinct grams, tot = 3 each, denom = 7
    df = spark.createDataFrame([("abab", "a"), ("bcbc", "b")],
                               "text string, lang string")
    m = train_lang_model(df, n=2, alpha=1.0)
    got = {(r["id"], r["lang"]): r["score"]
           for r in lang_scores(
               spark.createDataFrame([(1, "aba")], "doc_id long, text string"),
               m).collect()}
    # doc grams: ab, ba
    assert got[(1, "a")] == pytest.approx(
        math.log(3 / 7) + math.log(2 / 7), rel=1e-12)
    assert got[(1, "b")] == pytest.approx(2 * math.log(1 / 7), rel=1e-12)


def test_heldout_precision_recall(spark, model):
    probes = [(i, t, "en") for i, t in enumerate(EN[4:])] + \
             [(100 + i, t, "de") for i, t in enumerate(DE[4:])]
    df = spark.createDataFrame(probes, "doc_id long, text string, truth string")
    pred = lang_predict(lang_scores(df, model)) \
        .join(df.select(F.col("doc_id").alias("id"), "truth"), "id")
    rows = pred.collect()
    assert all(r["lang"] == r["truth"] for r in rows), rows
    assert all(r["margin"] > 0 for r in rows)


def test_prediction_deterministic_tie_break(spark):
    # two languages trained on the SAME text -> identical scores for
    # every doc; the winner must be the alphabetically first lang
    df = spark.createDataFrame([("same text here", "xx"),
                                ("same text here", "aa")],
                               "text string, lang string")
    m = train_lang_model(df, n=3)
    pred = lang_predict(lang_scores(
        spark.createDataFrame([(1, "same text")], "doc_id long, text string"),
        m)).collect()
    assert len(pred) == 1 and pred[0]["lang"] == "aa"
    assert pred[0]["margin"] == 0.0


def test_short_and_null_text_unscored(spark, model):
    df = spark.createDataFrame([(1, "ab"), (2, None), (3, "the cat sat")],
                               "doc_id long, text string")
    got = lang_scores(df, model).select("id").distinct().collect()
    assert {r["id"] for r in got} == {3}


def test_lang_filter_gate(spark, model):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and the dog"),
         (2, "der hund lief weg und die katze sass"),
         (3, "x")],                                   # unscorable
        "doc_id long, text string")
    kept = sorted(r["doc_id"]
                  for r in lang_filter(df, model, ["en"]).collect())
    assert kept == [1]
    # margin gate: an absurd threshold drops everything
    assert lang_filter(df, model, ["en", "de"],
                       min_margin=1e9).count() == 0


def test_scoring_pipeline_is_jvm_only(spark, model):
    from validr_spark.testing import assert_no_python

    df = spark.createDataFrame([(1, "the cat")], "doc_id long, text string")
    assert_no_python(lang_scores(df, model))
    assert_no_python(lang_predict(lang_scores(df, model)))


def test_top_k_keeps_corpus_vocabulary(spark):
    # top_k=1 keeps ab:2 (lang a) and bc:2 (lang b); V stays the 4
    # corpus grams, tot = 2 kept grams each, denom = 2 + 4 = 6
    df = spark.createDataFrame([("abab", "a"), ("bcbc", "b")],
                               "text string, lang string")
    m = train_lang_model(df, n=2, alpha=1.0, top_k=1)
    vals = {(r["lang"], r["gram"]): r["logp"]
            for r in m.ngrams.collect()}
    assert set(vals) == {("a", "ab"), ("b", "bc")}
    assert vals[("a", "ab")] == pytest.approx(math.log(3 / 6), rel=1e-12)
    floors = {r["lang"]: r["floor_logp"] for r in m.floors.collect()}
    assert floors == pytest.approx({"a": math.log(1 / 6),
                                    "b": math.log(1 / 6)}, rel=1e-12)


def test_model_round_to_pins_values(spark):
    df = spark.createDataFrame([("abab", "a"), ("bcbc", "b")],
                               "text string, lang string")
    m = train_lang_model(df, n=2, round_to=8)
    vals = {(r["lang"], r["gram"]): r["logp"]
            for r in m.ngrams.collect()}
    assert vals[("a", "ab")] == round(math.log(3 / 7), 8)
    floors = {r["lang"]: r["floor_logp"] for r in m.floors.collect()}
    assert floors["b"] == round(math.log(1 / 7), 8)
