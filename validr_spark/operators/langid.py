"""Language identification: char-n-gram Naive Bayes, trained on the
corpus, scored entirely JVM-side.

The C4 / CCNet / RefinedWeb front-of-pipeline step the quality family
(textstats.py) assumes has already happened — the round-4 verdict's
second-ranked gap.  Public-knowledge method (char-n-gram language
models go back to Cavnar & Trenkle 1994; the add-alpha Naive-Bayes
form here is the standard fastText-free baseline): per language,
estimate ``logp(gram | lang)`` with add-``alpha`` smoothing over
character n-gram counts; a document's score under a language is the
sum of its grams' log-probabilities, unseen grams backing off to the
language's smoothing floor.

Scale design (the 100 TB shape):

* **Training** (:func:`train_lang_model`): one explode → hash-agg
  keyed (lang, gram) — shuffle ≤ distinct (lang, gram) pairs, never
  corpus rows; an optional ``top_k`` per-language truncation runs a
  window over the MODEL (model-sized, not corpus-sized).  The result
  is a model-sized pair of DataFrames, made for broadcasting.
* **Scoring** (:func:`lang_scores`): gram extraction is codegen
  (posexplode of a position sequence + ``substring`` — no HOF lambda,
  no Python anywhere: ``testing.assert_no_python`` holds over the
  whole pipeline); grams BROADCAST-join the model; two hash aggs
  (per (doc, lang) and per doc) and one broadcast of the per-lang
  floors.  Nothing but per-doc rows ever shuffles.
* **Prediction** (:func:`lang_predict`): one window over the
  |langs|-rows-per-doc score table — argmax with a deterministic
  lang tie-break plus the top-two margin, the standard confidence
  gate.

Float discipline (house rule): scores are gated/compared RAW; the
``round_to`` parameter rounds only for display/oracle-hash stability
(log-sums are reduction-order sensitive at ~1e-12 relative — far
inside 6-decimal rounding).

No counterpart in guyskk/validr (out of the reference's scope) —
engine-brief item.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["LangModel", "train_lang_model", "lang_scores",
           "lang_predict", "lang_filter"]


@dataclass(frozen=True)
class LangModel:
    """A trained char-n-gram NB model: ``ngrams`` (lang, gram, logp),
    ``floors`` (lang, floor_logp) — both model-sized, broadcast at
    scoring time — and the gram size ``n``."""
    ngrams: DataFrame
    floors: DataFrame
    n: int


def _grams(df: DataFrame, text_col: str, id_col: str, n: int,
           lowercase: bool) -> DataFrame:
    """(id, gram) rows — pure codegen: a position sequence posexplode
    plus a column-start ``substring``.  Docs with NULL text or fewer
    than ``n`` chars produce no rows (documented: they cannot be
    scored)."""
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    base = df.select(F.col(id_col).alias("id"), txt.alias("_t"))
    pos = F.when(F.length("_t") >= n,
                 F.sequence(F.lit(1), F.length("_t") - (n - 1)))
    return (base.select("id", F.explode(pos).alias("_i"), "_t")
            .select("id", F.expr(f"substring(_t, _i, {n})").alias("gram")))


def train_lang_model(df: DataFrame, text_col: str = "text",
                     lang_col: str = "lang", n: int = 3,
                     alpha: float = 1.0, top_k: int | None = None,
                     lowercase: bool = True,
                     round_to: int | None = None) -> LangModel:
    """Train the model corpus-side: per-(lang, gram) counts → add-alpha
    log-probabilities ``ln((c + alpha) / (tot_lang + alpha * V))`` with
    ``V`` = the number of distinct grams across the whole corpus (the
    shared smoothing vocabulary, so floors are comparable across
    languages).  ``top_k`` keeps only each language's most frequent
    grams (ties break on the gram, so truncation is deterministic);
    dropped grams fall back to the floor like unseen ones.  ``V`` is
    counted before that truncation; ``tot_lang`` sums the kept grams.
    ``round_to`` rounds the stored logp values — use it when the model
    must be replayed bit-identically by another engine (a pinned-model
    oracle)."""
    labeled = df.filter(F.col(lang_col).isNotNull()) \
                .select(F.col(lang_col).alias("lang"),
                        F.col(text_col).alias("_txt"))
    g = _grams(labeled, "_txt", "lang", n, lowercase) \
        .select(F.col("id").alias("lang"), "gram")
    counts = g.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    vocab_size = counts.select("gram").distinct().count()
    if top_k is not None:
        w = Window.partitionBy("lang").orderBy(F.desc("c"), "gram")
        counts = (counts.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= top_k).drop("_rn"))
    totals = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    denom = F.col("tot") + F.lit(alpha) * F.lit(float(vocab_size))
    logp = F.log((F.col("c") + F.lit(alpha)) / denom)
    floor = F.log(F.lit(alpha) / denom)
    if round_to is not None:
        logp = F.round(logp, round_to)
        floor = F.round(floor, round_to)
    # totals is |langs| rows — broadcast, or this (lang,gram)-sized join
    # plans as a SortMergeJoin with two pointless shuffles
    joined = counts.join(F.broadcast(totals), "lang")
    return LangModel(
        ngrams=joined.select("lang", "gram", logp.alias("logp")),
        floors=totals.select("lang", floor.alias("floor_logp")),
        n=n)


def lang_scores(df: DataFrame, model: LangModel,
                text_col: str = "text", id_col: str = "doc_id",
                lowercase: bool = True,
                round_to: int | None = None) -> DataFrame:
    """Score every document under every language:
    ``(id, lang, score, n_grams)``, one row per (doc, lang);
    ``score = Σ logp(gram | lang)`` with unseen grams at the floor.
    Docs with no grams (NULL or shorter-than-n text) are absent —
    they carry no evidence either way.

    Plan shape: codegen gram explode → broadcast model join → one
    (doc, lang) hash agg + one per-doc gram count → broadcast floors
    cross join.  Zero Python, no corpus-row shuffle beyond the
    gram-level partial aggregation."""
    g = _grams(df, text_col, id_col, model.n, lowercase)
    per_doc = g.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    present = (g.join(F.broadcast(model.ngrams), "gram")
               .groupBy("id", "lang")
               .agg(F.sum("logp").alias("_ps"),
                    F.count(F.lit(1)).alias("_pc")))
    base = per_doc.crossJoin(F.broadcast(model.floors))
    score = (F.coalesce(F.col("_ps"), F.lit(0.0))
             + (F.col("n_grams") - F.coalesce(F.col("_pc"), F.lit(0)))
             * F.col("floor_logp"))
    if round_to is not None:
        score = F.round(score, round_to)
    return (base.join(present, ["id", "lang"], "left")
            .select("id", "lang", score.alias("score"), "n_grams"))


def lang_predict(scores: DataFrame) -> DataFrame:
    """Argmax over a :func:`lang_scores` table: ``(id, lang, score,
    margin)`` — the winning language per doc (score ties break to the
    alphabetically first lang, so prediction is deterministic) and the
    top-two score margin (NULL for single-language models), the
    standard confidence gate for :func:`lang_filter`."""
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("lang"))
    return (scores
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("margin",
                        F.col("score") - F.lead("score").over(w))
            .filter(F.col("_rn") == 1)
            .select("id", "lang", "score", "margin"))


def lang_filter(df: DataFrame, model: LangModel,
                keep_langs: list[str], min_margin: float = 0.0,
                text_col: str = "text", id_col: str = "doc_id",
                lowercase: bool = True) -> DataFrame:
    """The front-of-pipeline gate: keep rows whose predicted language
    is in ``keep_langs`` with at least ``min_margin`` top-two margin
    (single-language models have NULL margin and pass the default 0.0
    gate via coalesce-to-infinity).  Docs that cannot be scored (no
    grams) are DROPPED — an unscorable doc is exactly what this filter
    exists to remove."""
    pred = lang_predict(lang_scores(df, model, text_col, id_col,
                                    lowercase))
    keep = pred.filter(
        F.col("lang").isin(list(keep_langs))
        & (F.coalesce(F.col("margin"), F.lit(float("inf")))
           >= min_margin)).select(F.col("id").alias(id_col))
    return df.join(keep, [id_col], "left_semi")
