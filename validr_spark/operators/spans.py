"""Exact repeated-substring span detection — the "Deduplicating Training
Data Makes Language Models Better" (Lee et al., ACL 2022) dedup granularity:
not whole documents (dedup.py) and not lines (paradedup.py) but verbatim
word-window SPANS shared across documents (boilerplate, licenses, quoted
news wire), reported as per-document (start_word, end_word) ranges so a
pipeline can cut them out instead of dropping the whole document.

Algorithm (suffix arrays are a single-machine design; this is the shuffle
formulation):

1. positioned k-word-grams per document — codegen ``slice``+``arrays_zip``
   (same shape as contamination.py / top_ngram_stats), gram keyed by its
   ``xxhash64`` so the shuffle key is 8 bytes, never the string;
2. grams occurring in ≥ ``min_docs`` DISTINCT documents are "duplicated";
   the same hash-agg also takes each gram's GLOBAL first occurrence
   (``min(struct(doc, pos))``) so a survivor can be elected without a
   second corpus pass;
3. per-document gaps-and-islands (``pos − row_number()`` over a per-doc
   window) merges runs of adjacent duplicated gram positions into maximal
   spans.

Shuffle budget: one hash-agg on gram (map-side partials), one join back on
gram (reuses the agg's partitioning on one side), one per-doc window whose
input is only the DUPLICATED positions (rare by construction).  Group
state is O(1) everywhere — no collect_list, no per-gram position lists.

No counterpart in guyskk/validr (single-value validation only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from validr_spark.operators._barrier import once
from validr_spark.operators.textstats import words_of

__all__ = ["positioned_ngrams", "duplicate_spans", "cut_duplicate_spans",
           "span_dedup_stats"]


def positioned_ngrams(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """(id, pos, gram) — one row per n-gram occurrence, ``pos`` = 0-based
    starting word index, ``gram`` = xxhash64 of the space-joined
    lowercased word window.  Docs shorter than n words produce no rows.
    Pure codegen: split → slice/zip → posexplode → hash."""
    c = F.col(text_col)
    # barrier: the split regex runs once per row, not once per slice
    w_once = once(words_of(c))
    pre = df.select(F.col(id_col).alias("_sid"), w_once.alias("_w"))
    wcol = F.col("_w")
    sz = F.size(wcol)
    pre = pre.filter(sz >= n)
    zipped = F.arrays_zip(
        *[F.slice(wcol, i + 1, sz - (n - 1)) for i in range(n)])
    gram = F.concat_ws(" ", *[F.col("_g")[str(i)] for i in range(n)])
    return (pre.select("_sid", F.posexplode(zipped).alias("pos", "_g"))
            .select(F.col("_sid").alias(id_col), "pos",
                    F.xxhash64(gram).alias("gram")))


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 8,
                    min_docs: int = 2) -> DataFrame:
    """Maximal per-document spans of text duplicated verbatim (at k-word
    granularity) across ≥ ``min_docs`` documents:
    ``(id, start_word, end_word, n_grams, keep)``.

    ``start_word``/``end_word`` are inclusive 0-based word indices covering
    every word of every duplicated gram in the run; ``keep`` is True for
    the span that contains a gram's GLOBAL first occurrence (ordered by
    ``(id, pos)``) — the Lee-et-al. survivor convention: cut every span
    with ``keep = false`` and each duplicated passage survives exactly
    once in the corpus.
    """
    g = positioned_ngrams(df, text_col, id_col, n)
    first = F.min(F.struct(F.col(id_col).alias("d"),
                           F.col("pos").alias("p"))).alias("_first")
    dup = (g.groupBy("gram")
           .agg(F.countDistinct(id_col).alias("_ndocs"), first)
           .filter(F.col("_ndocs") >= min_docs)
           .select("gram", "_first"))
    hits = g.join(dup, "gram")
    w = Window.partitionBy(id_col).orderBy("pos")
    isf = ((F.col("_first.d") == F.col(id_col))
           & (F.col("_first.p") == F.col("pos"))).cast("int")
    runs = (hits.select(id_col, "pos", isf.alias("_isf"))
            .withColumn("_grp", F.col("pos") - F.row_number().over(w)))
    return (runs.groupBy(id_col, "_grp")
            .agg(F.min("pos").alias("start_word"),
                 (F.max("pos") + (n - 1)).alias("end_word"),
                 F.count(F.lit(1)).alias("n_grams"),
                 (F.max("_isf") == 1).alias("keep"))
            .drop("_grp"))


def cut_duplicate_spans(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 8,
                        min_docs: int = 2) -> DataFrame:
    """Rebuild each document with its non-surviving duplicated spans CUT
    (keep=False ranges from :func:`duplicate_spans`): each duplicated
    passage survives exactly once in the corpus, every other verbatim
    copy is removed in place — Lee et al.'s ExactSubstr deletion, as a
    corpus transform.  Returns ``(id, text, n_words, n_words_removed)``.

    Reconstruction splits on the same ``\\s+`` boundaries as the gram
    pass but keeps the ORIGINAL case (whitespace is canonicalized to
    single spaces; word positions align because lowercasing never
    changes token boundaries).  Overlapping keep/cut ranges (possible
    when two islands sit closer than n words) resolve in favor of
    cutting — acceptable for a dedup whose unit is the word window.

    Shape: positions-to-drop = ``sequence()``-explode of the (rare) cut
    spans; original words posexplode LEFT ANTI join on (doc, pos) — both
    shuffles keyed by doc id; per-doc reassembly via the same
    array_sort(collect_list) pattern as paradedup.py (state bounded by
    words/doc, which the schema's maxlen already bounds).
    """
    cuts = duplicate_spans(df, text_col, id_col, n, min_docs) \
        .filter(~F.col("keep"))
    drop = cuts.select(F.col(id_col).alias("_doc"),
                       F.explode(F.sequence("start_word", "end_word"))
                       .alias("_pos"))
    raw_words = F.split(F.trim(F.col(text_col)), r"\s+")
    src = df.select(F.col(id_col).alias("_doc"),
                    F.posexplode(raw_words).alias("_pos", "_word"))
    kept = src.join(drop, ["_doc", "_pos"], "left_anti")
    rebuilt = (kept.groupBy("_doc")
               .agg(F.array_sort(F.collect_list(
                    F.struct("_pos", "_word"))).alias("_ws"),
                    F.count(F.lit(1)).alias("_n_kept")))
    totals = df.select(F.col(id_col).alias("_doc"),
                       F.size(raw_words).alias("_n_total"))
    n_kept = F.coalesce(F.col("_n_kept"), F.lit(0))
    return (totals.join(rebuilt, "_doc", "left")
            .select(F.col("_doc").alias(id_col),
                    F.coalesce(F.concat_ws(" ", F.col("_ws._word")),
                               F.lit("")).alias(text_col),
                    n_kept.alias("n_words"),
                    (F.col("_n_total") - n_kept).alias("n_words_removed")))


def span_dedup_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 8,
                     min_docs: int = 2) -> DataFrame:
    """One-row corpus summary of span-level duplication:
    ``(n_docs_affected, n_spans, n_spans_cut, dup_words_total,
    cut_words_total)`` — ``*_cut`` excludes the keep=True survivors.
    Span word counts use the inclusive window size
    ``end_word − start_word + 1``; two islands closer than n words have
    overlapping windows, so word totals are an upper bound (the cutter
    itself deduplicates positions and is exact)."""
    s = duplicate_spans(df, text_col, id_col, n, min_docs)
    words = F.col("end_word") - F.col("start_word") + 1
    cut = F.when(~F.col("keep"), words).otherwise(F.lit(0))
    return s.agg(
        F.countDistinct(id_col).alias("n_docs_affected"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_spans_cut"),
        F.sum(words).alias("dup_words_total"),
        F.sum(cut).alias("cut_words_total"))
