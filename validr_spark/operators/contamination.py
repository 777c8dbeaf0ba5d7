"""Benchmark decontamination — find training documents that overlap an
evaluation/benchmark set by shared word n-grams.

The standard LLM-pipeline hygiene step (GPT-3 used 13-gram overlap,
Llama-style pipelines 8-grams): a training doc that shares ≥ ``min_hits``
distinct word n-grams with any benchmark item is flagged
(``contamination_scan``) or attributed to the specific benchmark item
(``contamination_pairs``).

Scale design (corpus = 10^12 docs, benchmark = 10^3..10^6 items):

* n-grams are built with the codegen ``slice``+``arrays_zip`` pattern
  (no lambda HOFs — see PERF.md Finding 1) and hashed to int64 with
  ``xxhash64`` so the join key is 8 bytes, never the gram string.
* the benchmark side is tiny by construction → its distinct gram-hash
  set is **broadcast**; the corpus-side probe is a broadcast hash join
  inside the same codegen stage as the explode — the 10^12-row side is
  never shuffled on the gram key.  Pass ``broadcast_benchmark=False``
  to fall back to a shuffled join for a pathologically large benchmark.
* per-doc aggregation is a map-side-combinable count over the (rare)
  surviving hits.

Hash collisions: xxhash64 over ≤10^10 distinct grams gives ~10^-9
per-pair collision odds — negligible for a screen whose hits are
reviewed/dropped wholesale.

No counterpart in guyskk/validr (single-value validation only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from validr_spark.operators._barrier import once
from validr_spark.operators.textstats import words_of

__all__ = ["ngram_hashes", "contamination_scan", "contamination_pairs",
           "decontaminate", "ngram_novelty", "token_ngram_hashes",
           "token_contamination_scan"]


def ngram_hashes(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """(id, gram) with one row per n-gram occurrence position; gram is the
    xxhash64 of the space-joined lowercased word n-gram.  Docs shorter
    than n words produce no rows.  Pure codegen: split → slice/zip →
    explode → hash."""
    c = F.col(text_col)
    # barrier: the split regex runs once per row, not once per slice
    w_once = once(words_of(c))
    pre = df.select(F.col(id_col).alias("_cid"), w_once.alias("_w"))
    wcol = F.col("_w")
    sz = F.size(wcol)
    pre = pre.filter(sz >= n)
    zipped = F.arrays_zip(
        *[F.slice(wcol, i + 1, sz - (n - 1)) for i in range(n)])
    gram = F.concat_ws(" ", *[F.col("_g")[str(i)] for i in range(n)])
    return (pre.select("_cid", F.explode(zipped).alias("_g"))
            .select(F.col("_cid").alias(id_col),
                    F.xxhash64(gram).alias("gram")))


def _shared_gram_counts(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str, id_col: str, bench_text: str,
                        n: int, broadcast_benchmark: bool) -> DataFrame:
    """(id_col, n_hits): distinct benchmark n-gram hashes shared by each
    corpus doc (docs with zero hits absent).  The single source of truth
    for the gram-set construction + probe used by both
    :func:`contamination_scan` and :func:`decontaminate` — the scan/
    removal complement invariant depends on these being the same code."""
    bench_src = benchmark.select(F.lit(0).alias("_bid"),
                                 F.col(bench_text).alias("_btext"))
    bench = (ngram_hashes(bench_src, "_btext", "_bid", n)
             .select("gram").distinct())
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    # hits: inner (broadcast) join prunes to shared grams (rare), THEN
    # dedup — never a corpus-wide shuffle
    return (ngram_hashes(corpus, text_col, id_col, n)
            .join(bench, on="gram")
            .distinct()
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))


def contamination_scan(corpus: DataFrame, benchmark: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       bench_text_col: str | None = None,
                       n: int = 8, min_hits: int = 1,
                       broadcast_benchmark: bool = True) -> DataFrame:
    """Per-corpus-doc contamination report:
    (doc_id, n_grams, n_hits, hit_fraction, contaminated).

    ``n_grams`` is the doc's n-gram POSITION count (``n_words − n + 1``,
    computed map-side — no corpus-wide shuffle to deduplicate grams);
    ``n_hits`` counts DISTINCT shared gram hashes, so a doc repeating one
    leaked line does not inflate its score.

    Shuffle budget at 10^12 docs: ZERO corpus-wide shuffles — totals are
    a narrow scan, the gram probe is a broadcast inner join (only HITS
    survive it, and only hits are deduplicated/aggregated), and the final
    attach joins the hit table back onto the corpus with a plain
    equi-join — AQE picks broadcast when the hit table is genuinely
    small, but a heavily contaminated corpus (boilerplate benchmark
    grams) can make it arbitrarily large, so forcing broadcast here
    would OOM exactly when contamination is worst."""
    bench_text = bench_text_col or text_col
    # per-doc gram totals: map-side arithmetic, no explode survives
    totals = corpus.select(
        F.col(id_col),
        F.greatest(F.size(words_of(F.col(text_col))) - (n - 1),
                   F.lit(0)).cast("long").alias("n_grams"))
    hits = _shared_gram_counts(corpus, benchmark, text_col, id_col,
                               bench_text, n, broadcast_benchmark)
    per_doc = totals.join(hits, on=id_col, how="left")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return per_doc.select(
        id_col, "n_grams", n_hits.alias("n_hits"),
        F.round(F.when(F.col("n_grams") > 0, n_hits / F.col("n_grams"))
                .otherwise(F.lit(0.0)), 6).alias("hit_fraction"),
        (n_hits >= min_hits).alias("contaminated"))


def contamination_pairs(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_id_col: str = "bench_id",
                        bench_text_col: str | None = None,
                        n: int = 8, min_hits: int = 1,
                        broadcast_benchmark: bool = True) -> DataFrame:
    """Attribution variant: (doc_id, bench_id, n_shared) for pairs sharing
    ≥ min_hits distinct n-grams — which benchmark item leaked where.
    Join fan-out is |shared grams| per pair — bounded by the benchmark
    side's size, not the corpus's."""
    bench_text = bench_text_col or text_col
    bench = ngram_hashes(benchmark, bench_text, bench_id_col, n).distinct()
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    # inner-join FIRST (broadcast probe, only hits survive), dedup the
    # rare (doc, bench, gram) triples after — never a corpus-wide shuffle
    return (ngram_hashes(corpus, text_col, id_col, n)
            .join(bench, on="gram")
            .distinct()
            .groupBy(id_col, bench_id_col)
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_hits))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None,
                  n: int = 8, min_hits: int = 1,
                  broadcast_benchmark: bool = True) -> DataFrame:
    """The removal counterpart of :func:`contamination_scan`: the corpus
    minus every doc sharing ≥ ``min_hits`` distinct word-``n``-grams with
    the benchmark — the transform a training pipeline actually applies
    after the scan's report is reviewed.

    Shuffle budget at 10^12 docs: the benchmark gram set broadcasts, the
    probe join keeps only HITS (contamination-rate sized), the distinct/
    groupBy shuffles hits only, and the final LEFT ANTI joins that small
    id set back (null-safe, so a doc with a NULL id can still be dropped
    if a NULL-id doc was flagged — mirroring pipeline.py's anti-join).
    The corpus itself is never shuffled.
    """
    bench_text = bench_text_col or text_col
    bad = (_shared_gram_counts(corpus, benchmark, text_col, id_col,
                               bench_text, n, broadcast_benchmark)
           .filter(F.col("n_hits") >= min_hits)
           .select(F.col(id_col).alias("_bad_id")))
    return (corpus.join(bad, corpus[id_col].eqNullSafe(F.col("_bad_id")),
                        "left_anti"))


def token_ngram_hashes(df: DataFrame, tokens_col: str = "tokens",
                       id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """(id, gram) for pre-tokenized sequences: one row per token
    ``n``-gram position, gram = xxhash64 of the n-int struct — the
    token-array twin of :func:`ngram_hashes` (no split, no strings;
    the slice/zip construction and the hash are whole-stage codegen).
    Sequences shorter than ``n`` tokens produce no rows."""
    t = F.col(tokens_col)
    sz = F.size(t)
    m = sz - (n - 1)
    pre = (df.filter(t.isNotNull() & (sz >= n))
           .select(F.col(id_col).alias("_cid"),
                   F.explode(F.arrays_zip(
                       *[F.slice(t, i + 1, m) for i in range(n)]))
                   .alias("_g")))
    return pre.select(F.col("_cid").alias(id_col),
                      F.xxhash64(F.col("_g")).alias("gram"))


def token_contamination_scan(corpus: DataFrame, benchmark: DataFrame,
                             tokens_col: str = "tokens",
                             id_col: str = "doc_id",
                             bench_tokens_col: str | None = None,
                             n: int = 8, min_hits: int = 1,
                             broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark decontamination DIRECTLY on the pre-tokenized sequence
    shape — token ``n``-gram overlap instead of word n-grams (the form
    labs apply to already-tokenized training shards, where re-detokenizing
    just to re-tokenize is a wasted pass and tokenizer drift would blur
    the match).  Same contract as :func:`contamination_scan`:
    ``(id, n_grams, n_hits, hit_fraction, contaminated)`` with
    ``n_grams`` the positional count (map-side arithmetic) and
    ``n_hits`` DISTINCT shared grams.

    Same shuffle budget too: the benchmark's distinct gram-hash set
    broadcasts, the corpus-side probe is a broadcast inner join (only
    hits survive, only hits deduplicate), and the totals/hits attach is
    a plain equi-join — zero corpus-wide shuffles.
    """
    bt = bench_tokens_col or tokens_col
    bench = (token_ngram_hashes(
                 benchmark.select(F.col(bt).alias("_btoks")),
                 "_btoks", "_btoks", n)
             .select("gram").distinct())
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    totals = corpus.select(
        F.col(id_col),
        F.greatest(F.size(F.col(tokens_col)) - (n - 1),
                   F.lit(0)).cast("long").alias("n_grams"))
    hits = (token_ngram_hashes(corpus, tokens_col, id_col, n)
            .join(bench, on="gram")
            .distinct()
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))
    per_doc = totals.join(hits, on=id_col, how="left")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return per_doc.select(
        id_col, "n_grams", n_hits.alias("n_hits"),
        F.round(F.when(F.col("n_grams") > 0, n_hits / F.col("n_grams"))
                .otherwise(F.lit(0.0)), 6).alias("hit_fraction"),
        (n_hits >= min_hits).alias("contaminated"))


def ngram_novelty(df: DataFrame, ref: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  ref_text_col: str | None = None, n: int = 8,
                  use_bloom: bool = False, fpp: float = 0.01,
                  expected_grams: int | None = None) -> DataFrame:
    """Per-document n-gram NOVELTY against a large reference corpus —
    the memorization scorer (Lee/Carlini-style overlap analysis of
    generated or newly-crawled text vs the training set): for each doc,
    the fraction of its DISTINCT word-``n``-grams that do NOT occur
    anywhere in ``ref``.

    Columns: ``(id, n_grams, n_seen, novelty)`` with ``novelty =
    1 − n_seen/n_grams``; novelty 0 = verbatim regurgitation, 1 = fully
    novel.  Docs with fewer than ``n`` words are absent (no grams = no
    statement).

    The complement of :func:`contamination_scan`'s shape: there the
    probe set (benchmark) is small and broadcasts; here the reference is
    another CORPUS, so the membership test is a gram-keyed join —
    distinct gram hashes shuffle on both sides (map-side partial
    distinct first; the shuffle carries 8-byte hashes, never text).
    ``use_bloom=True`` inserts a broadcast Bloom prefilter built from
    the reference grams (incremental.BloomFilter, treeReduce OR): the
    bloom-negative majority of doc grams — most grams, for mostly-novel
    corpora — is counted as unseen MAP-SIDE and never joins; only the
    maybe-seen slice reaches the exact confirming join, so the result
    is still exact (no false negatives exist; positives are confirmed).

    Hash identity: grams are xxhash64 of the space-joined lowercased
    word n-gram (ngram_hashes) — cross-doc collisions at 10^10 distinct
    grams are ~10^-9 per pair, negligible for a rate metric.
    """
    ref_text = ref_text_col or text_col
    dg = (ngram_hashes(df, text_col, id_col, n)
          .dropDuplicates([id_col, "gram"]))
    rg = ngram_hashes(ref, ref_text, id_col, n).select("gram").distinct()

    if use_bloom:
        from .incremental import bloom_from_keys, might_contain_udf

        if expected_grams is None:
            expected_grams = rg.count()
        maybe = might_contain_udf(df.sparkSession,
                                  bloom_from_keys(rg, expected_grams, fpp))
        tagged = dg.withColumn("_mb", maybe(F.col("gram")))
        # bloom-negative grams are PROVABLY unseen: count map-side
        neg = (tagged.filter(~F.col("_mb"))
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("_n"),
                    F.lit(0).cast("long").alias("_s")))
        pos = (tagged.filter(F.col("_mb"))
               .join(rg.withColumn("_seen", F.lit(1)), "gram", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("_n"),
                    F.sum(F.coalesce(F.col("_seen"), F.lit(0)))
                    .alias("_s")))
        per = (neg.unionByName(pos).groupBy(id_col)
               .agg(F.sum("_n").alias("n_grams"),
                    F.sum("_s").alias("n_seen")))
    else:
        marked = dg.join(rg.withColumn("_seen", F.lit(1)), "gram", "left")
        per = (marked.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.coalesce(F.col("_seen"), F.lit(0)))
                    .alias("n_seen")))
    return per.select(
        id_col, "n_grams", "n_seen",
        F.round(F.lit(1.0) - F.col("n_seen") / F.col("n_grams"), 6)
        .alias("novelty"))


def split_leakage(df: DataFrame, split_col: str = "split",
                  text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.8, ngram: int = 3,
                  verify: str = "jaccard", **lsh_kwargs) -> DataFrame:
    """Near-duplicate pairs that CROSS split boundaries — the leakage an
    exact-dedup-then-split pipeline still ships (a paraphrased or
    lightly-edited copy of a train document sitting in test silently
    inflates eval).  Run it AFTER :func:`~validr_spark.operators.sampling.
    split_assign`; a clean pipeline returns zero rows.

    Output: (id_a, id_b, split_a, split_b, score) — only pairs with
    ``split_a != split_b``, scored by exact word-n-gram Jaccard
    (``verify='jaccard'``) or normalized edit similarity
    (``verify='edit'``) over LSH candidates.

    Scale shape: identical to the dedup path (bucketed MinHash LSH
    candidates → candidates-only verify); the split columns ride in on
    two id-keyed broadcast-size joins against the candidate set, never a
    corpus shuffle.  Same-split near-dups are dedup's business and are
    filtered before the verify compute.
    """
    from .dedup import (edit_distance_verify, jaccard_verify,
                        minhash_candidates)
    cand = minhash_candidates(df, text_col, id_col, **lsh_kwargs)
    splits = df.select(F.col(id_col).alias("_sid"),
                       F.col(split_col).alias("_split"))
    tagged = (cand
              .join(splits.select(F.col("_sid").alias("id_a"),
                                  F.col("_split").alias("split_a")), "id_a")
              .join(splits.select(F.col("_sid").alias("id_b"),
                                  F.col("_split").alias("split_b")), "id_b")
              .filter(F.col("split_a") != F.col("split_b")))
    if verify == "jaccard":
        scored = jaccard_verify(df, tagged.select("id_a", "id_b"),
                                text_col, id_col, ngram, threshold)
        score = F.col("jaccard")
    elif verify == "edit":
        scored = edit_distance_verify(df, tagged.select("id_a", "id_b"),
                                      text_col, id_col, threshold)
        score = F.col("edit_sim")
    else:
        raise ValueError("verify must be 'jaccard' or 'edit'")
    return (scored.join(tagged.select("id_a", "id_b",
                                      "split_a", "split_b"),
                        ["id_a", "id_b"])
            .select("id_a", "id_b", "split_a", "split_b",
                    score.alias("score"))
            .orderBy("id_a", "id_b"))


def leakage_report(df: DataFrame, split_col: str = "split",
                   **kwargs) -> DataFrame:
    """One row per (split_a, split_b) direction: leaked pair count +
    distinct leaked docs on each side — the go/no-go summary for a
    split before training starts."""
    pairs = split_leakage(df, split_col, **kwargs)
    # pair orientation comes from arbitrary id ordering (id_a < id_b), so
    # one boundary's pairs would otherwise scatter across the (train,test)
    # AND (test,train) rows at random — normalize to the unordered split
    # pair so each boundary is ONE row with the full count.
    flip = F.col("split_a") > F.col("split_b")
    norm = pairs.select(
        F.least("split_a", "split_b").alias("split_a"),
        F.greatest("split_a", "split_b").alias("split_b"),
        F.when(flip, F.col("id_b")).otherwise(F.col("id_a")).alias("id_a"),
        F.when(flip, F.col("id_a")).otherwise(F.col("id_b")).alias("id_b"))
    return (norm.groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.countDistinct("id_a").alias("n_docs_a"),
                 F.countDistinct("id_b").alias("n_docs_b"))
            .orderBy("split_a", "split_b"))
