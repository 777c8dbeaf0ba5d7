"""Text analysis for training-data pipelines: language id, quality scores,
token counting, document fingerprints.  All pure Catalyst expressions —
regex/array ops inside whole-stage codegen, zero Python in the hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._barrier import once

# minimal stopword profiles (n-gram heuristic): enough to separate the
# testdata languages; extend per-deployment.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que", "por", "para"],
}


def words_of(col) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col) -> Column:
    """Whitespace token count (regexp_count of non-space runs)."""
    return F.regexp_count(col, F.lit(r"\S+"))


def bpe_ish_token_count(col) -> Column:
    """BPE-ish upper bound: word pieces + standalone punctuation/digits."""
    return F.regexp_count(col, F.lit(r"[A-Za-z]{1,4}|\d|[^\w\s]"))


def cjk_ratio(col) -> Column:
    n = F.char_length(col)
    return F.when(n > 0,
                  F.regexp_count(col, F.lit(r"[一-鿿぀-ヿ]")) / n
                  ).otherwise(F.lit(0.0))


def _hit_count(col, sw: list) -> Column:
    """Occurrence count of any (whitespace-delimited, lowercased) stopword
    — ONE regexp_count pass, no lambda HOF (interpreted, PERF.md Finding
    1) and no per-stopword array allocations.  `(?:^|\\s)tok(?=\\s|$)`
    matches exactly the split-on-whitespace membership semantics.

    Tokens are regex-escaped: STOPWORDS is documented as extendable
    per-deployment, and an unescaped metacharacter ('c++', 'etc.')
    would either throw at execution time or silently change the match
    semantics of the whole alternation."""
    alt = "|".join(re.escape(t) for t in sw)
    return F.regexp_count(F.lower(F.trim(col)),
                          F.lit(r"(?:^|\s)(?:%s)(?=\s|$)" % alt))


def language_scores(col, w: Column | None = None) -> Column:
    """struct of per-language stopword-hit ratios + cjk ratio.

    Pass a pre-materialized words column `w` to avoid the optimizer
    re-inlining the split regex into every field (see text_profile).
    """
    if w is None:
        w = words_of(col)
    n = F.greatest(F.size(w), F.lit(1))
    fields = [
        (F.size(F.array_intersect(w, F.array(*map(F.lit, sw)))) /
         F.lit(len(sw))).alias(lang)
        for lang, sw in STOPWORDS.items()
    ]
    hit_fields = [
        (_hit_count(col, sw) / n).alias(f"{lang}_hits")
        for lang, sw in STOPWORDS.items()
    ]
    return F.struct(*fields, *hit_fields, cjk_ratio(col).alias("cjk"))


def detect_language(col, w: Column | None = None) -> Column:
    """Best-guess language code; 'zh' when CJK chars dominate,
    'unknown' when nothing scores."""
    scores = language_scores(col, w)
    langs = list(STOPWORDS)
    best = F.lit("unknown")
    best_score = F.lit(0.0)
    for lang in langs:
        s = scores[f"{lang}_hits"]
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return F.when(scores["cjk"] > 0.25, F.lit("zh")).otherwise(best)


def quality_features(col, w: Column | None = None) -> Column:
    """struct of cheap quality signals (length, word stats, punct/digit
    ratios, repetition)."""
    n = F.char_length(col)
    if w is None:
        w = words_of(col)
    n_words = F.size(w)
    uniq_ratio = F.when(n_words > 0,
                        F.size(F.array_distinct(w)) / n_words).otherwise(0.0)
    return F.struct(
        n.alias("n_chars"),
        n_words.alias("n_words"),
        F.when(n_words > 0, n / n_words).otherwise(0.0).alias("mean_word_len"),
        F.when(n > 0, F.regexp_count(col, F.lit(r"[\p{Punct}]")) / n)
        .otherwise(0.0).alias("punct_ratio"),
        F.when(n > 0, F.regexp_count(col, F.lit(r"\d")) / n)
        .otherwise(0.0).alias("digit_ratio"),
        F.when(n > 0, F.regexp_count(col, F.lit(r"[A-Z]")) / n)
        .otherwise(0.0).alias("upper_ratio"),
        uniq_ratio.alias("unique_word_ratio"),
    )


def quality_score(col, w: Column | None = None) -> Column:
    """[0,1] heuristic quality score (Gopher-rules-flavored)."""
    q = quality_features(col, w)
    score = F.lit(1.0)
    # too short / too long
    score = score * F.when((q["n_words"] >= 10) & (q["n_words"] <= 100000),
                           1.0).otherwise(0.3)
    # implausible mean word length
    score = score * F.when((q["mean_word_len"] >= 3)
                           & (q["mean_word_len"] <= 12), 1.0).otherwise(0.5)
    # symbol soup
    score = score * F.when(q["punct_ratio"] <= 0.2, 1.0).otherwise(0.5)
    score = score * F.when(q["digit_ratio"] <= 0.3, 1.0).otherwise(0.6)
    # heavy repetition
    score = score * F.when(q["unique_word_ratio"] >= 0.3, 1.0).otherwise(0.4)
    return score


def quality_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", *,
                   min_words: int = 10, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 12.0,
                   max_punct_ratio: float = 0.2,
                   max_digit_ratio: float = 0.3,
                   min_unique_word_ratio: float = 0.3,
                   max_dup_line_fraction: float = 0.3) -> DataFrame:
    """C4/Gopher-style keep/drop filter: every rule violated lands in a
    ``reasons`` string (comma-joined, rule order fixed), ``keep`` is true
    iff no rule fired.  Pure map-side projection — quality_features +
    repetition_features are codegen expressions, so at 100 TB this is a
    scan-bound pass with zero shuffle; downstream writers filter on
    ``keep`` with the predicate still pushdown-eligible.

    Returns (id, keep, reasons) — join back on id_col (or re-apply; it's
    deterministic) to carry the text."""
    c = F.col(text_col)
    w_once = once(words_of(c))
    pre = df.select(F.col(id_col), c.alias("_t"), w_once.alias("_w"))
    reasons = _quality_reasons(
        F.col("_t"), F.col("_w"), min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_punct_ratio=max_punct_ratio, max_digit_ratio=max_digit_ratio,
        min_unique_word_ratio=min_unique_word_ratio,
        max_dup_line_fraction=max_dup_line_fraction)
    return pre.select(
        F.col(id_col),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def _quality_reasons(text, words, *, min_words, max_words,
                     min_mean_word_len, max_mean_word_len, max_punct_ratio,
                     max_digit_ratio, min_unique_word_ratio,
                     max_dup_line_fraction) -> Column:
    q = quality_features(text, words)
    r = repetition_features(text, words)

    def flag(cond, name):
        return F.when(cond, F.lit(name))

    return F.concat_ws(
        ",",
        flag(q["n_words"] < min_words, "too_few_words"),
        flag(q["n_words"] > max_words, "too_many_words"),
        flag((q["mean_word_len"] < min_mean_word_len)
             | (q["mean_word_len"] > max_mean_word_len),
             "mean_word_len"),
        flag(q["punct_ratio"] > max_punct_ratio, "punct_ratio"),
        flag(q["digit_ratio"] > max_digit_ratio, "digit_ratio"),
        flag(q["unique_word_ratio"] < min_unique_word_ratio,
             "unique_word_ratio"),
        flag(r["dup_line_fraction"] > max_dup_line_fraction,
             "dup_line_fraction"),
    )


def quality_annotate(df: DataFrame, text_col: str = "text", *,
                     min_words: int = 10, max_words: int = 100_000,
                     min_mean_word_len: float = 3.0,
                     max_mean_word_len: float = 12.0,
                     max_punct_ratio: float = 0.2,
                     max_digit_ratio: float = 0.3,
                     min_unique_word_ratio: float = 0.3,
                     max_dup_line_fraction: float = 0.3) -> DataFrame:
    """`quality_filter` in annotate form: every input column preserved,
    plus ``keep``/``reasons`` — the join-free shape for filter pipelines.
    An id round-trip (`quality_filter` → semi-join back) silently drops
    every NULL-id row (NULL never equi-joins) and multiplies duplicated
    ids; this form needs no id at all and adds zero shuffle."""
    c = F.col(text_col)
    w_once = once(words_of(c))
    pre = df.withColumn("_w", w_once)
    reasons = _quality_reasons(
        c, F.col("_w"), min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_punct_ratio=max_punct_ratio, max_digit_ratio=max_digit_ratio,
        min_unique_word_ratio=min_unique_word_ratio,
        max_dup_line_fraction=max_dup_line_fraction)
    return (pre.withColumn("keep", reasons == "")
            .withColumn("reasons", reasons)
            .drop("_w"))


def fingerprint(col) -> Column:
    """64-bit content fingerprint of the normalized text (xxhash64 of the
    whitespace-collapsed lowercase form — rolling-hash equivalent for
    whole-document identity)."""
    return F.xxhash64(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def text_profile(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document text-analysis table: language, quality, token counts,
    fingerprint — one narrow projection over a words array materialized
    ONCE per row (nondeterministic-guarded barrier: otherwise
    CollapseProject inlines the split regex into every downstream field
    and it executes ~10× per row)."""
    c = F.col(text_col)
    w_once = once(words_of(c))
    pre = df.select(F.col(id_col), c.alias("_t"), w_once.alias("_w"))
    t, w = F.col("_t"), F.col("_w")
    return pre.select(
        F.col(id_col),
        detect_language(t, w).alias("lang_detected"),
        quality_score(t, w).alias("quality"),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        fingerprint(t).alias("fingerprint"),
        quality_features(t, w).alias("features"),
    )


def repetition_features(col, w: Column | None = None) -> Column:
    """struct of Gopher-style repetition signals computable without a
    shuffle: duplicate-line fraction and duplicate-word fraction.

    `split` + `array_distinct` are codegen collection expressions (not
    lambda HOFs — PERF.md Finding 1), so this stays a map-side projection.
    For the n-gram repetition signal (needs a per-doc mode) see
    :func:`top_ngram_stats` — that one is irreducibly a grouped aggregate.

    Pass a pre-materialized words column `w` to avoid re-running the
    split regex when the caller already materialized it (text_profile /
    quality_filter barrier pattern).
    """
    col = F.col(col) if isinstance(col, str) else col
    # collapse blank lines, trim outer whitespace → no empty entries
    lines = F.split(F.regexp_replace(F.trim(col), r"\s*\n\s*", "\n"), "\n")
    n_lines = F.size(lines)
    if w is None:
        w = words_of(col)
    n_words = F.size(w)
    return F.struct(
        n_lines.alias("n_lines"),
        F.when(n_lines > 0,
               1.0 - F.size(F.array_distinct(lines)) / n_lines)
        .otherwise(0.0).alias("dup_line_fraction"),
        F.when(n_words > 0,
               1.0 - F.size(F.array_distinct(w)) / n_words)
        .otherwise(0.0).alias("dup_word_fraction"),
    )


def word_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 carry_cols: list[str] | None = None) -> DataFrame:
    """Per-document Shannon entropy (bits) of the word distribution —
    the CCNet/Gopher-family lexical-diversity quality signal: gibberish
    and keyword-stuffed spam sit at the extremes, natural prose in a
    band (filter on it like ``quality_filter`` thresholds).

    ``entropy = log2(n) − Σ c·log2(c) / n`` over per-word counts ``c`` —
    computed from the two grouped aggregates, never a per-doc
    vocabulary map in memory.

    Shape at scale: explode(words) → hash-agg on (doc, word) with
    map-side partials (the shuffle carries distinct words per doc, not
    occurrences) → per-doc agg re-using the same hash partitioning
    prefix.  All codegen; no lambda HOFs, no Python.

    No counterpart in guyskk/validr (single-value validation only).
    """
    carry = list(carry_cols or [])
    c = F.col(text_col)
    wrds = (df.select(F.col(id_col), *carry,
                      F.explode(words_of(c)).alias("_w"))
            .filter(F.col("_w") != ""))
    per_word = (wrds.groupBy(id_col, *carry, "_w")
                .agg(F.count(F.lit(1)).alias("_c")))
    cnt = F.col("_c").cast("double")
    n = F.sum("_c").cast("double")
    return (per_word.groupBy(id_col, *carry)
            .agg(F.sum("_c").alias("n_words"),
                 F.count(F.lit(1)).alias("n_distinct_words"),
                 F.round(F.log2(n) - F.sum(cnt * F.log2(cnt)) / n, 6)
                 .alias("entropy")))


def unigram_logprob(df: DataFrame, ref: DataFrame | None = None,
                    text_col: str = "text", id_col: str = "doc_id",
                    ref_text_col: str | None = None,
                    top_v: int | None = None,
                    oov_alpha: float = 0.5) -> DataFrame:
    """Per-document average word log-probability under a unigram model —
    the CCNet-family LM-quality proxy without an external LM: spam and
    gibberish score far from the corpus's own distribution.

    ``(id, n_words, oov_fraction, avg_logprob)`` with
    ``avg_logprob = mean log2 p(word)``, ``p = c / N`` from the reference
    corpus ``ref`` (default: ``df`` itself — self-scoring).  Words absent
    from the model get the floor ``oov_alpha / N``.

    Scale modes:

    * ``top_v=None`` (exact): the word-count model joins on the word —
      one shuffle keyed by word on each side; right for oracle/tests and
      bounded vocabularies (token ids).
    * ``top_v=V``: the model truncates to the V most frequent words and
      **broadcasts**; everything else is OOV-floored.  At 10^12 docs the
      corpus vocabulary is unbounded (typos, ids) but the mass lives in
      the head — V≈10^6 rows of (word, logp) broadcast in ~tens of MB
      and the scoring pass becomes explode → broadcast-join → per-doc
      agg, no corpus-wide shuffle on the word key.

    No counterpart in guyskk/validr (single-value validation only).
    """
    ref = df if ref is None else ref
    rcol = ref_text_col or text_col
    rwords = (ref.select(F.explode(words_of(F.col(rcol))).alias("_w"))
              .filter(F.col("_w") != ""))
    counts_full = rwords.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    counts = (counts_full.orderBy(F.desc("_c"), "_w").limit(top_v)
              if top_v is not None else counts_full)
    # total N over the FULL reference (not the truncated head), so
    # probabilities stay consistent between modes; summed from the count
    # table — no second explode scan of the reference
    total = counts_full.agg(F.sum("_c").alias("_n"))
    model = counts.crossJoin(F.broadcast(total)).select(
        "_w", F.log2(F.col("_c") / F.col("_n")).alias("_logp"))
    if top_v is not None:
        model = F.broadcast(model)

    wrds = (df.select(F.col(id_col), F.explode(words_of(F.col(text_col)))
                      .alias("_w"))
            .filter(F.col("_w") != ""))
    scored = (wrds.join(model, "_w", "left")
              .crossJoin(F.broadcast(total)))
    floor = F.log2(F.lit(oov_alpha) / F.col("_n"))
    lp = F.coalesce(F.col("_logp"), floor)
    oov = F.when(F.col("_logp").isNull(), 1).otherwise(0)
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.round(F.sum(oov) / F.count(F.lit(1)), 6)
                 .alias("oov_fraction"),
                 F.round(F.avg(lp), 6).alias("avg_logprob")))


def logprob_buckets(df: DataFrame, cutoffs: list[float],
                    ref: DataFrame | None = None,
                    text_col: str = "text", id_col: str = "doc_id",
                    ref_text_col: str | None = None,
                    top_v: int | None = None,
                    oov_alpha: float = 0.5) -> DataFrame:
    """CCNet-style LM-quality buckets (Wenzek et al., LREC 2020): score
    every document with :func:`unigram_logprob` against a reference
    corpus, then bucket by fixed ``cutoffs`` — bucket 0 (head) =
    ``avg_logprob ≥ cutoffs[0]``, bucket i = first cutoff the score
    clears, bucket ``len(cutoffs)`` (tail) = below all of them.

    Fixed cutoffs (not per-run quantiles) are deliberate: CCNet computes
    head/middle/tail thresholds ONCE on a reference snapshot and reuses
    them, which keeps incremental/resumed runs consistent — a quantile
    recomputed per batch would migrate documents between buckets as the
    corpus grows.  Use ``df.approxQuantile("avg_logprob", ...)`` on a
    snapshot to calibrate cutoffs.

    Adds ``bucket`` to the ``unigram_logprob`` output; same scale modes
    (``top_v`` broadcast-head = the 10^12-doc path).  Documents with no
    words (empty/whitespace-only text) have no score and are absent
    here; :func:`ccnet_sample` buckets them into the tail explicitly.

    ``cutoffs`` must be strictly decreasing — bucket i is defined by
    ``cutoffs[i]``, so silently re-sorting (or deduplicating) would
    reassign the caller's per-bucket rates.
    """
    cuts = [float(c) for c in cutoffs]
    if not cuts:
        raise ValueError("logprob_buckets: need at least one cutoff")
    if any(b >= a for a, b in zip(cuts, cuts[1:])):
        raise ValueError("logprob_buckets: cutoffs must be strictly "
                         f"decreasing (bucket i = cutoffs[i]), got {cuts}")
    scored = unigram_logprob(df, ref, text_col, id_col, ref_text_col,
                             top_v, oov_alpha)
    expr = None
    for i, c in enumerate(cuts):
        cond = F.col("avg_logprob") >= F.lit(c)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    return scored.withColumn("bucket",
                             expr.otherwise(len(cuts)).cast("int"))


def ccnet_sample(df: DataFrame, cutoffs: list[float],
                 rates: dict[int, float],
                 ref: DataFrame | None = None,
                 text_col: str = "text", id_col: str = "doc_id",
                 ref_text_col: str | None = None,
                 top_v: int | None = None, oov_alpha: float = 0.5,
                 seed: str = "42", default_rate: float = 0.0) -> DataFrame:
    """The CCNet selection step: per-quality-bucket keep rates (e.g. keep
    all of the head, half of the middle, a sliver of the tail), applied
    with the deterministic md5 sampler from operators/sampling.py —
    reruns keep the identical rows.

    Returns the input rows of the kept documents plus their
    ``avg_logprob`` and ``bucket`` columns.  One scoring pass + a
    map-side rate filter + one id-keyed join back to the corpus (the
    score table is (id, 3 numerics) — tiny next to the corpus row).

    Documents with no words (empty/whitespace-only/NULL text) have no
    logprob evidence; they are bucketed into the TAIL
    (``len(cutoffs)``) with a NULL ``avg_logprob`` and sampled at that
    bucket's rate — a selection operator must account for every input
    row, not silently drop the unscorable ones.
    """
    from .sampling import weighted_mix

    buckets = logprob_buckets(df, cutoffs, ref, text_col, id_col,
                              ref_text_col, top_v, oov_alpha)
    tail = len(list(cutoffs))
    scored = (df.select(id_col)
              .join(buckets.select(id_col, "avg_logprob", "bucket"),
                    id_col, "left")
              .withColumn("bucket", F.coalesce(
                  F.col("bucket"), F.lit(tail).cast("int"))))
    tagged = scored.withColumn("_b", F.col("bucket").cast("string"))
    kept = weighted_mix(tagged, {str(int(b)): r for b, r in rates.items()},
                        "_b", key=id_col, seed=seed,
                        default_rate=default_rate)
    return df.join(kept.select(id_col, "avg_logprob", "bucket"), id_col)


def top_ngram_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 2,
                    carry_cols: list[str] | None = None) -> DataFrame:
    """Per-document top word-n-gram share (Gopher repetition rule: drop
    docs whose most frequent n-gram covers too much of the text).

    Shape at scale: explode(n-grams) multiplies rows by ~n_words (same
    class as the minhash shingle explode — generate → project → partial
    agg in ONE WholeStageCodegen stage, exploded rows never hit the
    shuffle at full width); the (doc, gram) hash-agg shrinks map-side,
    then the per-doc max/sum agg re-shuffles only distinct grams.  The
    n-gram is built with `slice`+`arrays_zip` (codegen) — no lambda HOFs.

    ``carry_cols``: per-document attribute columns (lang, source, ...) to
    carry through the aggregation keys — functionally dependent on
    ``id_col`` so they add no groups, and they save the caller a
    corpus-sized join back onto the input to recover them.
    """
    carry = list(carry_cols or [])
    c = F.col(text_col)
    # words materialized once (CollapseProject barrier — see text_profile)
    w_once = once(words_of(c))
    pre = df.select(F.col(id_col), *carry, w_once.alias("_w"))
    wcol = F.col("_w")
    sz = F.size(wcol)
    pre = pre.filter(sz >= n)
    zipped = F.arrays_zip(
        *[F.slice(wcol, i + 1, sz - (n - 1)) for i in range(n)])
    grams = pre.select(id_col, *carry, F.explode(zipped).alias("_g"))
    gram = F.concat_ws(" ", *[F.col("_g")[str(i)] for i in range(n)])
    per_gram = (grams.select(id_col, *carry, gram.alias("gram"))
                .groupBy(id_col, *carry, "gram")
                .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_gram.groupBy(id_col, *carry)
            .agg(F.sum("cnt").alias("n_ngrams"),
                 F.max("cnt").alias("top_ngram_count"))
            .withColumn("top_ngram_fraction",
                        F.round(F.col("top_ngram_count") / F.col("n_ngrams"),
                                6)))


def collocations(df: DataFrame, text_col: str = "text",
                 min_count: int = 5) -> DataFrame:
    """Corpus-level word-bigram collocation scores: for every adjacent
    word pair, its count, the member word counts, the independence lift
    ``p(w1 w2) / (p(w1)·p(w2))`` and ``pmi = log2(lift)`` (Church &
    Hanks 1990).  High-PMI pairs are multiword units ("san francisco");
    a corpus whose top collocations are boilerplate fragments ("click
    here", "all rights") is telling you something — this is the
    corpus-wide companion of the per-document ``top_ngram_stats``.

    Shape at scale: one corpus scan, exploded twice (unigrams, bigrams)
    into two hash-aggs with map-side partials — the shuffles carry
    distinct words/bigrams, not occurrences.  The two total counts join
    back as broadcast one-row literals, and bigram→unigram joins are on
    distinct-word-sized tables, never the corpus.  All codegen
    (slice+arrays_zip bigrams — no lambda HOFs, no Python).
    ``min_count`` prunes the bigram tail BEFORE the unigram joins.

    No counterpart in guyskk/validr (single-value validation only).
    """
    c = F.col(text_col)
    pre = (df.filter(c.isNotNull() & (F.trim(c) != ""))
           .select(once(words_of(c)).alias("_w")))
    wcol = F.col("_w")
    sz = F.size(wcol)
    uni = (pre.select(F.explode(wcol).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("w_count")))
    zipped = F.arrays_zip(F.slice(wcol, 1, sz - 1), F.slice(wcol, 2, sz - 1))
    big_all = (pre.filter(sz >= 2)
               .select(F.explode(zipped).alias("_g"))
               .select(F.col("_g")["0"].alias("w1"),
                       F.col("_g")["1"].alias("w2"))
               .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count")))
    n_uni = uni.agg(F.sum("w_count").alias("_nw"))
    # totals over ALL bigrams (the probability denominator), taken before
    # the min_count prune — the prune only bounds what flows into the joins
    n_big = big_all.agg(F.sum("pair_count").alias("_nb"))
    big = big_all.filter(F.col("pair_count") >= min_count)
    scored = (big
              .join(F.broadcast(n_big))
              .join(F.broadcast(n_uni))
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("w_count").alias("w1_count")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("w_count").alias("w2_count")), "w2"))
    # left-assoc double products (not long): no ANSI overflow at corpus
    # scale, and bit-identical to the DuckDB oracle's ::DOUBLE arithmetic
    lift = ((F.col("pair_count").cast("double") * F.col("_nw") * F.col("_nw"))
            / (F.col("w1_count").cast("double") * F.col("w2_count")
               * F.col("_nb")))
    return scored.select(
        "w1", "w2", "pair_count", "w1_count", "w2_count",
        lift.alias("lift"), F.log2(lift).alias("pmi"))


def top_collocations(df: DataFrame, k: int = 50, text_col: str = "text",
                     min_count: int = 5) -> DataFrame:
    """Top-k collocations by PMI (deterministic (pmi, w1, w2) tie-break);
    TakeOrderedAndProject — no global sort materializes."""
    return (collocations(df, text_col, min_count)
            .orderBy(F.desc("pmi"), "w1", "w2").limit(k))


def template_mining(df: DataFrame, text_col: str = "text",
                    min_docs: int = 2, top: int = 50) -> DataFrame:
    """Boilerplate/template detection: normalize each document (lower,
    digit runs → '#', whitespace collapsed, trimmed) and surface the
    templates that many documents share — machine-generated boilerplate
    ("page # of #", listing scaffolds, error pages) that survives exact
    dedup because the numbers differ.  Feed the offenders into a
    removal filter or a downweighting rule.

    Output: ``(template, n_docs, example)`` for templates with
    ``>= min_docs`` members, heaviest first (ties by template),
    ``limit top``.

    Shape at scale: the groupBy key is md5(template) (a fixed 32-char
    shuffle key regardless of document size) with the template and one
    example carried as min-aggregates (partial-agg friendly); the final
    top-k is TakeOrderedAndProject — no global sort materializes.
    All codegen, no Python.
    """
    t = F.col(text_col)
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(t), "[0-9]+", "#"), r"\s+", " "))
    fp = (df.filter(t.isNotNull())
          .select(norm.alias("_tpl"), t.alias("_txt"))
          .groupBy(F.md5(F.col("_tpl")).alias("_fp"))
          .agg(F.min("_tpl").alias("template"),
               F.count(F.lit(1)).alias("n_docs"),
               F.min("_txt").alias("example")))
    return (fp.filter(F.col("n_docs") >= min_docs)
            .select("template", "n_docs", "example")
            .orderBy(F.desc("n_docs"), "template").limit(top))
