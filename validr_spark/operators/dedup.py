"""Deduplication for training-data pipelines.

* exact          — hash-groupBy on a content fingerprint
* minhash + LSH  — shingle → minhash signature → band buckets → bucket join
* simhash        — 64-bit weighted-bit fingerprint, hamming-radius buckets
* n-gram Jaccard — verified similarity on candidate pairs
* embedding near-dup — cosine over candidate pairs (see similarity.py)

Scale design: the only all-pairs step is the *within-bucket* self-join
produced by LSH banding; bucket sizes are bounded by band width, so the
candidate-pair blow-up is controlled by (num_hashes, bands) rather than the
corpus size.  Everything before the bucket join is a narrow projection.
Signatures are pure Catalyst exprs (xxhash64) — no Python in the hot path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._barrier import arrow_map, once


def normalize_text(col):
    """Lowercase, collapse whitespace — the canonical form for dedup."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", sample_ids: int = 16) -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    (fingerprint, n_docs, doc_ids sample — the `sample_ids` smallest ids).

    Aggregation state is BOUNDED: ids outside the per-group top-`sample_ids`
    (by row_number over a fingerprint-partitioned window) are nulled before
    collect_list, so a pathological hot fingerprint (e.g. 10^8 empty docs)
    holds at most `sample_ids` ids in the reducer instead of materializing
    the full duplicate list.  The window and the groupBy hash-partition on
    the same key, so this still shuffles once.
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    ranked = (df.select(fp, F.col(id_col))
              .withColumn("_rn", F.row_number().over(w)))
    return (ranked.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sort_array(F.collect_list(            # nulls are skipped
                     F.when(F.col("_rn") <= sample_ids, F.col(id_col))))
                 .alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", keep_by=None) -> DataFrame:
    """Keep one row per distinct normalized text.  Default survivor =
    min id; pass ``keep_by`` (a Column, e.g. a quality score or
    ``F.length("text")``) to keep the HIGHEST-scoring duplicate instead
    (Dolma/FineWeb-style "keep the best copy", not the first one) — ties
    still break to min id, so the election stays deterministic.
    Shuffles once on the fingerprint either way."""
    fp = F.md5(normalize_text(F.col(text_col)))
    order = ([F.desc_nulls_last(keep_by)] if keep_by is not None else []) \
        + [F.col(id_col)]
    w_cols = list(df.columns)
    ranked = (df.withColumn("_fp", fp)
              .withColumn("_rk", F.row_number().over(
                  Window.partitionBy("_fp").orderBy(*order))))
    return ranked.filter(F.col("_rk") == 1).select(*w_cols)


def dedup_sequences(df: DataFrame, tokens_col: str = "tokens",
                    id_col: str = "doc_id", keep_by=None) -> DataFrame:
    """Exact CONTENT dedup for pre-tokenized sequences (the north-rule
    table shape): keep one row per distinct token array — min ``id_col``
    survives, or the highest ``keep_by`` score with min-id tie-break,
    exactly like :func:`exact_dedup` for text.

    Fingerprint: ``md5`` of the comma-rendered array — 128 bits, so
    corpus-wide collision odds stay negligible at 10^12 sequences
    (a single 64-bit hash has ~percent-level birthday odds there), the
    shuffle carries 16 bytes + survivor-election payload instead of the
    array, and a DuckDB oracle can replay the identity exactly
    (``md5(array_to_string(tokens, ','))``).  The single comma-string
    render is whole-stage codegen (the frame_check trick, PERF.md
    Finding 11).

    Rows with a NULL array or NULL *elements* pass through untouched:
    ``concat_ws`` skips nulls, so [1,NULL,2] would render — and dedup —
    as [1,2]; content with holes is a VALIDATION failure, not a dedup
    identity, and belongs to the violations path.  (Guard:
    ``size(array_compact) == size``, pure codegen.)  One shuffle on the
    fingerprint, window and filter only — no aggregation state.
    """
    t = F.col(tokens_col)
    eligible = (t.isNotNull()
                & (F.size(F.array_compact(t)) == F.size(t)))
    fp = F.md5(F.concat_ws(",", t))
    order = ([F.desc_nulls_last(keep_by)] if keep_by is not None else []) \
        + [F.col(id_col)]
    cols = list(df.columns)
    ranked = (df.filter(eligible)
              .withColumn("_fp", fp)
              .withColumn("_rk", F.row_number().over(
                  Window.partitionBy("_fp").orderBy(*order))))
    kept = ranked.filter(F.col("_rk") == 1).select(*cols)
    passthrough = df.filter(~F.coalesce(eligible, F.lit(False)))
    return kept.unionByName(passthrough)


def word_ngrams(col, n: int = 3):
    """Word n-gram hash set (array<long>, distinct).  Empty for a text of
    fewer than ``n`` words (and for NULL), like
    ``contamination.ngram_hashes``: a short doc has no n-gram, not one
    partial gram."""
    words = F.split(normalize_text(col), " ")
    cnt = F.size(words)
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), cnt - n),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, n)))))
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<bigint>"))


def _shingle_rows(df: DataFrame, text_col: str, id_col: str,
                  k: int) -> DataFrame:
    """(doc, _g): one row per character ``k``-shingle of the normalized
    text — the front both minhash families share.

    Built WITHOUT a lambda HOF (Catalyst lambdas evaluate interpreted,
    PERF.md Finding 1): explode the index range, then ``substr`` on the
    exploded rows, so generate → project → partial-agg stays one codegen
    stage and the rows never materialize.  Shingles are not deduplicated;
    min() is duplicate-invariant.

    Rows whose text is NULL (or normalizes to the empty string) are
    filtered out before the explode, so they are absent from the output.
    Without the filter every such row hashes the same degenerate
    "shingle of nothing" and all m of them become full-band candidate
    pairs — an m²/2 blowup in the LSH self-join at corpus scale.  Empty
    docs are exact duplicates; ``exact_duplicates`` is the right tool
    for them, not near-dup candidates.
    """
    # barrier: one normalization regexp per row, not per shingle
    s_once = once(normalize_text(F.col(text_col)))
    pre = (df.select(F.col(id_col).alias("doc"), s_once.alias("_s"))
           .filter(F.col("_s").isNotNull() & (F.char_length("_s") > 0)))
    n = F.char_length(F.col("_s"))
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    exploded = pre.select("doc", "_s", F.explode(idx).alias("_i"))
    return exploded.select(
        "doc", F.col("_s").substr(F.col("_i"), F.lit(k)).alias("_g"))


def _min_signature(rows: DataFrame, hashes: list) -> DataFrame:
    """(doc, sig:array<long>): one ``groupBy(doc)`` with a ``min`` of each
    per-row hash expression in ``hashes`` — the tail every minhash family
    shares.  Map-side partial aggregation means only ``len(hashes)``
    longs per doc reach the shuffle."""
    aggs = [F.min(h).alias(f"_h{i}") for i, h in enumerate(hashes)]
    return (rows.groupBy("doc").agg(*aggs)
            .select("doc", F.array(*[F.col(f"_h{i}")
                                     for i in range(len(hashes))])
                    .alias("sig")))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_k: int = 5, seed: int = 42) -> DataFrame:
    """(doc, sig:array<long>) minhash signatures, whole-stage codegen.

    ``posexplode``-free shape: explode the shingle set
    (:func:`_shingle_rows`), then one ``groupBy(doc)`` with
    ``num_hashes`` ``min(xxhash64(shingle, seed_i))`` aggregates — every
    expression (shingle hash + the mins) runs inside WholeStageCodegen.
    Hash family i is ``xxhash64(xxhash64(shingle), seed*1000003 + i)`` —
    JVM-side, overflow-free (unlike (a·x+b) mod p in 64-bit ANSI
    arithmetic), and deterministic across runs/parallelism.  The
    interpreted ``aggregate``/``zip_with`` fold in
    tests/test_dedup_similarity.py is the reference these signatures
    are checked against byte for byte.
    """
    seeds = [seed * 1000003 + i for i in range(num_hashes)]
    hashed = _shingle_rows(df, text_col, id_col, shingle_k).select(
        "doc", F.xxhash64(F.col("_g")).alias("_sh"))
    return _min_signature(hashed, [F.xxhash64(F.col("_sh"), F.lit(sd))
                                   for sd in seeds])


def minhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       bands: int = 16, shingle_k: int = 5,
                       seed: int = 42,
                       target_threshold: float | None = None) -> DataFrame:
    """LSH candidate pairs (id_a < id_b, n_bands_matched).

    rows/band = num_hashes // bands; two docs collide in a band iff that
    slice of their signatures is identical — P(collide) ≈ jaccard^(rows).

    Pass ``target_threshold`` to auto-tune ``bands`` from the closed-form
    S-curve knee (:func:`lsh_parameters`) instead of hand-picking — the
    default 16 bands (knee ≈ 0.5) over-generates candidates for a 0.9
    dedup threshold and under-recalls at 0.3.
    """
    if target_threshold is not None:
        bands = lsh_parameters(target_threshold, num_hashes)["bands"]
    # the groupBy inside minhash_signatures is also the optimizer barrier:
    # band expressions below reference the aggregated sig array, never
    # re-inline the shingle computation.
    sigs = minhash_signatures(df, text_col, id_col, num_hashes,
                              shingle_k, seed)
    return band_pairs_from_signatures(sigs, num_hashes, bands)


def band_pairs_from_signatures(sigs: DataFrame, num_hashes: int,
                               bands: int) -> DataFrame:
    """LSH banding + self-join over precomputed ``(doc, sig)`` signatures
    — the one back half of :func:`minhash_candidates`,
    :func:`minhash_candidates_tokens` and
    :func:`minhash_candidates_portable`."""
    rows = num_hashes // bands
    # band structs unrolled as plain expressions (no lambda HOFs: they
    # evaluate interpreted AND their LambdaVariables defeat plan
    # canonicalization, which blocks ReusedExchange on the self-join).
    # bucket = xxhash64 of the comma-joined band slice.
    band_structs = []
    for b in range(bands):
        elems = [F.get(F.col("sig"), b * rows + j).cast("string")
                 for j in range(rows)]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.concat_ws(",", *elems)).alias("bucket")))
    banded = sigs.select(
        "doc", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc", "bb.band", "bb.bucket")
    # self-join via SORT-MERGE, not broadcast: with identical shuffles on
    # both sides, Spark's ReusedExchange computes the signature pipeline
    # ONCE (a broadcast build side would wrap the right branch in a
    # different exchange type and recompute everything).
    banded = banded.hint("merge")
    left = banded.alias("l")
    right = banded.alias("r")
    return (left.join(right,
                      (F.col("l.band") == F.col("r.band"))
                      & (F.col("l.bucket") == F.col("r.bucket"))
                      & (F.col("l.doc") < F.col("r.doc")))
            .groupBy(F.col("l.doc").alias("id_a"),
                     F.col("r.doc").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_bands_matched")))


def minhash_signatures_tokens(df: DataFrame, tokens_col: str = "tokens",
                              id_col: str = "doc_id",
                              num_hashes: int = 64, n: int = 3,
                              seed: int = 42) -> DataFrame:
    """Minhash signatures over token ``n``-grams — near-dup identity for
    the PRE-TOKENIZED sequence shape (no text, no detokenization): the
    gram set comes from ``contamination.token_ngram_hashes`` (codegen
    slice/zip + xxhash64 of the n-int struct) and the signature is the
    same groupBy-min tail as :func:`minhash_signatures`, so
    the Jaccard being estimated is over the sequence's distinct token
    n-gram set.  Sequences with fewer than ``n`` tokens are absent
    (no grams — and their absence keeps the degenerate empty-identity
    out of the LSH buckets, same rationale as the text path's
    empty-string filter)."""
    from .contamination import token_ngram_hashes

    seeds = [seed * 1000003 + i for i in range(num_hashes)]
    hashed = token_ngram_hashes(df, tokens_col, id_col, n) \
        .select(F.col(id_col).alias("doc"), F.col("gram").alias("_sh"))
    return _min_signature(hashed, [F.xxhash64(F.col("_sh"), F.lit(sd))
                                   for sd in seeds])


def minhash_candidates_tokens(df: DataFrame, tokens_col: str = "tokens",
                              id_col: str = "doc_id",
                              num_hashes: int = 64, bands: int = 16,
                              n: int = 3, seed: int = 42,
                              target_threshold: float | None = None
                              ) -> DataFrame:
    """LSH candidate pairs over token-n-gram minhash — the token-array
    twin of :func:`minhash_candidates` (same banding, same S-curve
    tuning via ``target_threshold``, same ReusedExchange self-join)."""
    if target_threshold is not None:
        bands = lsh_parameters(target_threshold, num_hashes)["bands"]
    sigs = minhash_signatures_tokens(df, tokens_col, id_col,
                                     num_hashes, n, seed)
    return band_pairs_from_signatures(sigs, num_hashes, bands)


MERSENNE31 = 2147483647        # 2^31 - 1, the portable hash-family modulus


def portable_hash_params(num_hashes: int, seed: int = 42) -> list:
    """Deterministic (a_i, b_i) affine coefficients for the PORTABLE
    minhash family, generated driver-side with a 64-bit LCG so both
    engines of a differential test receive the same literal constants
    (no cross-engine RNG parity needed).  a_i < 2^20 keeps
    a_i * (m % 2^31) inside 2^51 — exact in any engine's int64/ANSI
    arithmetic."""
    state = (seed & 0xFFFFFFFFFFFFFFFF) or 1
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        a = (state >> 33) % 1048573 + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        b = (state >> 16) % MERSENNE31
        out.append((a, b))
    return out


def minhash_signatures_portable(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                num_hashes: int = 32, shingle_k: int = 5,
                                seed: int = 42) -> DataFrame:
    """Cross-engine-reproducible minhash signatures.

    Same shingle front and groupBy-min tail as :func:`minhash_signatures`,
    but the hash family is engine-neutral instead of Spark's xxhash64:
    shingle -> ``md5`` hex -> first 12 hex digits as an integer ``m``
    (48 bits) -> ``h_i = (a_i * (m % p) + b_i) % p`` with ``p = 2^31-1``
    and literal ``(a_i, b_i)`` from :func:`portable_hash_params`.  Every
    step is integer arithmetic over the md5 of UTF-8 bytes, so ANY engine
    with md5 + int64 arithmetic (DuckDB, Trino, Python) reproduces the exact
    signature — this is what lets the LSH candidate-pair OUTPUT be
    differentially verified against an independent SQL engine, not just
    row-counted (the xxhash64 family has no DuckDB twin).

    Use the xxhash64 :func:`minhash_signatures` in production hot paths
    (one hash vs md5 + division chain: ~1.6x fewer CPU-s, ROADMAP item
    3(c)); use this for oracles, audits, and engine-migration checks.
    """
    params = portable_hash_params(num_hashes, seed)
    m = (F.conv(F.substring(F.md5(F.col("_g")), 1, 12), 16, 10)
         .cast("long") % F.lit(MERSENNE31))
    hashed = _shingle_rows(df, text_col, id_col, shingle_k).select(
        "doc", m.alias("_m"))
    return _min_signature(
        hashed, [(F.lit(a) * F.col("_m") + F.lit(b)) % F.lit(MERSENNE31)
                 for a, b in params])


def minhash_candidates_portable(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                num_hashes: int = 32, bands: int = 8,
                                shingle_k: int = 5,
                                seed: int = 42) -> DataFrame:
    """LSH candidate pairs over the PORTABLE signature family
    (:func:`minhash_signatures_portable`): (id_a < id_b,
    n_bands_matched), banded by :func:`band_pairs_from_signatures` like
    every minhash family here, so the band bucket is the xxhash64 of the
    comma-joined slice values.  An independent engine reproduces the
    signatures and buckets on the comma-joined string itself; the pair
    sets are equal unless two different band slices collide in 64 bits.
    """
    sigs = minhash_signatures_portable(df, text_col, id_col, num_hashes,
                                       shingle_k, seed)
    return band_pairs_from_signatures(sigs, num_hashes, bands)


def _pair_grams(df: DataFrame, candidates: DataFrame, text_col: str,
                id_col: str, ngram: int) -> DataFrame:
    """``candidates`` with both sides' word-n-gram sets (set verifiers)."""
    grams = df.select(F.col(id_col).alias("doc"),
                      word_ngrams(F.col(text_col), ngram).alias("grams"))
    return (candidates
            .join(grams.withColumnRenamed("doc", "id_a")
                  .withColumnRenamed("grams", "grams_a"), "id_a")
            .join(grams.withColumnRenamed("doc", "id_b")
                  .withColumnRenamed("grams", "grams_b"), "id_b"))


def jaccard_verify(df: DataFrame, candidates: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   ngram: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact word-ngram Jaccard on candidate pairs (joins the corpus twice,
    but only candidate rows flow into the similarity compute).  A pair
    whose gram sets are both empty (two docs shorter than ``ngram``
    words) has no Jaccard and is dropped."""
    out = _pair_grams(df, candidates, text_col, id_col, ngram)
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (out.select("id_a", "id_b",
                       F.when(union > 0, inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 3,
                        threshold: float = 0.8, **lsh_kwargs) -> DataFrame:
    """End-to-end near-dup detection: LSH candidates
    (:func:`minhash_candidates`) → exact verification."""
    cand = minhash_candidates(df, text_col, id_col, **lsh_kwargs)
    return jaccard_verify(df, cand.select("id_a", "id_b"),
                          text_col, id_col, ngram, threshold)


def edit_distance_verify(df: DataFrame, candidates: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         threshold: float = 0.8,
                         max_len: int = 2000) -> DataFrame:
    """Exact normalized edit-distance similarity on candidate pairs:
    ``sim = 1 - levenshtein(a, b) / max(len(a), len(b))`` over
    whitespace/case-normalized text.

    The order-sensitive companion of :func:`jaccard_verify` — set-Jaccard
    is blind to word order and local edits ("a b c" vs "c b a" scores 1.0),
    while edit similarity catches them, so near-dup policies that must keep
    reorderings distinct verify with this instead.

    Scale shape: a VERIFY step only — levenshtein is O(len_a·len_b) per
    pair, so it runs on a bounded candidate set (LSH buckets), never
    all-pairs.  ``max_len`` truncates both sides so one pathological pair
    (two 1 MB blobs) cannot pin a task for minutes; truncated comparisons
    are flagged in the ``truncated`` column.  Everything is a single
    whole-stage-codegen projection after the two corpus joins (Spark's
    built-in ``levenshtein`` — no Python).
    """
    norm = F.substring(normalize_text(F.col(text_col)), 1, max_len)
    full_len = F.char_length(normalize_text(F.col(text_col)))
    texts = df.select(F.col(id_col).alias("doc"), norm.alias("t"),
                      (full_len > max_len).alias("trunc"))
    out = (candidates
           .join(texts.select(F.col("doc").alias("id_a"),
                              F.col("t").alias("t_a"),
                              F.col("trunc").alias("tr_a")), "id_a")
           .join(texts.select(F.col("doc").alias("id_b"),
                              F.col("t").alias("t_b"),
                              F.col("trunc").alias("tr_b")), "id_b"))
    longest = F.greatest(F.char_length("t_a"), F.char_length("t_b"))
    sim = F.when(longest == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein("t_a", "t_b") / longest)
    return (out.select("id_a", "id_b", sim.alias("edit_sim"),
                       (F.col("tr_a") | F.col("tr_b")).alias("truncated"))
            .filter(F.col("edit_sim") >= threshold))


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", nbits: int = 64) -> DataFrame:
    """64-bit SimHash per document, vectorized with numpy over Arrow batches
    (bit-matrix accumulation has no reasonable Catalyst encoding).  NULL
    or blank text hashes to 0."""
    def _simhash(texts: pd.Series) -> np.ndarray:
        out = np.zeros(len(texts), dtype=np.int64)
        for row, t in enumerate(texts):
            words = t.lower().split()
            if not words:
                continue
            # stable across processes (python's str hash is salted)
            hs = np.fromiter(
                (int.from_bytes(hashlib.blake2b(
                    w.encode(), digest_size=8).digest(), "little")
                 for w in words),
                dtype=np.uint64, count=len(words))
            bits = ((hs[:, None] >> np.arange(nbits, dtype=np.uint64)) & 1)
            weights = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sh = np.uint64(0)
            for b in np.nonzero(weights > 0)[0]:
                sh |= np.uint64(1) << np.uint64(b)
            out[row] = np.int64(sh)
        return out

    fp = arrow_map(_simhash, "long", F.col(text_col))
    return df.select(F.col(id_col),
                     F.coalesce(fp, F.lit(0)).alias("simhash"))


def _simhash_pairs(df: DataFrame, text_col: str, id_col: str, fingerprint,
                   nbits: int, max_hamming: int, blocks: int) -> DataFrame:
    """(id_a < id_b, hamming) pairs within ``max_hamming`` — the block
    self-join both SimHash fingerprints share.  ``fingerprint`` is
    :func:`simhash` or :func:`simhash_portable`: it maps the non-empty
    rows of ``df`` to ``(id, simhash)`` with ``nbits``-bit fingerprints.

    Block-permuted bucketing (pigeonhole: two hashes within hamming
    distance < blocks share at least one identical ``nbits // blocks``-bit
    block), then exact hamming check via bit_count(xor).

    NULL / whitespace-only documents are filtered out first — same
    convention as :func:`minhash_signatures`.  ``simhash`` assigns them
    all fingerprint 0, so without the filter every pair of them collides
    in every block at hamming 0: an m²/2 single-bucket blowup, and
    downstream component dedup would delete all-but-one empty row as
    "near-dups".  Empty docs are exact duplicates; ``exact_duplicates``
    is the right tool for them.
    """
    nonempty = df.filter(F.col(text_col).isNotNull()
                         & (F.trim(F.col(text_col)) != ""))
    sh = fingerprint(nonempty, text_col, id_col)
    # once: InferFiltersFromConstraints would otherwise copy the join's
    # isnotnull(simhash) below the pandas-UDF projection, which then
    # runs twice per side (PERF.md Finding 19)
    sh = sh.select(F.col(sh.columns[0]).alias("doc"),
                   once(F.col("simhash")).alias("simhash"))
    width = nbits // blocks
    mask = (1 << width) - 1
    block_structs = [
        F.struct(F.lit(b).alias("block"),
                 F.shiftrightunsigned(F.col("simhash"), b * width)
                 .bitwiseAND(F.lit(mask)).alias("key"))
        for b in range(blocks)
    ]
    blocked = sh.select(
        "doc", "simhash",
        F.explode(F.array(*block_structs)).alias("bb"),
    ).select("doc", "simhash", "bb.block", "bb.key")
    # sort-merge self-join → identical shuffles on both sides hit
    # ReusedExchange, so the fingerprint pipeline runs ONCE (a broadcast
    # build side would recompute it per side; same fix as minhash).
    blocked = blocked.hint("merge")
    l, r = blocked.alias("l"), blocked.alias("r")
    pairs = (l.join(r, (F.col("l.block") == F.col("r.block"))
                    & (F.col("l.key") == F.col("r.key"))
                    & (F.col("l.doc") < F.col("r.doc")))
             .select(F.col("l.doc").alias("id_a"),
                     F.col("r.doc").alias("id_b"),
                     F.bit_count(F.col("l.simhash").bitwiseXOR(
                         F.col("r.simhash"))).alias("hamming"))
             .distinct())
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      blocks: int = 4) -> DataFrame:
    """Near-dup pairs over the 64-bit :func:`simhash`, by the block
    self-join of :func:`_simhash_pairs` (16-bit blocks at the default
    4).  NULL / whitespace-only documents are absent."""
    return _simhash_pairs(df, text_col, id_col, simhash, 64, max_hamming,
                          blocks)


def simhash_portable(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """48-bit cross-engine-reproducible SimHash — pure whole-stage
    codegen, no Python anywhere (the production :func:`simhash` needs a
    pandas UDF for its 64-bit blake2b bit-matrix; this variant trades
    16 bits of resolution for JVM-only execution AND an exact DuckDB/
    Trino/Python twin).

    Per word ``w`` of the normalized text: ``m = int(md5(w)[:12 hex])``
    (48 bits); bit ``b`` of the fingerprint is 1 iff
    ``sum over words of (+1 if (m>>b)&1 else -1) > 0``.  Everything is
    integer arithmetic over md5, so any engine reproduces the exact
    fingerprint.  48 bits keeps the fingerprint positive in int64 —
    no sign-bit portability traps.

    Plan shape: explode words -> 48 conditional-sum aggregates with
    map-side partials (only 48 longs per doc reach the shuffle) -> one
    projection folding the sign votes into the fingerprint.
    """
    s = normalize_text(F.col(text_col))
    pre = (df.select(F.col(id_col).alias("doc"), s.alias("_s"))
           .filter(F.col("_s").isNotNull() & (F.char_length("_s") > 0)))
    words = pre.select(
        "doc", F.explode(F.split(F.col("_s"), " ")).alias("_w"))
    words = words.filter(F.col("_w") != "")
    m = F.conv(F.substring(F.md5(F.col("_w")), 1, 12), 16, 10).cast("long")
    hashed = words.select("doc", m.alias("_m"))
    bit = [F.shiftrightunsigned(F.col("_m"), b).bitwiseAND(F.lit(1))
           for b in range(48)]
    aggs = [F.sum(F.when(bit[b] == 1, 1).otherwise(-1)).alias(f"_w{b}")
            for b in range(48)]
    fp = None
    for b in range(48):
        term = F.when(F.col(f"_w{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return (hashed.groupBy("doc").agg(*aggs)
            .select("doc", fp.cast("long").alias("simhash")))


def simhash_near_dups_portable(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id",
                               max_hamming: int = 8,
                               blocks: int = 4) -> DataFrame:
    """Near-dup pairs over the PORTABLE 48-bit SimHash
    (:func:`simhash_portable`), by the same block self-join as
    :func:`simhash_near_dups` (:func:`_simhash_pairs`, 12-bit blocks at
    the default 4).  Because fingerprint, blocking, and hamming check
    are all engine-neutral integer arithmetic, an independent SQL engine
    reproduces the exact (id_a, id_b, hamming) output — see
    __spark_entry__.py simhash_oracle."""
    return _simhash_pairs(df, text_col, id_col, simhash_portable, 48,
                          max_hamming, blocks)


def containment_verify(df: DataFrame, candidates: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       ngram: int = 3, threshold: float = 0.8) -> DataFrame:
    """Asymmetric containment on candidate pairs:
    ``containment_a = |A∩B| / |A|`` and ``containment_b = |A∩B| / |B|``
    over distinct word-n-gram sets (Broder's containment, the quote /
    subset detector).

    Jaccard misses engulfment: a tweet quoted inside a long article has
    near-zero Jaccard but containment_a ≈ 1.  Near-dup policies that must
    drop "document fully contained in another" filter on
    ``max(containment_a, containment_b)`` — the ``max_containment``
    column this emits.

    Same scale shape as :func:`jaccard_verify`: candidates-only compute,
    two distinct-gram corpus joins, all codegen set ops.
    """
    out = _pair_grams(df, candidates, text_col, id_col, ngram)
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    ca = F.when(F.size("grams_a") > 0, inter / F.size("grams_a"))
    cb = F.when(F.size("grams_b") > 0, inter / F.size("grams_b"))
    return (out.select("id_a", "id_b",
                       ca.alias("containment_a"), cb.alias("containment_b"),
                       F.greatest(ca, cb).alias("max_containment"))
            .filter(F.col("max_containment") >= threshold))


def lsh_parameters(threshold: float, num_hashes: int = 64) -> dict:
    """Closed-form LSH banding advisor (driver-side, no Spark): among the
    divisors of ``num_hashes``, pick the (bands, rows) whose S-curve
    ``P(candidate) = 1 − (1 − s^rows)^bands`` puts its steepest point
    closest to the target Jaccard ``threshold`` (the classic
    ``(1/b)^(1/r)`` approximation, Leskovec et al. MMDS ch.3).

    Returns bands/rows plus the false-negative rate at the threshold and
    the false-positive (candidate) rate at 0.5·threshold — the two
    numbers that decide whether a 10^12-doc run's candidate volume and
    recall are acceptable BEFORE it is launched.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        knee = (1.0 / bands) ** (1.0 / rows)
        score = abs(knee - threshold)
        if best is None or score < best[0]:
            best = (score, bands, rows, knee)
    _, bands, rows, knee = best

    def p_cand(s: float) -> float:
        return 1.0 - (1.0 - s ** rows) ** bands

    return {
        "bands": bands, "rows": rows, "knee": knee,
        "p_candidate_at_threshold": p_cand(threshold),
        "false_negative_at_threshold": 1.0 - p_cand(threshold),
        "p_candidate_at_half_threshold": p_cand(threshold / 2),
    }


def source_overlap(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Cross-source duplication matrix: for every ordered source pair
    (a, b), how many of a's DISTINCT content fingerprints also appear in
    b (``n_shared``), as a fraction of a's distinct contents
    (``frac_of_a``) — the provenance-overlap question ("how much of this
    new crawl is already inside CommonCrawl?") answered corpus-wide.

    Asymmetric on purpose: a 1k-doc source fully contained in a 1B-doc
    source shows frac_of_a = 1.0 one way and ~0 the other.

    Scale shape: one scan → distinct (fingerprint, source) projection
    (hash-agg, shuffle ≤ distinct pairs) → self-join ON FINGERPRINT
    (co-partitioned by the same key, so the join reuses the aggregation
    exchange) → pair-sized count matrix joined to per-source distinct
    totals.  Only rows whose fingerprint occurs in BOTH sources ever
    reach the pair count — disjoint content never joins.
    """
    fp = (df.filter(F.col(text_col).isNotNull())
          .select(F.md5(normalize_text(F.col(text_col))).alias("fp"),
                  F.col(source_col).alias("src"))
          .distinct())
    totals = fp.groupBy("src").agg(F.count(F.lit(1)).alias("n_distinct"))
    pairs = (fp.alias("a")
             .join(fp.alias("b"),
                   (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.src") != F.col("b.src")))
             .groupBy(F.col("a.src").alias("source_a"),
                      F.col("b.src").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("n_shared")))
    return (pairs.join(totals.select(F.col("src").alias("source_a"),
                                     "n_distinct"), "source_a")
            .select("source_a", "source_b", "n_shared",
                    F.round(F.col("n_shared") / F.col("n_distinct"), 6)
                    .alias("frac_of_a"))
            .orderBy("source_a", "source_b"))
