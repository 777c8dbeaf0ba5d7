"""Dedup + similarity operators: codegen/HOF equivalence, bounded state,
approximate-path error bounds vs their exact twins (VERDICT r01 items
2, 4, 5, 7), and byte-bounded repartitioning (item 6)."""

import pytest
from pyspark.sql import functions as F

from validr_spark.operators import dedup, drift, multimodal, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# --- minhash: codegen signatures ≡ HOF reference ---------------------------

def shingles(col, k: int = 5):
    """Character k-shingle hash set of a normalized text column
    (array<long>, distinct), built with a ``transform`` lambda."""
    s = dedup.normalize_text(col)
    n = F.char_length(s)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(s.substr(i, F.lit(k)))))


def minhash_signature(shingle_col, num_hashes: int = 64, seed: int = 42):
    """Per-row minhash via array HOFs (``aggregate`` + ``zip_with``): the
    independent reference for ``dedup.minhash_signatures``.  Catalyst
    lambda HOFs are CodegenFallback (interpreted, ~20 µs/element —
    PERF.md Finding 1), 10-30× slower than the codegen path.

    Hash family i is ``xxhash64(shingle, seed*1000003 + i)``.  One fold
    over the shingle set evaluates the shingle expression ONCE per row (a
    per-hash array_min(transform(...)) would re-inline it num_hashes
    times)."""
    seeds = [seed * 1000003 + i for i in range(num_hashes)]
    init = F.array(*[F.lit((1 << 63) - 1) for _ in seeds])

    def step(acc, x):
        hashes = F.array(*[F.xxhash64(x, F.lit(s)) for s in seeds])
        return F.zip_with(acc, hashes, lambda a, h: F.least(a, h))

    return F.aggregate(shingle_col, init, step)


def test_minhash_codegen_equals_hof(spark, docs):
    """The explode+groupBy-min signature path must be byte-identical to the
    interpreted aggregate/zip_with reference implementation."""
    num_hashes, k, seed = 32, 5, 42
    hof = docs.select(
        F.col("doc_id").alias("doc"),
        minhash_signature(shingles(F.col("text"), k), num_hashes,
                          seed).alias("sig"))
    fast = dedup.minhash_signatures(docs, "text", "doc_id", num_hashes,
                                    k, seed)
    h = {r["doc"]: r["sig"] for r in hof.collect()}
    f = {r["doc"]: r["sig"] for r in fast.collect()}
    # HOF path emits a (null-sig) row for null text; the fast path
    # filters null/empty-normalized rows out entirely (see
    # test_minhash_null_and_empty_text_excluded) — compare non-null only.
    h = {d: s for d, s in h.items() if s is not None}
    assert len(f) == len(h) > 0
    assert f == h


def test_minhash_null_and_empty_text_excluded(spark):
    """NULL / empty-normalized texts must be absent from signatures and
    candidates: each would otherwise hash the same degenerate 'shingle
    of nothing' and m such rows become m(m-1)/2 full-band candidate
    pairs — a quadratic self-join blowup on junk rows."""
    rows = [("n1", None), ("n2", None), ("e1", "   "), ("e2", ""),
            ("a", "the quick brown fox jumps over the lazy dog " * 4),
            ("b", "the quick brown fox jumps over the lazy dog " * 4)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    sigs = dedup.minhash_signatures(df, num_hashes=32)
    assert {r["doc"] for r in sigs.collect()} == {"a", "b"}
    pairs = dedup.minhash_candidates(df, num_hashes=32, bands=8).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("a", "b")}


def test_minhash_candidates_find_exact_dups(spark):
    rows = [("a", "the quick brown fox jumps over the lazy dog " * 4),
            ("b", "the quick brown fox jumps over the lazy dog " * 4),
            ("c", "completely different text about distributed systems " * 4)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dedup.minhash_candidates(df, num_hashes=32, bands=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert ("a", "b") in got
    assert all(p == ("a", "b") for p in got)


def test_jaccard_verify_drops_docs_shorter_than_ngram(spark):
    """A doc with fewer than n words has no word n-gram, as in
    contamination.ngram_hashes and the ngram_jaccard DuckDB twin.  So a
    candidate pair of two identical 2-word docs has no Jaccard and is
    absent: not 1.0 from one partial gram each, and not a 0/0 division
    (which raises under ANSI)."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "Hello  world"), (3, "a b c d"),
         (4, "a b c d"), (5, None)], "doc_id int, text string")
    grams = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", dedup.word_ngrams(F.col("text"), 3).alias("g")).collect()}
    assert grams[1] == grams[2] == grams[5] == []
    assert len(grams[3]) == 2
    cand = spark.createDataFrame([(1, 2), (3, 4), (1, 3)],
                                 "id_a int, id_b int")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.jaccard_verify(df, cand, ngram=3, threshold=0.0).collect()}
    assert got == {(3, 4): 1.0, (1, 3): 0.0}


def test_lsh_candidate_recall_vs_exact_jaccard(spark, docs):
    """Bounded-error check: LSH banding must recover ≥80% of the pairs the
    exact all-pairs n-gram Jaccard finds above 0.8 on the prefix corpus."""
    d = docs.withColumn("text", F.substring("text", 1, 120)) \
            .withColumn("doc_id", F.col("doc_id").cast("string"))
    grams = d.select(F.col("doc_id").alias("doc"),
                     dedup.word_ngrams(F.col("text"), 3).alias("g"))
    l, r = grams.alias("l"), grams.alias("r")
    inter = F.size(F.array_intersect("l.g", "r.g"))
    union = F.size(F.array_union("l.g", "r.g"))
    exact = {(x["id_a"], x["id_b"]) for x in
             (l.join(r, F.col("l.doc") < F.col("r.doc"))
              .select(F.col("l.doc").alias("id_a"),
                      F.col("r.doc").alias("id_b"),
                      (inter / union).alias("j"))
              .filter(F.col("j") >= 0.8).collect())}
    assert len(exact) > 0
    cand = {(x["id_a"], x["id_b"]) for x in
            dedup.minhash_candidates(d, num_hashes=64, bands=16).collect()}
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} pairs"


# --- exact_duplicates: bounded reducer state -------------------------------

def test_exact_duplicates_bounded_hot_fingerprint(spark):
    """A 10^5-dupe fingerprint (the empty-doc pathology) must aggregate a
    bounded id sample, not the full duplicate list."""
    hot = spark.range(100_000).select(
        F.format_string("h-%06d", F.col("id")).alias("doc_id"),
        F.lit("").alias("text"))
    cold = spark.createDataFrame(
        [("c-1", "unique text one"), ("c-2", "unique text two")],
        "doc_id string, text string")
    out = dedup.exact_duplicates(hot.union(cold)).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_docs"] == 100_000
    assert len(row["doc_ids"]) == 16
    assert row["doc_ids"] == [f"h-{i:06d}" for i in range(16)]


# --- drift: approx vs exact twin -------------------------------------------

def test_ks_approx_bounded_error_vs_exact(spark):
    import random

    rng = random.Random(7)
    a = spark.createDataFrame([(rng.gauss(0, 1),) for _ in range(4000)],
                              "x double")
    b = spark.createDataFrame([(rng.gauss(0.3, 1.1),) for _ in range(4000)],
                              "x double")
    exact = drift.ks_exact(a, b, "x").first()["ks"]
    approx = drift.ks_approx(a, b, "x", grid_size=128).first()["ks"]
    assert exact > 0.05                      # the shift is detectable
    # grid ECDF ≤ true ECDF sup-difference; error bounded by grid resolution
    assert approx <= exact + 1e-9
    assert abs(exact - approx) <= 2.0 / 128 + 0.02


def test_ks_exact_row_guard(spark):
    a = spark.range(60).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match="ks_approx"):
        drift.ks_exact(a, a, "x", max_rows=100)
    assert drift.ks_exact(a, a, "x", max_rows=None).first()["ks"] == 0.0


# --- similarity: approximate top-k vs exact twin ---------------------------

def _query_vec(embs):
    return [float(x) for x in
            embs.orderBy("vec_id").first()["embedding"]]


def test_lsh_topk_recall(spark, embs):
    q = _query_vec(embs)
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(embs, q, k=10).collect()]
    approx = [r["vec_id"] for r in
              similarity.lsh_topk(embs, q, k=10, nbits=6,
                                  multiprobe=1, n_tables=8).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, f"lsh recall {recall}"


def test_ivf_topk_recall(spark, embs):
    q = _query_vec(embs)
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(embs, q, k=10).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(embs, q, k=10, n_centroids=32,
                                  nprobe=16).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, f"ivf recall {recall}"


def test_ivf_assignment_deterministic(spark, embs):
    cents = similarity.ivf_centroids(embs, n_centroids=8)
    a = embs.select("vec_id", similarity.ivf_assign_col(
        F.col("embedding"), cents).alias("c")).collect()
    b = embs.select("vec_id", similarity.ivf_assign_col(
        F.col("embedding"), cents).alias("c")).collect()
    assert {r["vec_id"]: r["c"] for r in a} == {r["vec_id"]: r["c"] for r in b}
    assert len({r["c"] for r in a}) > 1      # cells actually partition


def test_null_embedding_is_never_a_candidate(spark):
    """A NULL embedding gets a NULL bucket flag and a NULL cell, so no
    search returns it (and no batch holding it fails)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    q = [1.0, 0.0]
    # every bucket of a 2-bit signature is probed: all non-NULL rows
    lsh = similarity.lsh_topk(df, q, k=3, nbits=2, multiprobe=2)
    assert sorted(r["vec_id"] for r in lsh.collect()) == [1, 3]
    cells = df.select("vec_id", similarity.ivf_assign_col(
        F.col("embedding"), [[1.0, 0.0], [0.0, 1.0]]).alias("c"))
    assert {r["vec_id"]: r["c"] for r in cells.collect()} == \
        {1: 0, 2: None, 3: 1}
    ivf = similarity.ivf_topk(df, q, k=3, n_centroids=2, nprobe=2)
    assert sorted(r["vec_id"] for r in ivf.collect()) == [1, 3]


# --- multimodal: byte-bounded repartition ----------------------------------

def test_repartition_by_size_bounds_outlier(spark):
    """One 100× outlier payload: per-partition byte totals must stay within
    2× of each other (excluding the unavoidable outlier-holding partition
    exceeding target by at most that single row)."""
    small = spark.range(400).select(
        F.format_string("s-%04d", F.col("id")).alias("media_id"),
        F.sha2(F.col("id").cast("string"), 512).cast("binary")
        .alias("content"))           # 64 B each
    big = spark.createDataFrame([("big-1",)], "media_id string").select(
        "media_id",
        F.repeat(F.lit("x"), 6400).cast("binary").alias("content"))  # 100×
    df = small.union(big)
    out = multimodal.repartition_by_size(df, target_bytes=4096)

    sizes = (out.withColumn("_p", F.spark_partition_id())
             .groupBy("_p").agg(F.sum(F.octet_length("content")).alias("b"))
             .collect())
    per_part = sorted(r["b"] for r in sizes)
    # outlier row alone exceeds target — its partition is allowed to;
    # all OTHER partitions stay within 2× of the target fill
    rest = [b for b in per_part if b < 6400]
    assert len(rest) >= 2
    assert max(rest) <= 2 * 4096
    # nothing lost
    assert out.count() == 401


def test_sample_frames_counts_and_determinism(spark):
    df = multimodal.make_fake_media(spark, n_rows=40)
    frames = multimodal.sample_frames(df, every_ms=1000, max_frames=5)
    rows = frames.collect()
    meta = {r["media_id"]: (r["kind"], r["meta"]["duration_ms"])
            for r in df.collect()}
    from collections import Counter
    per = Counter(r["media_id"] for r in rows)
    for mid, (kind, dur) in meta.items():
        want = (min(dur // 1000 + 1, 5)
                if kind == "video" and dur and dur > 0 else 0)
        assert per.get(mid, 0) == want, mid
    # deterministic bytes + timestamps per (media_id, frame_idx)
    again = {(r["media_id"], r["frame_idx"]): (r["ts_ms"], bytes(r["frame"]))
             for r in multimodal.sample_frames(
                 df, every_ms=1000, max_frames=5).collect()}
    for r in rows:
        ts, fb = again[(r["media_id"], r["frame_idx"])]
        assert ts == r["ts_ms"] == r["frame_idx"] * 1000
        assert fb == bytes(r["frame"]) and len(fb) == 32
    with pytest.raises(ValueError):
        multimodal.sample_frames(df, every_ms=0)


def test_exact_dedup_keep_by_quality(spark):
    df = spark.createDataFrame(
        [(1, "same text", 10), (2, "same  TEXT ", 99), (3, "other", 1)],
        "doc_id long, text string, quality int")
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df).collect())
    assert kept == [1, 3]
    kept_q = sorted(r["doc_id"] for r in dedup.exact_dedup(
        df, keep_by=F.col("quality")).collect())
    assert kept_q == [2, 3]


# --- knn_join ----------------------------------------------------------------

def test_knn_join_matches_per_query_cosine_topk(spark):
    import random

    from validr_spark.operators.similarity import cosine_topk, knn_join

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)],
        "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 3)
    corpus = emb.filter(F.col("vec_id") >= 3)
    got = {}
    for r in knn_join(corpus, queries, k=5).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["cosine"], 9)))
    for q in queries.collect():
        expect = [(i + 1, r["vec_id"], round(r["cosine"], 9))
                  for i, r in enumerate(
                      cosine_topk(corpus, [float(x) for x in q["embedding"]],
                                  k=5).collect())]
        assert sorted(got[q["vec_id"]]) == expect, q["vec_id"]


def test_knn_join_skips_null_and_wrong_dim(spark):
    from validr_spark.operators.similarity import knn_join

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 0.0]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(9, [1.0, 0.0])],
                                    "vec_id long, embedding array<float>")
    got = knn_join(corpus, queries, k=10).collect()
    assert {r["vec_id"] for r in got} == {1, 4}     # null + 3-dim skipped


def test_knn_join_skips_zero_norm_and_null_element(spark):
    # zero-norm vectors must not abort the job (ANSI DIVIDE_BY_ZERO) and
    # NULL-element vectors must not occupy top-k slots with NULL cosine
    from validr_spark.operators.similarity import knn_join

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [None, 1.0]), (3, [0.0, 0.0]),
         (4, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(9, [1.0, 0.0]), (8, [0.0, 0.0])],
        "vec_id long, embedding array<float>")
    got = knn_join(corpus, queries, k=10).collect()
    assert {r["vec_id"] for r in got} == {1, 4}
    assert {r["query_id"] for r in got} == {9}      # zero-norm query out
    assert all(r["cosine"] is not None for r in got)


def test_knn_join_null_id_rows_do_not_corrupt_big_int64_ids(spark):
    # One NULL-id row in an Arrow batch makes pandas render the whole
    # int id column as float64; an id above 2^53 would then round-trip
    # lossily. The DataFrame-level NULL-id filter keeps batches int64.
    from validr_spark.operators.similarity import knn_join

    big = (1 << 53) + 1                     # not representable in float64
    corpus = spark.createDataFrame(
        [(big, [1.0, 0.0]), (None, [0.9, 0.1]), (7, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(9, [1.0, 0.0])],
                                    "vec_id long, embedding array<float>")
    got = {r["vec_id"] for r in knn_join(corpus, queries, k=10).collect()}
    assert got == {big, 7}


def test_knn_join_query_collect_guard(spark):
    # corpus-as-queries mistakes fail with a clear error, not driver OOM
    from validr_spark.operators.similarity import knn_join

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="max_query_cells"):
        knn_join(emb, emb, k=3, max_query_cells=50)


def test_knn_join_plan_arrow_scoring_no_join_shuffle(spark):
    """The scoring pass is one Arrow mapInPandas over the corpus (BLAS
    matmul per batch, per-partition exact top-k prune — PERF.md Finding
    17: the unrolled-codegen dot fused with the broadcast join and the
    partial-top-k sort blew Janino's 64 KB method limit at dim=64) and
    the only shuffle is the final rank window over the ≤ parts×Q×k
    candidates."""
    import random

    from validr_spark.operators.similarity import knn_join

    rng = random.Random(6)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>")
    plan = (knn_join(emb.filter(F.col("vec_id") >= 3),
                     emb.filter(F.col("vec_id") < 3), k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in plan            # Arrow-batched BLAS scoring
    assert "Window" in plan                 # final exact per-query rank
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 2      # the window shuffle (+AQE read)


def _pairs(*ids):
    return [(a, b) for a in ids for b in ids if a < b]


def test_edit_distance_verify_values(spark):
    # "kitten" -> "sitting" is the classic distance-3 example;
    # normalized by max length 7 -> sim = 1 - 3/7.
    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten")],
        "doc_id long, text string")
    cand = spark.createDataFrame(_pairs(1, 2, 3), "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["edit_sim"]
           for r in dedup.edit_distance_verify(df, cand,
                                               threshold=0.0).collect()}
    assert got[(1, 3)] == 1.0
    assert abs(got[(1, 2)] - (1 - 3 / 7)) < 1e-9
    assert abs(got[(2, 3)] - (1 - 3 / 7)) < 1e-9


def test_edit_distance_order_sensitive_vs_jaccard(spark):
    # Same word SET, different order: Jaccard(unigrams) is blind to it,
    # edit similarity is not.
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha")],
        "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    jac = dedup.jaccard_verify(df, cand, ngram=1, threshold=0.0).collect()
    edt = dedup.edit_distance_verify(df, cand, threshold=0.0).collect()
    assert jac[0]["jaccard"] == 1.0
    assert edt[0]["edit_sim"] < 0.5


def test_edit_distance_empty_and_truncation(spark):
    df = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "x" * 50), (4, "x" * 49 + "y")],
        "doc_id long, text string")
    cand = spark.createDataFrame(_pairs(1, 2, 3, 4), "id_a long, id_b long")
    rows = {(r["id_a"], r["id_b"]): r
            for r in dedup.edit_distance_verify(
                df, cand, threshold=0.0, max_len=10).collect()}
    # both normalize to empty -> defined sim 1.0, no divide-by-zero
    assert rows[(1, 2)]["edit_sim"] == 1.0
    # 50-char docs truncated to 10 identical chars: sim 1.0 but flagged
    assert rows[(3, 4)]["edit_sim"] == 1.0
    assert rows[(3, 4)]["truncated"] is True
    assert rows[(1, 2)]["truncated"] is False


def test_containment_detects_engulfed_doc(spark):
    quote = "the quick brown fox jumps over the lazy dog"
    article = ("long introduction paragraph here . " + quote +
               " . and a very long analysis section follows with many "
               "more words that dilute the jaccard similarity a lot")
    df = spark.createDataFrame(
        [(1, quote), (2, article)], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    jac = dedup.jaccard_verify(df, cand, ngram=3, threshold=0.0).collect()
    con = dedup.containment_verify(df, cand, ngram=3,
                                   threshold=0.0).collect()
    # the quote's grams are all inside the article: containment_a == 1.0
    assert con[0]["containment_a"] == 1.0
    assert con[0]["containment_b"] < 0.5
    assert con[0]["max_containment"] == 1.0
    assert jac[0]["jaccard"] < 0.5          # jaccard misses the engulfment


def test_lsh_parameters_advisor():
    from validr_spark.operators.dedup import lsh_parameters
    r = lsh_parameters(0.8, 64)
    assert r["bands"] * r["rows"] == 64
    assert 0 < r["knee"] < 1
    # S-curve sanity: near-certain candidates well above the knee,
    # near-zero at half the threshold
    assert r["p_candidate_at_half_threshold"] < 0.05
    hi = 1 - (1 - 0.95 ** r["rows"]) ** r["bands"]
    assert 1 - hi < 0.05
    # a lower threshold must pick wider bands (smaller rows)
    r_low = lsh_parameters(0.4, 64)
    assert r_low["rows"] < r["rows"]
    import pytest
    with pytest.raises(ValueError):
        lsh_parameters(0.0)


def _png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00" + b"pad" * 4)


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _bmp(w, h):
    import struct
    return (b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
            + struct.pack("<ii", w, h) + b"\x00" * 8)


def test_image_dimensions_header_parse(spark):
    from validr_spark.operators.multimodal import image_dimensions
    rows = [
        (1, _png(640, 480)), (2, _gif(320, 200)), (3, _bmp(800, 600)),
        (4, _bmp(1024, -768)),              # top-down BMP: negative height
        (5, b"\xff\xd8\xff\xe0JFIF-ish"),   # jpeg magic, dims not parsed
        (6, b"plain text, no magic"),
        (7, b"\x89PNG\r\n\x1a\n"),          # truncated PNG header
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r["id"]: r["d"] for r in df.select(
        "id", image_dimensions(df).alias("d")).collect()}
    assert tuple(got[1]) == ("png", 640, 480)
    assert tuple(got[2]) == ("gif", 320, 200)
    assert tuple(got[3]) == ("bmp", 800, 600)
    assert tuple(got[4]) == ("bmp", 1024, 768)
    assert tuple(got[5]) == ("jpeg", None, None)
    assert tuple(got[6]) == (None, None, None)
    assert tuple(got[7]) == (None, None, None)


def test_image_dimensions_is_codegen_no_python(spark):
    from validr_spark.operators.multimodal import image_dimensions
    df = spark.createDataFrame([(1, _png(2, 3))], "id long, content binary")
    plan = (df.select(image_dimensions(df).alias("d"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_image_audit_report(spark):
    from validr_spark.operators.multimodal import image_audit
    df = spark.createDataFrame(
        [("a", "image", _png(10, 20)), ("b", "image", _png(30, 40)),
         ("c", "image", b"corrupt"), ("d", "audio", b"RIFF....")],
        "media_id string, kind string, content binary")
    rows = {r["format"]: r for r in image_audit(df).collect()}
    assert rows["png"]["n"] == 2
    assert (rows["png"]["min_width"], rows["png"]["max_height"]) == (10, 40)
    assert rows["bad_header"]["n"] == 1
    assert "riff" not in rows          # non-image kinds not audited


def test_fake_media_png_headers_parse_to_meta(spark):
    from validr_spark.operators.multimodal import (image_dimensions,
                                                   make_fake_media)
    media = make_fake_media(spark, 90)
    imgs = media.filter(F.col("kind") == "image")
    chk = imgs.select(image_dimensions(imgs).alias("d"), "meta")
    bad = chk.filter(
        (F.col("d.format") != F.col("meta.format"))
        | (F.col("d.width") != F.col("meta.width"))
        | (F.col("d.height") != F.col("meta.height"))).count()
    assert bad == 0 and imgs.count() == 30


def _wav(rate=44100, ch=2, bits=16, data_len=44100 * 4):
    import struct
    byte_rate = rate * ch * bits // 8
    return (b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate,
                                    byte_rate, ch * bits // 8, bits)
            + b"data" + struct.pack("<I", data_len) + b"\x00" * 16)


def _jpeg(w, h, pad_exif=200):
    import struct
    app1 = b"\xff\xe1" + struct.pack(">H", pad_exif + 2) + b"E" * pad_exif
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x01\x11\x00")
    return b"\xff\xd8" + app1 + sof0 + b"\xff\xda\x00\x02" + b"scan..."


def test_wav_properties_parse(spark):
    from validr_spark.operators.multimodal import wav_properties
    df = spark.createDataFrame(
        [(1, _wav(48000, 1, 16, 96000)), (2, b"RIFFxxxxWAVEjunk"),
         (3, b"not audio at all")],
        "id long, content binary")
    got = {r["id"]: r["p"] for r in df.select(
        "id", wav_properties(df).alias("p")).collect()}
    assert tuple(got[1]) == (48000, 1, 16, 1000)   # 96000B / 96000Bps
    assert tuple(got[2]) == (None, None, None, None)
    assert tuple(got[3]) == (None, None, None, None)


def test_jpeg_dimensions_marker_walk(spark):
    from validr_spark.operators.multimodal import jpeg_dimensions
    df = spark.createDataFrame(
        [(1, _jpeg(1920, 1080)), (2, _jpeg(64, 32, pad_exif=5000)),
         (3, _png(9, 9)), (4, None)],
        "id long, content binary")
    got = {r["id"]: r["jpeg_dims"]
           for r in jpeg_dimensions(df).collect()}
    assert tuple(got[1]) == (1920, 1080)
    assert tuple(got[2]) == (64, 32)               # EXIF blob skipped
    assert tuple(got[3]) == (None, None)           # non-jpeg untouched
    assert tuple(got[4]) == (None, None)


def test_detect_media_kind_router(spark):
    from validr_spark.operators.multimodal import detect_media_kind
    rows = [(1, _png(2, 2)), (2, _jpeg(4, 4)), (3, _wav()),
            (4, b"fLaC....."), (5, b"\x1aE\xdf\xa3matroska"),
            (6, b"\x00\x00\x00 ftypisom...."), (7, b"plain text"),
            (8, b"RIFF1234AVI listdata")]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r["id"]: r["k"] for r in df.select(
        "id", detect_media_kind("content").alias("k")).collect()}
    assert got == {1: "image", 2: "image", 3: "audio", 4: "audio",
                   5: "video", 6: "video", 7: None, 8: "video"}


def test_source_overlap_matrix(spark):
    from validr_spark.operators.dedup import source_overlap
    df = spark.createDataFrame(
        [(1, "Dup One", "a"), (2, "dup  one", "b"),   # same after norm
         (3, "unique a", "a"), (4, "unique a2", "a"),
         (5, "dup one", "c"), (6, "only c", "c")],
        "doc_id long, text string, source string")
    rows = {(r["source_a"], r["source_b"]): r
            for r in source_overlap(df).collect()}
    # a has 3 distinct contents, 1 shared with b and with c
    assert rows[("a", "b")]["n_shared"] == 1
    assert abs(rows[("a", "b")]["frac_of_a"] - 1 / 3) < 1e-6
    # b has only 1 distinct content, fully contained in a and c
    assert rows[("b", "a")]["frac_of_a"] == 1.0
    assert rows[("b", "c")]["frac_of_a"] == 1.0
    # c: 2 distinct, 1 shared -> 0.5
    assert abs(rows[("c", "a")]["frac_of_a"] - 0.5) < 1e-6
    # disjoint-only pairs are absent, not zero-rows
    assert ("a", "a") not in rows


def _wav18(rate=48000, ch=1, bits=16, data_len=96000):
    import struct
    byte_rate = rate * ch * bits // 8
    return (b"RIFF" + struct.pack("<I", 38 + data_len) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHHH", 18, 1, ch, rate,
                                    byte_rate, ch * bits // 8, bits, 0)
            + b"data" + struct.pack("<I", data_len) + b"\x00" * 16)


def test_wav_18_byte_fmt_and_non_data_chunk(spark):
    import struct
    from validr_spark.operators.multimodal import wav_properties
    # a LIST chunk where data was expected: must yield NULLs, not garbage
    lst = (b"RIFF" + struct.pack("<I", 1000) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 48000,
                                   96000, 2, 16)
           + b"LIST" + struct.pack("<I", 100) + b"\x00" * 16)
    df = spark.createDataFrame(
        [(1, _wav18(48000, 1, 16, 96000)), (2, lst)],
        "id long, content binary")
    got = {r["id"]: r["p"] for r in df.select(
        "id", wav_properties(df).alias("p")).collect()}
    assert tuple(got[1]) == (48000, 1, 16, 1000)   # 18-byte fmt parsed
    assert tuple(got[2]) == (None, None, None, None)


def _bmp_core(w, h):
    import struct
    return (b"BM" + b"\x00" * 12 + struct.pack("<I", 12)
            + struct.pack("<HH", w, h) + b"\x00" * 8)


def test_bmp_core_header_and_unknown_dib(spark):
    import struct
    from validr_spark.operators.multimodal import image_dimensions
    weird = b"BM" + b"\x00" * 12 + struct.pack("<I", 99) + b"\x00" * 12
    df = spark.createDataFrame(
        [(1, _bmp_core(100, 100)), (2, weird)], "id long, content binary")
    got = {r["id"]: r["d"] for r in df.select(
        "id", image_dimensions(df).alias("d")).collect()}
    assert tuple(got[1]) == ("bmp", 100, 100)      # OS/2 core header
    assert tuple(got[2]) == (None, None, None)     # unknown DIB: no guess


def test_jpeg_fill_bytes_and_eoi(spark):
    import struct
    from validr_spark.operators.multimodal import jpeg_dimensions
    # legal 0xFF fill padding before the SOF marker
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 77, 99) + b"\x01\x11\x00")
    padded = b"\xff\xd8" + b"\xff" * 7 + sof0 + b"\xff\xda\x00\x02"
    # EOI before any SOF: walk must stop cleanly with NULLs
    eoi = b"\xff\xd8\xff\xd9" + b"garbage" * 10
    df = spark.createDataFrame(
        [(1, padded), (2, eoi)], "id long, content binary")
    got = {r["id"]: r["jpeg_dims"] for r in jpeg_dimensions(df).collect()}
    assert tuple(got[1]) == (99, 77)
    assert tuple(got[2]) == (None, None)


def test_minhash_candidates_autotune_equals_advisor_bands(spark, docs):
    from validr_spark.operators.dedup import (lsh_parameters,
                                              minhash_candidates)
    manual_bands = lsh_parameters(0.9, 64)["bands"]
    assert manual_bands != 16                  # actually retunes
    auto = sorted((r["id_a"], r["id_b"]) for r in minhash_candidates(
        docs, target_threshold=0.9).collect())
    manual = sorted((r["id_a"], r["id_b"]) for r in minhash_candidates(
        docs, bands=manual_bands).collect())
    assert auto == manual


# --- all_pairs_above: hot-bucket triangle blocking (VERDICT r02 item 3) ----

def test_all_pairs_above_blocked_equals_unblocked(spark):
    """Splitting buckets into triangle cells must not change the result:
    same pairs, same cosines, regardless of max_bucket_rows."""
    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    base = {(r["id_a"], r["id_b"]): round(r["cosine"], 9)
            for r in similarity.all_pairs_above(
                df, threshold=0.6, nbits=4,
                max_bucket_rows=10**6).collect()}
    split = {(r["id_a"], r["id_b"]): round(r["cosine"], 9)
             for r in similarity.all_pairs_above(
                 df, threshold=0.6, nbits=4,
                 max_bucket_rows=8).collect()}
    assert base == split
    assert len(base) > 0          # the threshold actually selects pairs


def test_all_pairs_above_matches_bruteforce_within_bucket(spark):
    """Recall contract: the candidate set is exactly the same-bucket pairs
    — verified against a numpy brute force over the bucketed rows."""
    import itertools
    import math
    import random
    rnd = random.Random(11)
    dim, nbits = 6, 3
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)])
            for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    buckets = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", similarity.lsh_bucket_col(
            F.col("embedding"), dim, nbits, 42).alias("b")).collect()}
    vec = dict(rows)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    expected = {(a, b) for a, b in itertools.combinations(sorted(vec), 2)
                if buckets[a] == buckets[b]
                and cos(vec[a], vec[b]) >= 0.5}
    got = {(r["id_a"], r["id_b"]) for r in similarity.all_pairs_above(
        df, threshold=0.5, nbits=nbits, max_bucket_rows=16).collect()}
    assert got == expected


def test_all_pairs_above_hot_bucket_bounded_cells(spark):
    """10^3-scale near-identical vectors (one hot bucket): every pair must
    still be emitted exactly once, and the work must be spread across
    s(s+1)/2 triangle cells with a bounded per-cell pair count — not one
    quadratic task."""
    n, max_rows = 1200, 200
    import math
    s = math.ceil(n / max_rows)                     # 6 sub-blocks
    base = [1.0, 0.5, -0.25, 0.125]
    rows = [(i, [x + i * 1e-9 for x in base]) for i in range(n)]
    df = (spark.createDataFrame(rows, "vec_id int, embedding array<double>")
          .repartition(8))
    out = similarity.all_pairs_above(df, threshold=0.999, nbits=4,
                                     max_bucket_rows=max_rows)
    # recompute each id's sub-block with the operator's own formula and
    # check the per-cell pair distribution
    cells = (out.select(
        F.least(F.pmod(F.xxhash64(F.col("id_a").cast("int"),
                                  F.lit(42 + 31)), F.lit(s)),
                F.pmod(F.xxhash64(F.col("id_b").cast("int"),
                                  F.lit(42 + 31)), F.lit(s))).alias("i"),
        F.greatest(F.pmod(F.xxhash64(F.col("id_a").cast("int"),
                                     F.lit(42 + 31)), F.lit(s)),
                   F.pmod(F.xxhash64(F.col("id_b").cast("int"),
                                     F.lit(42 + 31)), F.lit(s))).alias("j"))
        .groupBy("i", "j").count().collect())
    total = sum(c["count"] for c in cells)
    assert total == n * (n - 1) // 2               # every pair, once
    assert len(cells) == s * (s + 1) // 2          # full triangle of cells
    # hash-balanced blocks: no cell should exceed ~(2n/s)² pairs
    cap = (2 * n / s) ** 2
    assert max(c["count"] for c in cells) <= cap


def test_dedup_sequences_exact_content(spark):
    from validr_spark.operators.dedup import dedup_sequences

    df = spark.createDataFrame(
        [("a", [1, 2, 3], 1.0),
         ("b", [1, 2, 3], 9.0),      # duplicate content, higher score
         ("c", [1, 2], 5.0),         # prefix is NOT a duplicate
         ("d", [3, 2, 1], 5.0),      # order matters
         ("e", None, 5.0),           # null array passes through
         ("f", [1, None, 2], 5.0),   # null ELEMENT passes through
         ("g", [1, 2], 7.0)],        # duplicate of c
        "doc_id string, tokens array<int>, score double")
    kept = sorted(r["doc_id"]
                  for r in dedup_sequences(df).collect())
    # min-id survivors: a (over b), c (over g), d, plus passthrough e, f
    assert kept == ["a", "c", "d", "e", "f"]
    best = sorted(r["doc_id"] for r in dedup_sequences(
        df, keep_by=F.col("score")).collect())
    # keep_by: b beats a (9 > 1), g beats c (7 > 5)
    assert best == ["b", "d", "e", "f", "g"]


def test_dedup_sequences_null_element_not_conflated(spark):
    from validr_spark.operators.dedup import dedup_sequences

    # concat_ws skips nulls: [1,NULL,2] would render like [1,2]; the
    # guard must keep the holed row OUT of the dedup identity
    df = spark.createDataFrame(
        [("a", [1, 2]), ("b", [1, None, 2])],
        "doc_id string, tokens array<int>")
    kept = sorted(r["doc_id"] for r in dedup_sequences(df).collect())
    assert kept == ["a", "b"]


def test_minhash_tokens_identical_and_disjoint(spark):
    from validr_spark.operators.dedup import minhash_candidates_tokens

    seqs = spark.createDataFrame(
        [("a", list(range(100, 140))),
         ("b", list(range(100, 140))),          # identical -> all bands
         ("c", list(range(100, 140)) + [7]),    # near-dup of a/b
         ("d", list(range(500, 540))),          # disjoint
         ("s", [1, 2])],                        # < n tokens: absent
        "doc_id string, tokens array<int>")
    pairs = {(r["id_a"], r["id_b"]): r["n_bands_matched"]
             for r in minhash_candidates_tokens(
                 seqs, num_hashes=32, bands=16).collect()}
    assert pairs[("a", "b")] == 16               # identical: every band
    assert ("a", "c") in pairs or ("c", "a") in pairs
    assert not any("d" in p for p in pairs)
    assert not any("s" in p for p in pairs)


def test_minhash_tokens_candidates_refactor_parity(spark):
    # the text path must be unchanged by the band_pairs refactor:
    # identical docs still collide in every band
    from validr_spark.operators.dedup import minhash_candidates

    df = spark.createDataFrame(
        [("x", "the quick brown fox jumps over the lazy dog"),
         ("y", "the quick brown fox jumps over the lazy dog"),
         ("z", "completely different content about other things")],
        "doc_id string, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_bands_matched"]
             for r in minhash_candidates(df, num_hashes=32,
                                         bands=16).collect()}
    assert pairs[("x", "y")] == 16
    assert not any("z" in p for p in pairs)


def test_minhash_tokens_plan_no_python(spark):
    from validr_spark.operators.dedup import minhash_signatures_tokens
    from validr_spark.testing import assert_no_python

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4, 5])], "doc_id string, tokens array<int>")
    assert_no_python(minhash_signatures_tokens(df, num_hashes=8))


def test_simhash_near_dups_one_python_pass_per_join_side(spark, docs):
    from validr_spark.testing import python_passes

    # one ArrowEvalPython per side of the block self-join; without the
    # fingerprint barrier the join's inferred isnotnull(simhash) filter
    # re-runs the UDF below its own projection (4 passes)
    assert python_passes(dedup.simhash_near_dups(docs)) == 2
    assert python_passes(dedup.simhash_near_dups_portable(docs)) == 0


def test_knn_join_partition_prune_keeps_lowest_id_on_score_tie(spark):
    """The per-partition top-k prune must keep the LOWEST corpus id
    among equal scores — a score-only prune could keep the wrong id and
    the final window would then return a non-minimal tie."""
    from validr_spark.operators.similarity import knn_join

    # many identical corpus vectors (all cosine 1.0 to the query),
    # spread over several partitions; k=3 must return ids 10,11,12
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10, 30)],
        "vec_id long, embedding array<float>").repartition(4)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    got = [(r["vec_id"], r["rank"]) for r in
           knn_join(corpus, queries, k=3).orderBy("rank").collect()]
    assert got == [(10, 1), (11, 2), (12, 3)]


def test_knn_join_string_ids(spark):
    from validr_spark.operators.similarity import knn_join

    corpus = spark.createDataFrame(
        [("b", [1.0, 0.0]), ("a", [1.0, 0.0]), ("c", [0.0, 1.0])],
        "doc string, embedding array<float>")
    queries = spark.createDataFrame(
        [("q1", [1.0, 0.0])], "doc string, embedding array<float>")
    got = [(r["doc"], r["rank"]) for r in
           knn_join(corpus, queries, k=2, id_col="doc")
           .orderBy("rank").collect()]
    assert got == [("a", 1), ("b", 2)]


def test_knn_join_empty_or_all_null_queries(spark):
    import pytest as _pytest

    from validr_spark.operators.similarity import knn_join

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    # all-NULL query embeddings with no dim -> explicit error
    bad = spark.createDataFrame(
        [(9, None)], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError):
        knn_join(corpus, bad, k=2)
    # with dim given, NULL queries are skipped -> empty result
    assert knn_join(corpus, bad, k=2, dim=2).count() == 0
