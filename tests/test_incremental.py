"""Incremental bloom-prefiltered dedup (validr_spark/operators/incremental.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from validr_spark.operators.dedup import normalize_text
from validr_spark.operators.incremental import (BloomFilter,
                                                build_fingerprint_bloom,
                                                incremental_dedup,
                                                incremental_new_rows)


def _text(i):
    return f"document body number {chr(97 + i % 26)}{chr(97 + i // 26)} " \
           f"with some distinct content tail {'x' * (i % 7)}"


@pytest.fixture(scope="module")
def corpus(spark):
    ref = spark.createDataFrame(
        [(i, _text(i)) for i in range(200)], "doc_id long, text string")
    # new batch: 40 genuinely new + 25 already in ref (differently cased /
    # spaced — normalization must catch them) + 5 internal duplicates
    rows = [(1000 + i, _text(300 + i)) for i in range(40)]
    rows += [(2000 + i, _text(i).upper().replace(" ", "  "))
             for i in range(25)]
    rows += [(3000 + i, _text(300 + i)) for i in range(5)]
    new = spark.createDataFrame(rows, "doc_id long, text string")
    return ref, new


def test_bloom_filter_basics():
    keys = np.arange(-5000, 5000, dtype=np.int64) * 1_000_003
    m, k = BloomFilter.params(len(keys), 0.01)
    bf = BloomFilter(m, k)
    bf.add(keys)
    # no false negatives — the correctness-critical property
    assert bf.might_contain(keys).all()
    # false-positive rate near the design point
    probe = (np.arange(100_000, dtype=np.int64) + 10**12) * 7_919
    fpr = bf.might_contain(probe).mean()
    assert fpr < 0.03
    # merge == union
    a, b = BloomFilter(m, k), BloomFilter(m, k)
    a.add(keys[:5000]); b.add(keys[5000:])
    assert a.merge(b).might_contain(keys).all()


def test_incremental_new_rows_exact(spark, corpus):
    ref, new = corpus
    got = incremental_new_rows(new, ref)
    # oracle: plain anti-join on the normalized fingerprint
    nfp = lambda df: df.withColumn("_k", normalize_text(F.col("text")))  # noqa: E731
    want = (nfp(new).join(nfp(ref).select("_k").distinct(),
                          "_k", "left_anti").drop("_k"))
    assert sorted(r.doc_id for r in got.collect()) == \
           sorted(r.doc_id for r in want.collect())
    # the 25 overlapping docs were dropped, internal dups retained
    assert got.count() == 45


def test_incremental_dedup_keeps_min_id(spark, corpus):
    ref, new = corpus
    kept = incremental_dedup(new, ref)
    ids = sorted(r.doc_id for r in kept.collect())
    # internal dups (3000+i repeats 1000+i's text) resolve to the min id
    assert ids == sorted(1000 + i for i in range(40))


def test_prebuilt_bloom_and_fpp_bound(spark, corpus):
    ref, new = corpus
    bloom = build_fingerprint_bloom(ref, expected=200, fpp=0.001)
    got = incremental_new_rows(new, ref, bloom=bloom)
    assert got.count() == 45
    # bloom-positive slice ≈ true dups only: of the 45 non-dup rows, at
    # fpp=0.001 essentially none should be flagged for the confirm join
    fp = F.xxhash64(normalize_text(F.col("text")))
    keys = np.array([r[0] for r in new.select(fp).collect()],
                    dtype=np.int64)
    n_pos = int(bloom.might_contain(keys).sum())
    assert 25 <= n_pos <= 28      # 25 true dups + at most a few FPs


def test_plan_shape_bloom_bypass(spark, corpus):
    """Scale contract: exactly one anti-join (candidates only); the
    bloom-negative branch reaches the union join-free; and the membership
    UDF is NOT cloned onto the reference branch (InferFiltersFromConstraints
    would make it an always-true full-corpus UDF pass — the ``once``
    barrier around the UDF stops that)."""
    ref, new = corpus
    bloom = build_fingerprint_bloom(ref, expected=200)
    plan = (incremental_new_rows(new, ref, bloom=bloom)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("LeftAnti") == 1
    # one UDF eval per new-batch branch, zero on the reference branch
    assert plan.count("ArrowEvalPython") == 2
