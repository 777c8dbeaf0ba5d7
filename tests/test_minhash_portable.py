"""Portable (engine-neutral) minhash family: md5-derived gram integers +
affine-mod-p signature — the variant whose LSH candidate-pair OUTPUT an
independent SQL engine can reproduce (__spark_entry__.py minhash_oracle /
_minhash_oracle_sql).  Spark buckets each band on the xxhash64 of its
comma-joined values, like the other minhash families; the oracles bucket
on the comma-joined string itself, which yields the same pairs unless two
different band slices collide in 64 bits.

Here: byte-equality of Spark signatures vs a pure-Python reference, and
exact pair-set equality of the banding pipeline vs a brute-force Python
banding (value-tuple buckets) over the same signatures.
"""
import hashlib
import re

import pytest
from pyspark.sql import functions as F

from validr_spark.operators.dedup import (MERSENNE31 as P,
                                          minhash_candidates_portable,
                                          minhash_signatures_portable,
                                          portable_hash_params)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),       # exact dup
    (2, "the quick brown fox jumped over the lazy dog"),      # near dup
    (3, "  The   QUICK brown\tfox jumps over the lazy dog "),  # normalizes to 0
    (4, "completely different content about spark engines"),
    (5, "completely different content about spark engines!"),  # near dup
    (6, "tiny"),                                               # len < shingle_k
    (7, ""),                                                   # dropped
    (8, None),                                                 # dropped
]


def sig_py(text, num_hashes=32, seed=42):
    s = re.sub(r"\s+", " ", (text or "").strip().lower())
    if not s:
        return None
    grams = [s[i:i + 5] for i in range(max(len(s) - 4, 1))]
    ms = [int(hashlib.md5(g.encode()).hexdigest()[:12], 16) % P
          for g in grams]
    return [min((a * m + b) % P for m in ms)
            for a, b in portable_hash_params(num_hashes, seed)]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_portable_signatures_match_python_reference(docs_df):
    got = {r["doc"]: list(r["sig"])
           for r in minhash_signatures_portable(docs_df).collect()}
    want = {i: sig_py(t) for i, t in DOCS if sig_py(t) is not None}
    assert got == want
    # normalization folds case/whitespace: doc 3 == doc 0 == doc 1
    assert got[3] == got[0] == got[1]


def test_portable_candidates_match_bruteforce_banding(docs_df):
    num_hashes, bands = 32, 8
    rows = num_hashes // bands
    sigs = {i: sig_py(t, num_hashes) for i, t in DOCS}
    buckets = {}
    for doc, sig in sigs.items():
        if sig is None:
            continue
        for b in range(bands):
            key = (b, tuple(sig[b * rows:(b + 1) * rows]))
            buckets.setdefault(key, []).append(doc)
    want = {}
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pair = (min(a, b), max(a, b))
                want[pair] = want.get(pair, 0) + 1

    got = {(r["id_a"], r["id_b"]): r["n_bands_matched"]
           for r in minhash_candidates_portable(
               docs_df, num_hashes=num_hashes, bands=bands).collect()}
    assert got == want
    assert got[(0, 1)] == bands          # exact dups collide in every band
    assert (0, 3) in got and (1, 3) in got


def test_portable_plan_has_no_python_nodes(docs_df):
    from validr_spark.testing import assert_no_python
    assert_no_python(minhash_candidates_portable(docs_df))
