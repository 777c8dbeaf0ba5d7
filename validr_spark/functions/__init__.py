"""Flat Column-function namespace (the engine's `pyspark.sql.functions`
analogue): every column-level expression builder the operators are made of,
importable from one place.

    from validr_spark import functions as VF
    df.select(VF.token_count("text"), VF.fingerprint("text"))

All of these return Catalyst Column expressions (JVM-side) — none are
Python UDFs.  `word_ngrams` and `cosine` are built on lambda HOFs, which
Catalyst evaluates interpreted (PERF.md Finding 1).  DataFrame-level
operators (joins, aggs, the minhash signatures) stay in
`validr_spark.operators.*`.
"""

from ..operators.dedup import normalize_text, word_ngrams
from ..operators.similarity import cosine, lsh_bucket_col
from ..operators.textstats import (bpe_ish_token_count, cjk_ratio,
                                   detect_language, fingerprint,
                                   language_scores, quality_features,
                                   quality_score, token_count, words_of)

__all__ = [
    # text analysis
    "words_of", "token_count", "bpe_ish_token_count", "cjk_ratio",
    "language_scores", "detect_language", "quality_features",
    "quality_score", "fingerprint",
    # dedup building blocks
    "normalize_text", "word_ngrams",
    # vector math
    "cosine", "lsh_bucket_col",
]
