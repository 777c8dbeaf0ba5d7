"""Unigram-LM (SentencePiece-style) subword tokenization: EM training
over a word-count dict, Viterbi application, Arrow-batched.

The second of the two real subword families (Kudo 2018, "Subword
Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates" — public knowledge; :mod:`bpe` covers the
merge-based family).  A unigram tokenizer is a piece→log-probability
table; tokenizing a word means choosing the segmentation with the
highest total log-probability — Viterbi over the piece lattice.

Scale shape mirrors :func:`bpe.apply_bpe` exactly: training reduces
the corpus to a word-count dict first (explode → hash-agg ≤ distinct
words, bounded ``max_words`` collect) and runs EM driver-side over
vocab-sized state; application is ONE codegen ``regexp_extract_all``
word split + ONE Arrow-batched pandas UDF with the piece table
broadcast and a word cache per Arrow batch — zero shuffle, and the
Finding-18 nondeterministic barrier ships inside the operator.

Determinism: EM is pure arithmetic over sorted dicts (rerun-identical);
Viterbi breaks score ties toward the SMALLEST split point (the longest
final piece), documented because the driver oracle replays
segmentation by exhaustive lattice enumeration — the pinned driver
vocab is verified tie-free over the corpus word inventory so both
engines agree independent of tie rules (tests/test_unigram.py).

No counterpart in guyskk/validr — engine-brief item.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._barrier import once
from .bpe import WORD_REGEX, _word_tokens_expr

__all__ = ["train_unigram_from_counts", "train_unigram",
           "unigram_ids", "viterbi_segment", "apply_unigram",
           "tokens_match_unigram"]


def train_unigram_from_counts(word_counts: dict[str, int],
                              max_piece_len: int = 8,
                              em_iters: int = 5,
                              min_count: int = 2,
                              vocab_size: int | None = None,
                              round_to: int | None = None
                              ) -> dict[str, float]:
    """EM-train a unigram piece model over an aggregated word→count
    dict: seed vocabulary = every substring up to ``max_piece_len``
    occurring ≥ ``min_count`` times (single characters always kept, so
    any training word stays segmentable), then ``em_iters`` rounds of
    forward-backward expected-count E-steps and normalize M-steps —
    the standard lattice EM, without Kudo's iterative pruning (pass
    ``vocab_size`` to keep only the top pieces by final probability
    AFTER EM, single chars always retained).  Returns piece → logp,
    optionally rounded to ``round_to`` decimals for cross-engine
    pinning."""
    items = sorted((w, int(c)) for w, c in word_counts.items()
                   if w and c > 0)
    sub_counts: dict[str, int] = {}
    for w, c in items:
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(i + max_piece_len, n) + 1):
                s = w[i:j]
                sub_counts[s] = sub_counts.get(s, 0) + c
    pieces = sorted(s for s, c in sub_counts.items()
                    if c >= min_count or len(s) == 1)
    if not pieces:
        return {}
    p = {s: 1.0 / len(pieces) for s in pieces}
    for _ in range(em_iters):
        expect: dict[str, float] = {}
        for w, c in items:
            n = len(w)
            alpha = [0.0] * (n + 1)
            alpha[0] = 1.0
            for k in range(1, n + 1):
                a = 0.0
                for j in range(max(0, k - max_piece_len), k):
                    pc = p.get(w[j:k])
                    if pc:
                        a += alpha[j] * pc
                alpha[k] = a
            if alpha[n] <= 0.0:
                continue
            beta = [0.0] * (n + 1)
            beta[n] = 1.0
            for j in range(n - 1, -1, -1):
                b = 0.0
                for k in range(j + 1, min(j + max_piece_len, n) + 1):
                    pc = p.get(w[j:k])
                    if pc:
                        b += pc * beta[k]
                beta[j] = b
            for j in range(n):
                for k in range(j + 1, min(j + max_piece_len, n) + 1):
                    s = w[j:k]
                    pc = p.get(s)
                    if pc:
                        e = c * alpha[j] * pc * beta[k] / alpha[n]
                        if e > 0.0:
                            expect[s] = expect.get(s, 0.0) + e
        total = sum(expect.values())
        if total <= 0.0:
            break
        # keep never-expected pieces at a vanishing floor so the vocab
        # set (and therefore the lattice) is stable across iterations
        floor = min(expect.values()) * 1e-6 if expect else 1.0
        p = {s: (expect.get(s, floor)) / total for s in pieces}
    if vocab_size is not None and vocab_size < len(pieces):
        ranked = sorted(pieces, key=lambda s: (-p[s], s))
        keep = set(ranked[:vocab_size])
        keep.update(s for s in pieces if len(s) == 1)
        p = {s: v for s, v in p.items() if s in keep}
        total = sum(p.values())
        p = {s: v / total for s, v in p.items()}
    out = {s: math.log(v) for s, v in sorted(p.items())}
    if round_to is not None:
        out = {s: round(v, round_to) for s, v in out.items()}
    return out


def train_unigram(df: DataFrame, text_col: str = "text",
                  max_piece_len: int = 8, em_iters: int = 5,
                  min_count: int = 2, max_words: int = 100_000,
                  vocab_size: int | None = None,
                  round_to: int | None = None) -> dict[str, float]:
    """Distributed front of :func:`train_unigram_from_counts`: word
    counts via explode → hash-agg (shuffle ≤ distinct words), a
    deterministic bounded top-``max_words`` collect, then driver-side
    EM — the same reduce-to-counts-first shape as :func:`bpe.learn_bpe`."""
    rows = (df.select(F.explode(
                F.regexp_extract_all(F.col(text_col),
                                     F.lit(WORD_REGEX), 0))
                .alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "word").limit(max_words)
            .collect())
    return train_unigram_from_counts(
        {r["word"]: r["c"] for r in rows}, max_piece_len, em_iters,
        min_count, vocab_size, round_to)


def unigram_ids(vocab_logp: dict[str, float]) -> dict[str, int]:
    """Deterministic piece → id table: pieces sorted lexicographically
    (reproducible from the logp table alone, engine-independent)."""
    return {s: i for i, s in enumerate(sorted(vocab_logp))}


def viterbi_segment(word: str, vocab_logp: dict[str, float],
                    max_piece_len: int = 8) -> list[str] | None:
    """Highest-log-probability segmentation of one word (Viterbi over
    the piece lattice); score ties break toward the SMALLEST split
    point, i.e. the longest final piece.  Returns None when the word
    cannot be segmented (a character outside the vocab)."""
    n = len(word)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for k in range(1, n + 1):
        for j in range(max(0, k - max_piece_len), k):
            if best[j] == NEG:
                continue
            lp = vocab_logp.get(word[j:k])
            if lp is None:
                continue
            sc = best[j] + lp
            if sc > best[k] or (sc == best[k] and j < back[k]):
                best[k] = sc
                back[k] = j
    if best[n] == NEG:
        return None
    out: list[str] = []
    k = n
    while k > 0:
        j = back[k]
        out.append(word[j:k])
        k = j
    out.reverse()
    return out


def _unigram_tokens_expr(spark, vocab_logp, text_col: str,
                         max_piece_len: int,
                         ids: dict[str, int] | None, unk_id: int):
    """Column expression: Viterbi unigram token array for
    ``text_col`` — pieces without ``ids``, int ids with them."""
    def segment(w, logp):
        seg = viterbi_segment(w, logp, max_piece_len)
        return list(w) if seg is None else seg     # char fallback

    return _word_tokens_expr(spark, segment, vocab_logp, text_col, ids,
                             unk_id)


def apply_unigram(df: DataFrame, vocab_logp: dict[str, float],
                  text_col: str = "text", out_col: str = "tokens",
                  max_piece_len: int = 8,
                  ids: dict[str, int] | None = None,
                  unk_id: int = -1) -> DataFrame:
    """Append ``out_col``: the Viterbi unigram tokenization of
    ``text_col`` — piece strings (``array<string>``) by default, ids
    (``array<int>``, :func:`unigram_ids` order) when ``ids`` is given.
    Unsegmentable words fall back to per-character pieces with unknown
    characters mapped to ``unk_id`` in id mode (SentencePiece's
    byte/char fallback shape).  Same scale contract as
    :func:`bpe.apply_bpe`: one codegen word split, one broadcast
    table, one BARRIER-guarded Arrow pass (PERF.md Finding 18), zero
    shuffle."""
    toks = _unigram_tokens_expr(df.sparkSession, vocab_logp, text_col,
                                max_piece_len, ids, unk_id)
    return df.withColumn(out_col, once(toks))


def tokens_match_unigram(df: DataFrame, vocab_logp: dict[str, float],
                         text_col: str = "text",
                         tokens_col: str = "tokens",
                         id_col: str = "doc_id",
                         max_piece_len: int = 8,
                         ids: dict[str, int] | None = None,
                         unk_id: int = -1) -> DataFrame:
    """The north-rule token-array-equality invariant for the unigram
    family: recompute ``unigram(text)`` and emit one house-shape
    violation row per disagreeing row — the exact counterpart of
    :func:`bpe.tokens_match_tokenizer`, sharing its comparison core
    (``rule_id = '<tokens_col>.unigram_mismatch'``, ``value`` = first
    divergent index, both-NULL agrees)."""
    from .bpe import mismatch_violations

    expected = _unigram_tokens_expr(df.sparkSession, vocab_logp,
                                    text_col, max_piece_len, ids,
                                    unk_id)
    return mismatch_violations(
        df, expected, tokens_col, id_col,
        rule_id=f"{tokens_col}.unigram_mismatch",
        label="unigram(text)")
