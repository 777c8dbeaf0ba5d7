"""True merge-based byte-pair-encoding: train a merge table, apply it,
and validate that a tokens column matches the tokenizer's output.

The round-4 verdict's top gap: :mod:`tokenize` ships hash/learned-WORD
vocabularies ("BPE-ish"), but nothing that applies a trained BPE merge
table to produce real subword ids — so the engine's own north-rule
invariant ("tokens match the stated tokenizer") could not be expressed.
This module closes the loop with the published algorithm (Sennrich,
Haddow & Birch 2016, "Neural Machine Translation of Rare Words with
Subword Units"; application loop as in GPT-2's public ``bpe()``):

* :func:`learn_bpe` — distributed word counts (one explode + hash-agg,
  bounded ``max_words`` collect), then the classic frequency-greedy
  merge training on the driver-side count dict (training state is
  vocab-sized, never corpus-sized).
* :func:`apply_bpe` — word pre-segmentation as ONE codegen
  ``regexp_extract_all`` pass, then an Arrow-batched ``pandas_udf``
  running the greedy merge loop per word with a word→ids cache per
  Arrow batch (natural-language word frequency is Zipfian: the cache
  turns the per-row cost into a dict lookup for all but
  first-sightings).
  The merge-rank and vocab dicts ship to executors via a Spark
  broadcast, not per-task closure pickling.
* :func:`tokens_match_tokenizer` — the validation rule: recompute
  BPE(text) and emit a violation row (house shape: id, rule_id,
  position, message, value) for every row whose ``tokens`` column
  disagrees — the north rule's per-row token-array-equality invariant
  as an operator.

Merge semantics (both pinned by tests): at each step the LOWEST-RANK
adjacent pair present in the word is merged at all of its
left-to-right non-overlapping occurrences.  For any TRAINED table this
is step-equivalent to merging one leftmost occurrence at a time
(training creates a symbol before any pair containing it, so a merge
can only introduce higher-rank pairs — the current best pair stays
best until exhausted).  That single-occurrence form is what the DuckDB
driver oracle replays with a recursive CTE; the equivalence is
asserted in tests/test_bpe.py against an independent single-step
reference implementation.

Word boundary: words are runs matching ``WORD_REGEX`` (explicit
whitespace class — identical byte semantics in Java regex, RE2/DuckDB
and Python ``re``, unlike ``\\s``); merges never cross word
boundaries.  No end-of-word marker (GPT-2 style): the pre-segmentation
already prevents cross-word merges, and skipping the marker keeps the
oracle's symbol alphabet identical to the text's characters.

No counterpart in guyskk/validr (the reference validates
already-tokenized values; it never tokenizes) — engine-brief item.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as st

from ._barrier import arrow_map, once

__all__ = ["WORD_REGEX", "learn_bpe", "learn_bpe_from_counts",
           "bpe_vocab", "bpe_encode_word", "apply_bpe",
           "tokens_match_tokenizer", "mismatch_violations",
           "save_merges", "load_merges"]

# non-whitespace runs; explicit class because \s differs across regex
# dialects (Java adds \x0B, RE2 lacks it, Python adds unicode spaces)
WORD_REGEX = r"[^ \t\n\r\f\x0B]+"

_INF = float("inf")


def learn_bpe_from_counts(word_counts: dict[str, int],
                          num_merges: int,
                          min_pair_count: int = 2
                          ) -> list[tuple[str, str]]:
    """Sennrich-2016 BPE training over an aggregated word→count dict:
    repeatedly merge the most frequent adjacent symbol pair (ties break
    to the lexicographically smallest pair, so training is
    deterministic and rerun-identical).  Returns the ordered merge
    list; rank = list index.

    Stops early when no pair reaches ``min_pair_count`` (the published
    default: a merge seen once is noise).  Pair counts are maintained
    incrementally — only words containing the merged pair are
    re-counted, the classic indexed implementation.
    """
    words: list[list[str]] = []
    counts: list[int] = []
    for w, c in sorted(word_counts.items()):
        if w and c > 0:
            words.append(list(w))
            counts.append(int(c))
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        c = counts[wi]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += c
            pair_words.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        best, best_c = min(pair_counts.items(),
                           key=lambda kv: (-kv[1], kv[0]))
        if best_c < min_pair_count:
            break
        merges.append(best)
        a, b = best
        joined = a + b
        for wi in list(pair_words.get(best, ())):
            syms, c = words[wi], counts[wi]
            # retract this word's pair contributions, merge, re-add
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= c
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(wi)
                    if not ws:
                        del pair_words[p]
            ns, i = [], 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == a
                        and syms[i + 1] == b):
                    ns.append(joined)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            words[wi] = ns
            for p in zip(ns, ns[1:]):
                pair_counts[p] += c
                pair_words.setdefault(p, set()).add(wi)
    return merges


def learn_bpe(df: DataFrame, text_col: str = "text",
              num_merges: int = 200, max_words: int = 100_000,
              min_pair_count: int = 2) -> list[tuple[str, str]]:
    """Train a BPE merge table on a corpus: distributed word counting
    (explode → hash-agg, shuffle ≤ distinct words), a bounded
    ``max_words`` top-by-count collect (ties break on the word, so the
    training set — and therefore the merge table — is deterministic),
    then driver-side :func:`learn_bpe_from_counts`.  This is how BPE
    is trained in practice: the corpus reduces to a word-frequency
    dict first; only that dict ever reaches the driver.
    """
    rows = (df.select(F.explode(
                F.regexp_extract_all(F.col(text_col),
                                     F.lit(WORD_REGEX), 0))
                .alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "word").limit(max_words)
            .collect())
    return learn_bpe_from_counts({r["word"]: r["c"] for r in rows},
                                 num_merges, min_pair_count)


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Write a merge table in the public GPT-2/huggingface
    ``merges.txt`` format: a ``#version`` header then one
    space-separated pair per line, rank = line order."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("#version: 0.2\n")
        for left, right in merges:
            f.write(f"{left} {right}\n")


def load_merges(path: str) -> list[tuple[str, str]]:
    """Read a merge table in the GPT-2/huggingface ``merges.txt`` text
    format, as :func:`save_merges` writes it.

    Only the file format is shared with pretrained tokenizers.
    :func:`apply_bpe` cuts text into ``WORD_REGEX`` words and merges
    their characters.  It has no byte-level alphabet (GPT-2's ``Ġ``
    space marker), no pre-tokenizer split of punctuation or
    contractions, and no end-of-word marker.  So a pretrained table
    loaded here does not reproduce that tokenizer's pieces or ids in
    general.  It does only for words the pretrained pipeline would leave
    whole and unprefixed.
    A first-line ``#version`` header and blank lines are skipped; each
    remaining line must be exactly two space-separated symbols, so a
    merge whose left symbol is ``#`` is kept."""
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for lineno, line in enumerate(f, 1):
            line = line.rstrip("\n")
            if not line or (lineno == 1 and line.startswith("#version")):
                continue
            parts = line.split(" ")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(
                    f"{path}:{lineno}: expected 'left right', got "
                    f"{line!r}")
            merges.append((parts[0], parts[1]))
    return merges


def bpe_vocab(merges: list[tuple[str, str]],
              alphabet: list[str]) -> dict[str, int]:
    """Token-string → id table for a merge list: ids 0..|alphabet|-1
    are the sorted base characters, then each merge's product in merge
    order (first occurrence wins if two merge paths produce the same
    string) — the standard id assignment, reproducible from
    (merges, alphabet) alone.
    """
    vocab: dict[str, int] = {}
    for ch in sorted(set(alphabet)):
        vocab.setdefault(ch, len(vocab))
    for left, right in merges:
        vocab.setdefault(left + right, len(vocab))
    return vocab


def bpe_encode_word(word: str,
                    ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply a merge-rank table to ONE word (GPT-2 ``bpe()`` loop):
    while any adjacent pair is in the table, merge the lowest-rank one
    at all its left-to-right non-overlapping occurrences."""
    syms = list(word)
    while len(syms) > 1:
        best = min(set(zip(syms, syms[1:])),
                   key=lambda p: ranks.get(p, _INF))
        if best not in ranks:
            break
        a, b = best
        joined = a + b
        ns, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                ns.append(joined)
                i += 2
            else:
                ns.append(syms[i])
                i += 1
        syms = ns
    return syms


def _tokens_expr(spark, merges, text_col: str,
                 vocab: dict[str, int] | None, unk_id: int):
    """Column expression: BPE token array for ``text_col`` — pieces
    (array<string>) without a vocab, ids (array<int>) with one."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    return _word_tokens_expr(spark, bpe_encode_word, ranks, text_col,
                             vocab, unk_id)


def _word_tokens_expr(spark, segment, table, text_col: str,
                      ids: dict[str, int] | None, unk_id: int):
    """Column expression: ``text_col`` split by ``WORD_REGEX``, each
    word cut into pieces by ``segment(word, table)``, concatenated —
    pieces (array<string>) without ``ids``, ids (array<int>, unknown
    pieces → ``unk_id``) with them.  The encoder shared by BPE and
    :func:`unigram.apply_unigram`: ``table`` and ``ids`` are broadcast
    once, and each Arrow batch caches pieces per distinct word (the
    cache lives for one batch)."""
    bc = spark.sparkContext.broadcast(
        (dict(table), dict(ids) if ids is not None else None))
    out_type = (st.ArrayType(st.IntegerType()) if ids is not None
                else st.ArrayType(st.StringType()))

    def _encode(words: pd.Series) -> pd.Series:
        tab, idmap = bc.value
        cache: dict[str, list] = {}

        def enc(ws):
            out = []
            for w in ws:
                toks = cache.get(w)
                if toks is None:
                    pieces = segment(w, tab)
                    if idmap is None:
                        toks = pieces
                    else:
                        toks = [idmap.get(p, unk_id) for p in pieces]
                    if len(cache) >= (1 << 18):
                        cache.clear()
                    cache[w] = toks
                out.extend(toks)
            return out

        return words.map(enc)

    return arrow_map(_encode, out_type,
                     F.regexp_extract_all(F.col(text_col),
                                          F.lit(WORD_REGEX), 0))


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text", out_col: str = "tokens",
              vocab: dict[str, int] | None = None,
              unk_id: int = -1) -> DataFrame:
    """Append ``out_col``: the BPE tokenization of ``text_col`` under
    the trained ``merges`` table — token id arrays (``array<int>``)
    when ``vocab`` is given (unknown pieces → ``unk_id``), piece
    strings (``array<string>``) otherwise.

    Scale shape: word segmentation is one codegen regex pass; the
    merge loop is a single Arrow-batched pandas UDF (never per-row
    Python) with the rank/vocab tables broadcast once per executor and
    a word cache per Arrow batch riding the Zipfian word distribution.
    Zero shuffle — a pure map-side projection, so it composes with any
    downstream agg without moving data.  NULL text → NULL tokens.

    The output column carries the ``_barrier.once`` guard (PERF.md
    Finding 18): a downstream generator's implicit ``size(tokens) > 0``
    pruning filter — or any other second reference — would otherwise
    make Catalyst extract the pandas UDF TWICE (once for the filter,
    once for the projection), doubling the Python work per row.
    """
    toks = _tokens_expr(df.sparkSession, merges, text_col, vocab, unk_id)
    return df.withColumn(out_col, once(toks))


def tokens_match_tokenizer(df: DataFrame,
                           merges: list[tuple[str, str]],
                           text_col: str = "text",
                           tokens_col: str = "tokens",
                           id_col: str = "doc_id",
                           vocab: dict[str, int] | None = None,
                           unk_id: int = -1) -> DataFrame:
    """The north-rule invariant as a rule: recompute ``BPE(text)`` and
    emit one violation row per row whose ``tokens_col`` differs —
    ``(id, rule_id, position, message, value)`` in the compiler's
    violation shape, ``rule_id = '<tokens_col>.bpe_mismatch'``,
    ``value`` = the 0-based index of the first divergent element
    (an index past the shorter array when one is a strict prefix).

    NULL handling: NULL text with non-NULL tokens (and vice versa) is
    a mismatch; both NULL agrees.  Comparison and first-diff run as
    codegen array ops (``zip_with`` + ``array_position``) on the
    recomputed column — one scan, no shuffle, no second Python pass.
    """
    expected = _tokens_expr(df.sparkSession, merges, text_col, vocab,
                            unk_id)
    return mismatch_violations(df, expected, tokens_col, id_col,
                               rule_id=f"{tokens_col}.bpe_mismatch",
                               label="bpe(text)")


def mismatch_violations(df: DataFrame, expected, tokens_col: str,
                        id_col: str, rule_id: str,
                        label: str) -> DataFrame:
    """Shared token-array-equality violation builder: compare
    ``tokens_col`` against the recomputed ``expected`` column
    expression and emit house-shape rows — used by
    :func:`tokens_match_tokenizer` (BPE) and
    :func:`unigram.tokens_match_unigram`.  The message reads
    ``tokens != <label>: expected N tokens, got M``; ``value`` is the
    0-based first-divergence index."""
    # barrier: "_exp" is referenced several times below; without it
    # CollapseProject would inline the pandas_udf call per reference
    pre = df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).alias("_got"),
        once(expected).alias("_exp"))
    got, exp = F.col("_got"), F.col("_exp")
    # zip_with pads the shorter side with NULLs, so a length mismatch
    # surfaces as a NULL-vs-token diff at the first extra position
    diff = F.zip_with(got, exp,
                      lambda g, e: (g.isNull() != e.isNull())
                      | ((g.isNotNull() & e.isNotNull()) & (g != e)))
    bad = (got.isNull() != exp.isNull()) | \
        (got.isNotNull() & exp.isNotNull() & F.exists(diff, lambda x: x))
    return (pre.filter(bad).select(
        "id",
        F.lit(rule_id).alias("rule_id"),
        F.lit(tokens_col).alias("position"),
        F.concat(
            F.lit(f"tokens != {label}: expected "),
            F.coalesce(F.size(exp).cast("string"), F.lit("null")),
            F.lit(" tokens, got "),
            F.coalesce(F.size(got).cast("string"), F.lit("null")))
        .alias("message"),
        F.when(got.isNotNull() & exp.isNotNull(),
               (F.array_position(diff, F.lit(True)) - F.lit(1))
               .cast("string")).alias("value")))
