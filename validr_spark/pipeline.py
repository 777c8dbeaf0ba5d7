"""End-to-end training-data preparation pipeline — the composed path a
pre-training data team runs daily, built entirely from this package's
operators so each stage inherits its scale contract:

    validate → exact dedup → near-dup dedup (MinHash→verify→components)
             → quality filter → sequence packing

Every stage is a lazy DataFrame transformation; nothing is collected.
At 100 TB you materialize between stages (write each stage to a
partitioned table / use plans.manifest for resumability) — pass
``checkpoint=True`` to localCheckpoint stage boundaries in-session,
which also stops Catalyst re-planning the whole lineage per stage.

Stage scale shapes (each documented at its operator):
  validate       one projection over the scan (compiler.py)
  exact_dedup    one shuffle on md5 fingerprint (dedup.py)
  near-dup       banded LSH join, candidates-only verify, component
                 keep-min — never all-pairs (dedup.py, graph.py)
  quality        zero-shuffle codegen projection (textstats.py)
  packing        deterministic shards × in-shard FFD (packing.py)

No counterpart in guyskk/validr (single-value validation only); the
validate stage IS the reference's semantics applied at table scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["prepare_training_data", "prepare_sequences",
           "PipelineResult"]


@dataclass
class PipelineResult:
    """Lazy handles to the pipeline outputs plus per-stage row counts."""
    kept: DataFrame                       # surviving documents
    packed: DataFrame | None              # bin assignment (id, bin_id, ...)
    stats: list[dict] = field(default_factory=list)

    def stats_df(self, spark):
        return spark.createDataFrame(
            [(s["stage"], s["rows_in"], s["rows_out"]) for s in self.stats],
            "stage string, rows_in long, rows_out long")


def _step(stats: list[dict], name: str, before: DataFrame, after: DataFrame,
          *, collect_stats: bool, checkpoint: bool) -> DataFrame:
    """Record one stage's row counts in ``stats`` and return its output.

    A stage's input is the previous stage's output, so ``rows_in`` is the
    previous entry's ``rows_out``; only the first stage counts its input.
    """
    if collect_stats:
        rows_in = stats[-1]["rows_out"] if stats else before.count()
        stats.append({"stage": name, "rows_in": rows_in,
                      "rows_out": after.count()})
    else:
        stats.append({"stage": name, "rows_in": None, "rows_out": None})
    return after.localCheckpoint(eager=False) if checkpoint else after


def prepare_training_data(
        df: DataFrame, schema=None, *,
        id_col: str = "doc_id", text_col: str = "text",
        len_col: str | None = None, max_tokens: int = 2048,
        near_dup: bool = True, jaccard_threshold: float = 0.8,
        keep_by=None, drop_bad_encoding: bool = False,
        minhash_kwargs: dict | None = None,
        quality_kwargs: dict | None = None,
        pack: bool = True, collect_stats: bool = True,
        checkpoint: bool = False) -> PipelineResult:
    """Run the full prep pipeline; see module docstring for the stages.

    ``schema`` is a validr schema (``T.dict(...)``) — rows with ANY
    violation are dropped (the reference's strict semantics); pass None
    to skip validation.  ``len_col`` supplies token lengths for packing;
    default derives a whitespace token count from ``text_col``.
    ``collect_stats=False`` keeps the whole pipeline a single lazy plan
    (no counting jobs) — the 100 TB default; stats then only record the
    stage names.  ``keep_by`` (a Column, e.g. a quality score) elects
    the highest-scoring member as the dedup survivor in BOTH dedup
    stages instead of the min-id member (ties → min id).
    ``drop_bad_encoding=True`` inserts a zero-shuffle encoding gate
    (operators/encoding.py) right after validation, before any dedup
    work is spent on mojibake rows.
    """
    from validr_spark.operators.dedup import (exact_dedup, jaccard_verify,
                                              minhash_candidates)
    from validr_spark.operators.graph import dedup_by_components
    from validr_spark.operators.packing import pack_greedy
    from validr_spark.operators.textstats import (quality_annotate,
                                                  token_count)

    stats: list[dict] = []
    step = partial(_step, stats, collect_stats=collect_stats,
                   checkpoint=checkpoint)

    cur = df

    if schema is not None:
        from validr_spark.compiler import SparkCompiler
        plan = SparkCompiler().compile(schema)
        # plan.flag keeps every original column and filters in the same
        # map-side projection — no id round-trip.  The previous anti-join
        # by id was a shuffle AND dropped innocent rows whenever ids were
        # NULL (eqNullSafe matched every NULL-id row against one NULL-id
        # violator) or duplicated.
        flagged = plan.flag(cur, "_pipe_violations")
        clean = (flagged.filter(F.size(F.col("_pipe_violations")) == 0)
                 .drop("_pipe_violations"))
        cur = step("validate", df, clean)

    if drop_bad_encoding:
        from validr_spark.operators.encoding import ENCODING_PATTERNS
        from validr_spark.operators.encoding import encoding_counts
        e = encoding_counts(F.col(text_col))
        tot = None
        for n in ENCODING_PATTERNS:
            tot = e[n] if tot is None else tot + e[n]
        cur = step("encoding", cur, cur.filter(tot == 0))

    deduped = exact_dedup(cur, text_col, id_col, keep_by=keep_by)
    cur = step("exact_dedup", cur, deduped)

    if near_dup:
        mk = dict(minhash_kwargs or {})
        cands = minhash_candidates(cur, text_col, id_col, **mk)
        verified = jaccard_verify(cur, cands, text_col, id_col,
                                  threshold=jaccard_threshold)
        pairs = verified.select("id_a", "id_b")
        kept = dedup_by_components(cur, pairs, id_col=id_col,
                                   keep_by=keep_by)
        cur = step("near_dup", cur, kept)

    qk = dict(quality_kwargs or {})
    # annotate-then-filter, not filter-ids-then-semi-join: the id
    # round-trip silently dropped every NULL-id row (NULL never
    # equi-joins) and cost a shuffle; the annotate form is one map-side
    # projection with no id dependency at all
    flagged_q = quality_annotate(cur, text_col, **qk)
    kept_q = flagged_q.filter(F.col("keep")).drop("keep", "reasons")
    cur = step("quality", cur, kept_q)

    packed = None
    if pack:
        if len_col is None:
            src = cur.withColumn("_ntok", token_count(F.col(text_col)))
            lcol = "_ntok"
        else:
            src, lcol = cur, len_col
        packed = pack_greedy(src, max_tokens, id_col=id_col, len_col=lcol)
        step("pack", cur, packed, checkpoint=False)

    return PipelineResult(kept=cur, packed=packed, stats=stats)


def prepare_sequences(
        df: DataFrame, schema=None, *,
        id_col: str = "doc_id", tokens_col: str = "tokens",
        n_tok_col: str = "n_tok",
        near_dup: bool = False, min_bands: int = 8,
        minhash_kwargs: dict | None = None, keep_by=None,
        benchmark: DataFrame | None = None, contamination_n: int = 8,
        contamination_min_hits: int = 1,
        budget_tokens: int | None = None, budget_seed: str = "42",
        pack: bool = True, max_tokens: int = 2048,
        collect_stats: bool = True, checkpoint: bool = False
        ) -> PipelineResult:
    """The :func:`prepare_training_data` twin for the NORTH-RULE shape —
    a corpus that ships as pre-tokenized sequences
    ``(doc_id, tokens:array<int>, n_tok, source)`` with no raw text:

    1. **validate** — compiled plan (pass a validr schema, e.g.
       ``datagen.sequences_schema()``); rows with any violation drop.
       The compiler's array screens keep the per-element work off the
       clean majority (PERF.md Finding 1), and ``plan.flag`` filters in
       one map-side projection (no id round-trip — NULL/duplicate ids
       cannot cause collateral drops).
    2. **exact content dedup** — :func:`~validr_spark.operators.dedup.
       dedup_sequences` (128-bit array fingerprint, min-id or
       ``keep_by`` survivor).
    3. **near-dup** (``near_dup=True``) — token-n-gram minhash LSH
       candidates with ≥ ``min_bands`` matching bands (of the
       ``minhash_kwargs`` banding) → connected components → keep-min/
       ``keep_by``.  Band count stands in for a verify pass: at the
       default 64-hash/16-band setting (4 rows per band — the
       per-band match probability is J^4), ≥8 of 16 shared bands
       concentrates well above ~0.9 estimated Jaccard; pass a stricter
       ``min_bands`` or run a gram-set verify downstream for
       audit-grade pairs.
    4. **decontaminate** (``benchmark=`` a sequence table) — drop rows
       sharing ≥ ``contamination_min_hits`` distinct token
       ``contamination_n``-grams with the benchmark (broadcast probe,
       hits-only shuffle).
    5. **budget** (``budget_tokens=``) — deterministic md5-order token
       budget cut (:func:`~validr_spark.operators.packing.
       take_token_budget`).
    6. **pack** — FFD packing into ``max_tokens`` windows using
       ``n_tok_col`` (no token-count derivation needed: the shape
       carries it).

    Same laziness contract as the text pipeline: ``collect_stats=False``
    keeps everything one plan — but pass ``checkpoint=True`` whenever
    the decontaminate (or near-dup) stage is on: those stages reference
    their input in MULTIPLE branches, and without the stage barrier
    Catalyst clones the whole upstream expression tree (including the
    compiled schema's violations projection) into every branch — the
    optimizer itself blows up long before the data does (PERF.md
    Finding 16: 153 s / driver OOM → 22 s at sf0.01).
    """
    from validr_spark.operators.contamination import token_contamination_scan
    from validr_spark.operators.dedup import (dedup_sequences,
                                              minhash_candidates_tokens)
    from validr_spark.operators.graph import dedup_by_components
    from validr_spark.operators.packing import pack_greedy, take_token_budget

    stats: list[dict] = []
    step = partial(_step, stats, collect_stats=collect_stats,
                   checkpoint=checkpoint)

    cur = df
    if schema is not None:
        from validr_spark.compiler import SparkCompiler
        plan = SparkCompiler().compile(schema)
        flagged = plan.flag(cur, "_pipe_violations")
        clean = (flagged.filter(F.size(F.col("_pipe_violations")) == 0)
                 .drop("_pipe_violations"))
        cur = step("validate", df, clean)

    deduped = dedup_sequences(cur, tokens_col, id_col, keep_by=keep_by)
    cur = step("exact_dedup", cur, deduped)

    if near_dup:
        mk = dict(minhash_kwargs or {})
        cands = minhash_candidates_tokens(cur, tokens_col, id_col, **mk)
        pairs = (cands.filter(F.col("n_bands_matched") >= min_bands)
                 .select("id_a", "id_b"))
        kept = dedup_by_components(cur, pairs, id_col=id_col,
                                   keep_by=keep_by)
        cur = step("near_dup", cur, kept)

    if benchmark is not None:
        scan = token_contamination_scan(
            cur, benchmark, tokens_col, id_col,
            n=contamination_n, min_hits=contamination_min_hits)
        bad = (scan.filter(F.col("contaminated"))
               .select(F.col(id_col).alias("_bad_id")))
        kept = cur.join(bad, cur[id_col].eqNullSafe(F.col("_bad_id")),
                        "left_anti")
        cur = step("decontaminate", cur, kept)

    if budget_tokens is not None:
        cut = take_token_budget(cur, budget_tokens, token_col=n_tok_col,
                                id_col=id_col, seed=budget_seed)
        cur = step("budget", cur, cut)

    packed = None
    if pack:
        packed = pack_greedy(cur, max_tokens, id_col=id_col,
                             len_col=n_tok_col)
        step("pack", cur, packed, checkpoint=False)

    return PipelineResult(kept=cur, packed=packed, stats=stats)
