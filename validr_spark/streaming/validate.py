"""Validate Structured Streaming sources with the same compiled plans.

The row-validation pass (`ValidationPlan.apply`) is one stateless
projection — Catalyst expressions, plus one Arrow pass when the schema
has pandas-UDF validators (email, datetime, ...) — so it applies to a
streaming DataFrame unchanged: micro-batches flow through the same plan
the batch engine uses.  What streaming adds:

* ``stream_violations`` — a violations *stream*: the projection behind
  the ``spark_partition_id`` barrier (``operators/_barrier.once``, which
  streaming accepts), then ``size > 0`` filter → explode.  Still
  stateless, so it runs in append mode with exactly-once file sinks.
* ``windowed_verdicts`` — per-(event-time window × partition) pass/fail
  with a watermark so late rows are folded in until the watermark passes
  and state is dropped (bounded state at any scale).
* ``write_violations_stream`` — parquet append sink with a checkpoint
  location: Spark's file-sink commit log gives end-to-end exactly-once,
  which is the streaming analogue of the batch manifest in
  ``plans.manifest``.

The reference engine is synchronous/in-memory (no streams anywhere in
guyskk/validr); semantics preserved are per-value: same rule → same
violation row whether the row arrived in a batch or a micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler import verdict_counts


def validate_stream(plan, sdf: DataFrame, id_cols: list[str] | None = None):
    """Apply a compiled plan to a streaming DataFrame.

    Returns the same ValidationResult as the batch path; every derived
    view that is stateless (clean / violations) streams in append mode.
    """
    return plan.apply(sdf, id_cols=id_cols)


def stream_violations(plan, sdf: DataFrame,
                      id_cols: list[str] | None = None) -> DataFrame:
    """Streaming violations table: (id..., rule_id, position, message,
    value).  Stateless → append-mode compatible."""
    return validate_stream(plan, sdf, id_cols=id_cols).violations()


def windowed_verdicts(plan, sdf: DataFrame, ts_col: str,
                      window: str = "1 minute",
                      watermark: str = "5 minutes",
                      partition_col: str | None = None) -> DataFrame:
    """Per event-time window (and optional partition) verdict stream.

    Watermarked windowed aggregation: state for a window is dropped once
    the watermark passes its end, so executor state stays bounded no
    matter how long the stream runs.  Emit in append mode (one final row
    per closed window) or update mode (running counts).
    """
    # plan.apply drops non-schema columns: carry ts/partition through as
    # id columns (the watermark annotation survives the projection).
    carry = [ts_col] + ([partition_col] if partition_col else [])
    res = validate_stream(plan, sdf.withWatermark(ts_col, watermark),
                          id_cols=carry)
    keys = [F.window(F.col(ts_col), window).alias("window")]
    if partition_col:
        keys.append(F.col(partition_col))
    return res.df.groupBy(*keys).agg(*verdict_counts(F.col("_violations")))


def write_violations_stream(violations: DataFrame, path: str,
                            checkpoint: str, trigger: dict | None = None):
    """Exactly-once parquet sink for a violations stream.

    ``trigger`` examples: ``{"availableNow": True}`` (drain-and-stop,
    used in tests), ``{"processingTime": "30 seconds"}``.
    """
    writer = (violations.writeStream.format("parquet")
              .option("path", path)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def windowed_violation_rates(plan, sdf: DataFrame, ts_col: str,
                             window: str = "1 minute",
                             watermark: str = "5 minutes",
                             partition_col: str | None = None,
                             z: float = 1.959964) -> DataFrame:
    """``windowed_verdicts`` plus per-window BAD-ROW rate with a Wilson
    ``z``-score interval — the alerting view: "rate_lo > SLO" fires only
    when the window holds enough rows to support the claim, so a 3-row
    window with one bad row (rate 0.33, but lo ≈ 0.06) doesn't page
    anyone, while the same rate over 100k rows does.

    Same bounded watermarked state as ``windowed_verdicts`` (the extra
    columns are post-aggregation arithmetic on the same state store).
    Interval is binomial over ROWS (n_bad_rows / n_rows) — well-defined
    regardless of how many rules each bad row tripped.
    """
    from ..operators.audit import wilson_bounds

    v = windowed_verdicts(plan, sdf, ts_col, window=window,
                          watermark=watermark, partition_col=partition_col)
    lo, hi = wilson_bounds(F.col("n_bad_rows"), F.col("n_rows"), z)
    return v.select(
        "*",
        F.round(F.col("n_bad_rows") / F.col("n_rows"), 6).alias("bad_rate"),
        F.round(lo, 6).alias("rate_lo"),
        F.round(hi, 6).alias("rate_hi"))
