"""Compression-ratio quality signal — the classic cheap junk detector.

DEFLATE size over raw size: highly repetitive/templated text (boiler-
plate, keyword stuffing, generated spam) compresses far below natural
prose (~0.3-0.45 for English), while random noise barely compresses at
all (≳0.9).  Pipelines in the Gopher/RefinedWeb family gate on exactly
this band.

No Catalyst expression can run DEFLATE, so this is one of the few
justified Python operators in the engine — zlib over Arrow batches
(``_barrier.arrow_map``; zlib releases the GIL while compressing, so
executor-side worker parallelism is real).  Throughput is
compression-bound at tens of MB/s/core: run it AFTER the cheap Catalyst
filters (quality_filter, encoding_scan) have dropped the bulk, not as
the first pass over 100 TB.

No counterpart in guyskk/validr (no notion of document quality).
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._barrier import arrow_map

__all__ = ["compression_ratio", "compression_report"]


def compression_ratio(col, level: int = 6) -> Column:
    """``len(zlib.compress(utf8(text), level)) / len(utf8(text))`` as a
    double column; NULL for NULL/empty text.

    Ratios can exceed 1.0 (zlib framing overhead on short or
    incompressible input) — callers bucketing into [0, 1] must clip.
    """
    col = F.col(col) if isinstance(col, str) else col

    def ratio(x: str):
        b = x.encode("utf-8", errors="surrogatepass")
        return len(zlib.compress(b, level)) / len(b) if b else None

    return arrow_map(lambda s: s.map(ratio), "double", col)


def compression_report(df: DataFrame, text_col: str = "text",
                       group_col: str | None = "source",
                       lo: float = 0.25, hi: float = 1.05,
                       level: int = 6) -> DataFrame:
    """Per-group compression QC: doc counts, mean/min/max ratio, and how
    many docs fall outside the ``[lo, hi]`` "looks like natural text"
    band (too compressible = repetitive junk; ≥1 = binary/noise).

    One scan: the UDF runs once per row (projection), the aggregate is a
    plain hash-agg on the group key.
    """
    r = compression_ratio(F.col(text_col), level=level)
    pre = df.select(
        (F.col(group_col) if group_col else F.lit("all")).alias("grp"),
        r.alias("_r"))
    return (pre.groupBy(F.col("grp").alias(group_col or "group"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("_r").alias("n_scored"),
                 F.round(F.avg("_r"), 6).alias("avg_ratio"),
                 F.round(F.min("_r"), 6).alias("min_ratio"),
                 F.round(F.max("_r"), 6).alias("max_ratio"),
                 # coalesce: a group with no scored docs (all-NULL text)
                 # must report 0, not a NULL dataset-card metric
                 F.coalesce(F.sum((F.col("_r") < lo).cast("long")),
                            F.lit(0)).alias("n_too_repetitive"),
                 F.coalesce(F.sum((F.col("_r") > hi).cast("long")),
                            F.lit(0)).alias("n_noise")))
