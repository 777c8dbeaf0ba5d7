"""Global uniqueness checks (north-star: uniqueness on doc_id).

Implementation notes for 10^12-row scale:

* ``groupBy(key).count()`` is a hash aggregate with map-side partial
  aggregation; for a *nearly unique* key the partials barely shrink, so the
  shuffle carries ~1 row per input row.  That is the floor for an exact
  global uniqueness check — there is no way to know a key is globally unique
  without co-locating its occurrences once.
* Skew: a *duplicated hot* key (the failure we're hunting) concentrates into
  one reducer.  ``two_phase=True`` adds a deterministic salt
  (crc32(key) is NOT usable — equal keys must meet; we salt by a hash of the
  key *prefix* count space instead: phase 1 groups by (key, salt) where salt
  only splits rows of equal key, phase 2 re-aggregates per key).  With AQE
  skew-join/agg splitting enabled this is usually unnecessary; it exists for
  pathological single-key floods.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, keys: list[str] | str,
                   two_phase: bool = False, salt_buckets: int = 64) -> DataFrame:
    """Keys appearing more than once: (key..., n_occurrences)."""
    if isinstance(keys, str):
        keys = [keys]
    if not two_phase:
        return (df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_occurrences"))
                .filter(F.col("n_occurrences") > 1))
    salt = (F.crc32(F.concat_ws("\x00", *[F.col(k).cast("string")
                                          for k in keys],
                                F.spark_partition_id().cast("string")))
            % salt_buckets).alias("_salt")
    partial = (df.select(*keys, salt)
               .groupBy(*keys, "_salt")
               .agg(F.count(F.lit(1)).alias("_n")))
    return (partial.groupBy(*keys)
            .agg(F.sum("_n").alias("n_occurrences"))
            .filter(F.col("n_occurrences") > 1))


def duplication_report(df: DataFrame, keys: list[str] | str) -> DataFrame:
    """One-row summary: total rows, distinct keys, duplicated keys,
    surplus rows (rows that would be dropped by dedup).  Every count is 0,
    not NULL, on an empty table."""
    if isinstance(keys, str):
        keys = [keys]
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.count_if(F.col("n") > 1).alias("n_dup_keys"),
        F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("n_surplus_rows"),
    )
