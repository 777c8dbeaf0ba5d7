"""Table diff — row-level change detection between two versions of a
keyed table (the validation-engine shape of "what changed since the
last run?").

``table_diff`` full-outer-joins the two versions on the key and
classifies every row as added / removed / changed / same by column-wise
``IS DISTINCT FROM`` comparison (null-safe, type-exact — no hashing, so
the result is engine-portable and oracle-checkable).  ``diff_summary``
reduces that to one row of counts.

Scale: one co-partitioned shuffle on the key per side — the unavoidable
minimum for row-level diff.  At 10^12 rows both sides should be
bucketed/partitioned on the key so the join is co-located; the classify
+ aggregate stages are map-side after the join.  For a cheap screen
before the full diff, compare per-partition row counts + column
checksums first (see operators.stats / checks).

No counterpart in guyskk/validr (single-value validation only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as st

from ._barrier import nonnull_array

__all__ = ["table_diff", "diff_summary"]


def _common_value_cols(a: DataFrame, b: DataFrame,
                       key_cols: list[str],
                       compare_cols: list[str] | None) -> list[str]:
    if compare_cols is not None:
        return list(compare_cols)
    common = [c for c in a.columns if c in set(b.columns)]
    return [c for c in common if c not in set(key_cols)]


def table_diff(a: DataFrame, b: DataFrame, key_cols: list[str],
               compare_cols: list[str] | None = None) -> DataFrame:
    """Row status per key: (key..., status, changed_cols).

    * ``added``   — key only in ``b`` (the new version)
    * ``removed`` — key only in ``a``
    * ``changed`` — key in both, ≥1 compared column differs (null-safe)
    * ``same``    — key in both, all compared columns equal

    ``changed_cols`` lists the differing column names (empty array for
    added/removed/same) so downstream alerts can say WHAT changed.
    """
    keys = list(key_cols)
    vals = _common_value_cols(a, b, keys, compare_cols)
    la = a.select(*keys, *vals, F.lit(1).alias("_in_a"))
    lb = b.select(*keys, *vals, F.lit(1).alias("_in_b"))
    for c in vals:
        la = la.withColumnRenamed(c, f"_a_{c}")
        lb = lb.withColumnRenamed(c, f"_b_{c}")
    j = la.join(lb, on=keys, how="full_outer")

    diff_flags = [
        F.when(~F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}")), F.lit(c))
        for c in vals
    ]
    changed_cols = nonnull_array(diff_flags, st.StringType())
    status = (F.when(F.col("_in_a").isNull(), F.lit("added"))
              .when(F.col("_in_b").isNull(), F.lit("removed"))
              .when(F.size(changed_cols) > 0, F.lit("changed"))
              .otherwise(F.lit("same")))
    empty = F.array().cast("array<string>")
    return j.select(
        *keys,
        status.alias("status"),
        F.when(status == "changed", changed_cols).otherwise(empty)
        .alias("changed_cols"))


def diff_summary(a: DataFrame, b: DataFrame, key_cols: list[str],
                 compare_cols: list[str] | None = None) -> DataFrame:
    """(n_added, n_removed, n_changed, n_same) in one pass over the diff."""
    d = table_diff(a, b, key_cols, compare_cols)
    s = F.col("status")
    return d.agg(
        F.sum((s == "added").cast("long")).alias("n_added"),
        F.sum((s == "removed").cast("long")).alias("n_removed"),
        F.sum((s == "changed").cast("long")).alias("n_changed"),
        F.sum((s == "same").cast("long")).alias("n_same"))
