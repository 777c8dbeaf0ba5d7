"""Referential-integrity checks: fact.key ⊆ dim.key.

The dimension side is broadcast by default (a source/enum dimension is
small by construction), so the check is a map-side broadcast anti-join —
zero shuffle of the fact table at any scale.  Set ``broadcast=False`` for a
large dimension; AQE then picks the join strategy and handles skewed keys
(``spark.sql.adaptive.skewJoin.enabled``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._barrier import nonnull_array


def orphans(fact: DataFrame, dim: DataFrame, on, broadcast: bool = True) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` (left anti join)."""
    d = F.broadcast(dim) if broadcast else dim
    return fact.join(d, on=on, how="left_anti")


def orphan_count(fact: DataFrame, dim: DataFrame, on,
                 broadcast: bool = True) -> DataFrame:
    return orphans(fact, dim, on, broadcast).agg(
        F.count(F.lit(1)).alias("n_orphans"))


def orphan_violations(fact: DataFrame, dim: DataFrame, key: str,
                      id_col: str, broadcast: bool = True) -> DataFrame:
    """Orphans as violation rows matching the engine's violations schema."""
    return orphans(fact, dim, key, broadcast).select(
        F.col(id_col),
        F.lit(f"{key}.referential").alias("rule_id"),
        F.lit(key).alias("position"),
        F.lit(f"value not present in dimension {key}").alias("message"),
        F.col(key).cast("string").alias("value"),
    )


def _deletion_variants(col, max_len: int):
    """array of the string itself + every single-character deletion,
    unrolled as codegen concat/substring expressions (no lambda HOFs).
    Strings longer than ``max_len`` contribute only themselves."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.char_length(c)
    variants = [c]
    for i in range(1, max_len + 1):
        # delete position i (1-based): prefix(i-1) + suffix from i+1.
        # Gated on n <= max_len: a longer string would get a TRUNCATED
        # suffix (silent wrong variants), so over-long keys fall back to
        # exact matching only.
        variants.append(
            F.when((n >= i) & (n <= max_len),
                   F.concat(F.substring(c, 1, i - 1),
                            F.substring(c, i + 1, max_len))))
    return nonnull_array(variants)


def fuzzy_orphans(df: DataFrame, dim: DataFrame, col: str,
                  dim_col: str | None = None,
                  max_len: int = 32) -> DataFrame:
    """Referential check that tolerates ONE typo: rows whose ``col``
    matches no dimension value even allowing a single character edit
    (insert/delete/substitute) — the true orphans — separated from rows
    that are one edit away from a valid value (``near_miss`` with the
    suggested correction): almost always a data-entry or normalization
    bug, not a genuinely unknown key.

    The deletion-neighborhood trick (Norvig spelling-correction, scaled):
    ``lev(a,b) <= 1  iff  del-variants(a) ∩ del-variants(b) != ∅`` for
    insert/delete/substitute edits.  Both sides expand to ≤ len+1
    variants (bounded by ``max_len``), the match is a plain BROADCAST
    equi-join on the variant — never a cross join, never per-pair
    levenshtein over the corpus.  An exact ``levenshtein <= 1`` verify
    runs only on the candidate matches (codegen, candidates-sized).

    Output: (value, n_rows, status 'near_miss'|'orphan', suggestion).
    """
    dim_col = dim_col or col
    vals = (df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).alias("value"))
            .agg(F.count(F.lit(1)).alias("n_rows")))
    exact = vals.join(F.broadcast(dim.select(F.col(dim_col).alias("value"))
                                  .distinct()), "value", "left_anti")
    lhs = exact.select(
        "value", "n_rows",
        F.explode(_deletion_variants("value", max_len)).alias("_v"))
    rhs = (dim.select(F.col(dim_col).alias("dim_value")).distinct()
           .select("dim_value",
                   F.explode(_deletion_variants("dim_value", max_len))
                   .alias("_v")))
    cand = (lhs.join(F.broadcast(rhs), "_v")
            .filter(F.levenshtein("value", "dim_value") <= 1)
            .groupBy("value", "n_rows")
            .agg(F.min("dim_value").alias("suggestion")))
    out = (exact.join(cand.select("value", "suggestion"), "value", "left")
           .select("value", "n_rows",
                   F.when(F.col("suggestion").isNotNull(), "near_miss")
                   .otherwise("orphan").alias("status"),
                   "suggestion"))
    return out.orderBy("value")
