"""Cross-column row invariants (e.g. ``n_tok == size(tokens)``).

A row invariant is a boolean Column expression; failures become violation
rows in the engine's (id, rule_id, position, message, value) shape.  Pure
projection+filter — no shuffle, fully pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._barrier import nonnull_array


def check_invariants(df: DataFrame, invariants: dict[str, Column],
                     id_cols: list[str] | str = ()) -> DataFrame:
    """``invariants``: {rule_id: ok_condition}. Returns violation rows."""
    if isinstance(id_cols, str):
        id_cols = [id_cols]
    parts = []
    for rule_id, ok in invariants.items():
        field = rule_id.split(".", 1)[0]
        parts.append(
            F.when(~F.coalesce(ok, F.lit(False)), F.struct(
                F.lit(rule_id).alias("rule_id"),
                F.lit(field).alias("position"),
                F.lit(f"invariant {rule_id} violated").alias("message"),
            )))
    return (df.select(*id_cols, F.explode(nonnull_array(parts)).alias("v"))
            .select(*id_cols, "v.rule_id", "v.position", "v.message"))


def n_tok_consistency(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The north-star invariant on the sequences table."""
    return check_invariants(
        df, {"n_tok.consistent": F.col("n_tok") == F.size("tokens")},
        id_cols=id_col)


def fd_violations(df: DataFrame, determinant: str | list[str],
                  dependent: str, sample_values: int = 4) -> DataFrame:
    """Functional-dependency check: does ``determinant`` → ``dependent``
    hold (each determinant value maps to exactly one dependent value)?

    Returns one row per violating determinant value:
    (determinant cols..., n_values, values) where ``values`` is a BOUNDED
    sorted sample (first ``sample_values`` in value order) of the
    conflicting dependent values.

    Scale shape: (1) hash-agg dedup of (determinant, dependent) pairs —
    map-side partials, shuffle carries distinct pairs; (2) a per-key
    window over the DEDUPED pairs for rank + distinct count — sort-based
    and spillable, and the collect_list that follows aggregates at most
    ``sample_values`` rows per key, so no unbounded group state even when
    one determinant maps to millions of values (the pathological case an
    FD check exists to find).

    Deequ models this as a uniqueness/FD constraint; guyskk/validr has no
    cross-row semantics (per-value validator) — engine-original operator.
    """
    from pyspark.sql import Window

    keys = [determinant] if isinstance(determinant, str) else list(determinant)
    d = F.col(dependent)
    pre = (df.select(*keys, d.cast("string").alias("_v"))
           .filter(F.col("_v").isNotNull())
           .dropDuplicates(keys + ["_v"]))
    wk = Window.partitionBy(*keys)
    ranked = (pre
              .withColumn("_rk", F.row_number().over(wk.orderBy("_v")))
              .withColumn("_nv", F.count(F.lit(1)).over(wk)))
    return (ranked.filter((F.col("_nv") > 1)
                          & (F.col("_rk") <= sample_values))
            .groupBy(*keys, F.col("_nv").alias("n_values"))
            .agg(F.sort_array(F.collect_list("_v")).alias("values"))
            .select(*keys, "n_values", "values"))


def ordering_violations(df: DataFrame, key: str, value_col: str,
                        seq_col: str, id_cols: list[str] | str = (),
                        strict: bool = False) -> DataFrame:
    """Per-key monotonicity check: within each ``key`` partition taken in
    ``seq_col`` order (event id, ingestion offset, version counter...),
    flag rows where ``value_col`` went backwards relative to the previous
    row — or merely failed to strictly increase, with ``strict=True``.

    Returns the violating rows (id_cols..., key, seq, value, prev value).
    One shuffle on ``key`` (window partitioning — never a global sort);
    per-row window state is a single lag, so skewed keys cost time, not
    memory.  Typical use: event-time regressions per user/session in
    arrival order, or version counters per document.
    """
    from pyspark.sql import Window

    if isinstance(id_cols, str):
        id_cols = [id_cols]
    w = Window.partitionBy(key).orderBy(F.col(seq_col).asc())
    v = F.col(value_col)
    prev_col = f"prev_{value_col}"
    projected = df.select(*id_cols, key, seq_col, value_col,
                          F.lag(v).over(w).alias(prev_col))
    prev = F.col(prev_col)
    bad = (v <= prev) if strict else (v < prev)
    return projected.filter(F.coalesce(bad, F.lit(False)))
