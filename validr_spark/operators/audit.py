"""Sampled validation audit — estimate corpus-wide violation rates from a
deterministic hash sample, with Wilson confidence bounds.

Why: at 10^12 rows, CONTINUOUS quality monitoring does not need the full
validation pass the nightly pipeline runs — a 0.1% sample bounds every
rule's violation rate to ±0.01% at 95% confidence for ~1/1000 of the
cost.  The sample is a pure map-side md5-threshold filter
(operators/sampling.hash_prefix), so:

* it is deterministic and engine-independent — re-runs, resumes, and the
  DuckDB oracle all see the SAME sample;
* equal ids always land on the same side, so per-rule rates are unbiased
  for any rule that fires at most once per row (every scalar-field rule;
  array-element rules can fire multiple times per row — their "rate" is
  then expected violations/row and the binomial interval does not apply,
  which is documented rather than hidden).

Interval: Wilson score (NOT normal approximation — at the rates worth
monitoring, p̂ is tiny and the normal interval collapses to [p̂, p̂] or
goes negative; Wilson stays valid down to 0 observed violations, where
it returns the exact "rule of three"-style upper bound).

Scale shape: one filter + the validation projection + one groupBy on
violation ROWS (~rate × sample fraction of the corpus) — the shuffle
carries only per-rule partial counts.

No counterpart in guyskk/validr (single-process: sampling is trivial
there); the estimator semantics follow the classic Wilson (1927) score
interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._barrier import once
from .sampling import hash_sample

__all__ = ["sampled_violation_rates", "wilson_bounds"]


def wilson_bounds(n_viol, n_sample, z: float = 1.959964):
    """(lo, hi) Wilson score interval columns for ``n_viol`` successes in
    ``n_sample`` trials.  Pure Catalyst arithmetic — usable inside any
    aggregate projection."""
    n = n_sample.cast("double")
    p = n_viol.cast("double") / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (F.lit(z) * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
            / denom)
    # n = 0 (empty sample) → NULL bounds, not an ANSI DIVIDE_BY_ZERO;
    # CASE branches evaluate lazily so the division never runs
    lo = F.when(n > 0, F.greatest(F.lit(0.0), center - half))
    hi = F.when(n > 0, F.least(F.lit(1.0), center + half))
    return lo, hi


def sampled_violation_rates(df: DataFrame, plan, *, fraction: float,
                            id_cols: list[str], key: str | None = None,
                            seed: str = "42", z: float = 1.959964,
                            rules: list[str] | None = None) -> DataFrame:
    """Validate a deterministic ``fraction`` of ``df`` and report, per
    rule: sampled counts, the estimated corpus-wide violation rate, its
    Wilson ``z``-score interval, and the scale-up estimate of total
    violations (``n_viol / fraction``).

    Columns: ``(rule_id, n_sample, n_viol, rate, rate_lo, rate_hi,
    est_violations)``, rates rounded to 6 places.

    ``key`` is the hashed sampling column (default: first of
    ``id_cols``).  Rules that can fire multiple times per row (array
    elements) make ``rate`` an expected-violations-per-row figure; the
    interval is only a binomial bound for once-per-row rules.

    By default only rules with ≥1 sampled violation appear.  Pass
    ``rules=[...]`` (the audited rule inventory) to also get a row for
    every CLEAN rule — rate 0 with its Wilson upper bound, i.e. "at 95%
    confidence the true rate is below X", which is the useful statement
    about a rule that found nothing.

    Cost shape: two jobs, each scanning the input once with the md5
    filter applied at the scan (sample count; sampled validation) — the
    expensive validation projection runs only on the sampled fraction.
    For repeated audits over the same snapshot, materialize
    ``hash_sample(df, ...)`` once and pass it with ``fraction=1.0``
    (the estimates then need the caller's own scale-up factor).
    """
    key = key or id_cols[0]
    sample = hash_sample(df, fraction, key, seed)
    res = plan.apply(sample, id_cols=id_cols)
    # total sample size rides along as a 1-row broadcastable cross join —
    # the only data crossing the wire is per-rule partial counts
    n = sample.agg(F.count(F.lit(1)).alias("n_sample"))
    per = (res.violations().groupBy("rule_id")
           .agg(F.count(F.lit(1)).alias("n_viol")))
    if rules is not None:
        # explicit rule inventory: rules with ZERO sampled violations
        # still get a row — rate 0 with the Wilson "rule of three"-style
        # upper bound, which is the whole point of auditing a clean rule
        inv = df.sparkSession.createDataFrame(
            [(r,) for r in rules], "rule_id string")
        per = (F.broadcast(inv).join(per, "rule_id", "left")
               .fillna(0, subset=["n_viol"]))
    j = per.crossJoin(F.broadcast(n))
    lo, hi = wilson_bounds(F.col("n_viol"), F.col("n_sample"), z)
    return j.select(
        "rule_id", "n_sample", "n_viol",
        F.round(F.try_divide(F.col("n_viol"), F.col("n_sample")), 6)
         .alias("rate"),
        F.round(lo, 6).alias("rate_lo"),
        F.round(hi, 6).alias("rate_hi"),
        F.round(F.col("n_viol") / F.lit(fraction), 0).cast("long")
         .alias("est_violations"))


def violation_triage(violations: DataFrame, k: int = 5,
                     salt: int = 0) -> DataFrame:
    """Top-``k`` offending values per rule — the "what is actually
    breaking" view: a single systematic bad value (one misconfigured
    source emitting ``lang='zz'``) shows up as rank 1 with a dominant
    share, while organic noise shows a flat tail.

    Columns: ``(rule_id, rank, value, n, share)`` where ``share`` is the
    value's fraction of ALL violations of that rule (not of the top-k).

    Scale shape: hash-aggregate on (rule_id, value) — map-side combine,
    shuffle carries distinct pairs only.  The final per-rule ranking is a
    window over the AGGREGATED counts; with millions of distinct
    offending values under one rule, pass ``salt > 0`` to pre-prune per
    (rule, hash(value) % salt) first — each prune task keeps its own
    top-k, so the final window sees at most ``salt × k`` rows per rule
    (two-phase top-k; the same trick heavy_hitters avoids by being
    global).  Deterministic tie-break: count desc, value asc NULLS FIRST.
    """
    from pyspark.sql import Window

    # ONE shuffle for both granularities: rollup emits the (rule, value)
    # cells AND the per-rule totals from the same aggregation (map-side
    # partials through an Expand) — two separate groupBys would scan and
    # shuffle the violations twice.  F.grouping disambiguates a real
    # NULL value from the rollup's subtotal marker.
    ga = (violations.rollup("rule_id", "value")
          .agg(F.count(F.lit(1)).alias("n"),
               F.grouping("rule_id").alias("_gr"),
               F.grouping("value").alias("_gv")))
    # barrier: without it Catalyst pushes each branch's grouping-id
    # filter BELOW the Expand, splitting the shared rollup into two
    # independent scans of the violations — the barrier keeps the
    # filters above the aggregate so the exchange is reused
    ga = ga.withColumn("_gr", once(F.col("_gr")))
    counts = (ga.filter((F.col("_gr") == 0) & (F.col("_gv") == 0))
              .select("rule_id", "value", "n"))
    # per-rule totals BEFORE any pruning (share denominator) — tiny
    # (#rules rows), broadcast back
    tot = (ga.filter((F.col("_gr") == 0) & (F.col("_gv") == 1))
           .select("rule_id", F.col("n").alias("_t")))
    order = [F.desc("n"), F.asc_nulls_first("value")]
    if salt:
        ws = Window.partitionBy(
            "rule_id", F.pmod(F.xxhash64("value"), F.lit(salt))
        ).orderBy(*order)
        counts = (counts.withColumn("_pr", F.row_number().over(ws))
                  .filter(F.col("_pr") <= k).drop("_pr"))
    w = Window.partitionBy("rule_id").orderBy(*order)
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .join(F.broadcast(tot), "rule_id")
            .select("rule_id", "rank", "value", "n",
                    F.round(F.col("n") / F.col("_t"), 6).alias("share")))
