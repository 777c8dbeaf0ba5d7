"""Plan-shape assertions for pipeline tests.

The scale properties this engine promises — filters pushed into the scan,
no accidental shuffles, no Python in the hot path, broadcast where a
broadcast was designed — are properties of the PHYSICAL PLAN, and they
regress silently: the query still returns correct rows, just 100× slower
at 100 TB.  This module packages the assertions the repo's own test suite
uses (tests/test_plans_streaming.py and friends) as a public API so user
pipelines can pin their plan shapes in CI the same way.

Usage::

    from validr_spark.testing import assert_plan
    assert_plan(df,
                contains=["PushedFilters: [IsNotNull(doc_id)"],
                absent=["SortMergeJoin", "ArrowEvalPython"])

No counterpart in guyskk/validr (no query planner to assert on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["physical_plan", "assert_plan", "assert_no_python",
           "assert_no_shuffle", "count_exchanges", "plan_count",
           "python_passes"]

#: markers of Python evaluation nodes.  Spark grows new node kinds per
#: release (ArrowAggregatePython appeared for grouped-agg pandas UDFs,
#: MapInArrow for arrow UDFs), so the deny-list is substring markers
#: covering every family — row-at-a-time Python, Arrow/pandas batched,
#: grouped/cogrouped/windowed variants — rather than exact node names.
PYTHON_NODES = ("EvalPython", "Python", "InPandas", "InArrow")


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-prepare) physical plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def assert_plan(df: DataFrame, contains: list[str] | None = None,
                absent: list[str] | None = None) -> str:
    """Assert substrings that must / must not appear in the physical
    plan; returns the plan string (handy to print on failure elsewhere).
    """
    plan = physical_plan(df)
    for frag in contains or []:
        assert frag in plan, (
            f"expected {frag!r} in physical plan, not found:\n{plan}")
    for frag in absent or []:
        assert frag not in plan, (
            f"forbidden {frag!r} present in physical plan:\n{plan}")
    return plan


def assert_no_python(df: DataFrame) -> str:
    """Assert the plan contains NO Python evaluation node of any kind —
    the 'hot path stays JVM-side' guarantee.  Matches marker substrings
    (see :data:`PYTHON_NODES`), so a column literally named e.g.
    ``myPythonCol`` could false-positive; rename it or use
    :func:`assert_plan` with exact node names in that corner."""
    return assert_plan(df, absent=list(PYTHON_NODES))


def python_passes(df: DataFrame) -> int:
    """Number of Python evaluation nodes in the executed plan — how many
    times each row crosses into a Python worker.  Only the operator name
    of each plan line is matched against :data:`PYTHON_NODES`, so UDF
    and column names in its arguments do not count."""
    n = 0
    for line in physical_plan(df).splitlines():
        words = line.lstrip(" :+-*()0123456789").split(maxsplit=1)
        if words and any(m in words[0] for m in PYTHON_NODES):
            n += 1
    return n


def plan_count(df: DataFrame, needle: str) -> int:
    """Occurrences of ``needle`` in the OPTIMIZED logical plan, case
    folded — how many times an expression is planned, e.g.
    ``"lambdafunction"`` for interpreted lambdas or ``"rlike"`` for
    regex screens."""
    return (df._jdf.queryExecution().optimizedPlan().toString().lower()
            .count(needle.lower()))


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange (shuffle/broadcast-build) operators in the
    plan.  Broadcast exchanges count too — pass the number you designed
    for, not zero, when broadcasts are intended."""
    return physical_plan(df).count("Exchange")


def assert_no_shuffle(df: DataFrame) -> str:
    """Assert a purely map-side plan: no Exchange at all (scan →
    project/filter → result).  The strongest shape claim; use
    :func:`count_exchanges` for jobs with a designed shuffle budget."""
    plan = physical_plan(df)
    assert "Exchange" not in plan, (
        f"plan contains an Exchange (shuffle/broadcast):\n{plan}")
    return plan
