"""Expression helpers the operators share: the projection barrier
(PERF.md Findings 4, 18, 19) and lambda-free array compaction."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as st


def once(col) -> Column:
    """``col``, evaluated once per row however often later operators
    reference it.

    CollapseProject inlines a deterministic expression into each of its
    consumers.  A per-row value read after an explode is then recomputed
    per element (Finding 4: the minhash text normalization ran once per
    shingle, 22 s → 4 s at sf0.1 with this guard), and a pandas UDF that
    feeds a generator is extracted a second time for the generator's
    implicit ``size > 0`` filter (Finding 18: two ``ArrowEvalPython``
    passes).  PushDownPredicates likewise copies a filter on a
    UDF-derived column below the projection that computes it (Finding
    19: ``ValidationResult.violations()`` ran the pandas UDFs twice).
    Branching on a nondeterministic expression blocks all three, because
    the optimizer neither duplicates nondeterministic expressions nor
    pushes a filter through a projection that holds one.  The branch is
    always taken; the only cost is losing projection collapse for this
    one column.

    The branch reads ``spark_partition_id()``, not
    ``monotonically_increasing_id()``: streaming queries reject the
    latter, and the result views of a streaming validation go through
    this barrier too.

    Spark does not eliminate common subexpressions inside a CASE branch:
    under this barrier an input read twice is computed twice (Finding
    21).
    """
    return F.when(F.spark_partition_id() >= 0, col)


def nonnull_array(cols, elem_type: st.DataType | None = None) -> Column:
    """The non-NULL values of ``cols`` as an array, in order and with
    duplicates kept, and no lambda in the plan: ``array_compact`` is
    planned as an interpreted ``filter`` lambda (Finding 1).  Each column
    is read once, as :func:`once` needs (Finding 21), and loses its NULL
    in its own ``array_except``; one over all columns would also drop
    equal values.  No ``cols`` give an empty array of ``elem_type``."""
    if not cols:
        return F.array().cast(st.ArrayType(elem_type)) if elem_type \
            else F.array()
    null = F.array(F.lit(None))
    return F.concat(*[F.array_except(F.array(c), null) for c in cols])
