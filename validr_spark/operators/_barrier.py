"""The projection barrier the operators share (PERF.md Findings 4, 18, 19)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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
    """
    return F.when(F.spark_partition_id() >= 0, col)
