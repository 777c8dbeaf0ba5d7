"""The projection barrier the operators share (PERF.md Findings 4, 18)."""

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
    passes).  Branching on a nondeterministic expression blocks both,
    because the optimizer never duplicates nondeterministic expressions.
    The branch is always taken; the only cost is losing projection
    collapse for this one column.
    """
    return F.when(F.monotonically_increasing_id() >= 0, col)
