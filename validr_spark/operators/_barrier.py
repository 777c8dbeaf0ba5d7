"""Expression helpers the operators share: the projection barrier
(PERF.md Findings 4, 7, 18, 19), the one way into Python per row
(Findings 13, 22) and lambda-free array compaction."""

from __future__ import annotations

import pandas as pd
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


def arrow_map(fn, return_type, col) -> Column:
    """``fn`` over ``col``, one Arrow batch at a time: the package's
    only pandas UDF.

    ``fn`` receives a pandas Series of the batch's non-NULL values and
    returns one result per value, or a DataFrame with one column per
    field of a struct ``return_type``.  The results come back in row
    order; a NULL row comes back NULL, or as an all-NULL struct.  Only
    the NULLs of an object batch (strings, binaries, arrays) are held
    back: pandas writes a numeric NULL as NaN, so a numeric batch
    reaches ``fn`` whole, and ``fn`` sees a NaN there that may be a
    value it must reject.

    The gating rule: to keep values out of Python, pass
    ``F.when(cond, col)`` as the argument, so a row failing ``cond``
    reaches Python as NULL and ``fn`` never sees it (Finding 22).  A
    ``when`` around the result does not do it: Spark lifts the UDF out
    of the CASE and evaluates it on every row (Finding 13).
    """
    if isinstance(return_type, str):
        return_type = st.DataType.fromDDL(return_type)
    fields = (return_type.names if isinstance(return_type, st.StructType)
              else None)

    def batch(s: pd.Series) -> pd.Series:
        keep = s.notna() if s.dtype == object else None
        if keep is not None and not keep.any():
            none = pd.Series([None] * len(s), index=s.index, dtype=object)
            return (none if fields is None
                    else pd.DataFrame({f: none for f in fields}))
        part = s if keep is None or keep.all() else s[keep]
        res = fn(part)
        if not isinstance(res, (pd.Series, pd.DataFrame)):
            res = pd.Series(res)
        res = res.set_axis(part.index)
        if part is s:
            return res
        # fill back on an object copy: a reindexed int64 result would
        # turn float64 and lose every value past 2**53; the NaN that
        # reindex fills becomes None, NULL in every column
        res = res.astype(object).reindex(s.index)
        res.loc[~keep] = None
        return res

    return F.pandas_udf(batch, return_type)(col)


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
