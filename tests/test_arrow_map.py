"""The one pandas-UDF helper, ``operators/_barrier.arrow_map``: its NULL
handling, and a source scan that keeps every Python-per-row operator on
it."""
import ast
import pathlib

import pandas as pd
from pyspark.sql import functions as F

from validr_spark.operators._barrier import arrow_map

PKG = pathlib.Path(__file__).resolve().parent.parent / "validr_spark"


def _names(src: str) -> set[str]:
    """The identifiers ``src`` uses as code: names, attributes and
    imports, never the words of its docstrings and comments."""
    out = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def test_pandas_udf_only_in_the_helper():
    """A second batch loop or barrier flag would bring back the per-site
    NULL checks, empty-batch guards and clones the helper removed."""
    used = {p.relative_to(PKG).as_posix(): _names(p.read_text())
            for p in PKG.rglob("*.py")}
    assert sorted(p for p, ns in used.items() if "pandas_udf" in ns) == \
        ["operators/_barrier.py"]
    assert sorted(p for p, ns in used.items()
                  if "asNondeterministic" in ns) == []


BIG = (1 << 62) + 1


def test_arrow_map_nulls(spark):
    df = spark.createDataFrame(
        [(1, "ab", 1.0), (2, None, float("nan")), (3, "", None)],
        "id long, s string, x double").coalesce(1)   # one batch
    s, x = F.col("s"), F.col("x")

    def never(v):
        raise AssertionError(f"fn called on {list(v)}")

    got = df.select(
        "id",
        # object batch: fn sees the non-NULL values only
        arrow_map(lambda v: v.str.len(), "int", s).alias("n"),
        arrow_map(lambda v: v.str.split("b"), "array<string>", s)
        .alias("parts"),
        arrow_map(lambda v: pd.DataFrame({"n": v.str.len(),
                                          "up": v.str.upper()}),
                  "struct<n:int, up:string>", s).alias("st"),
        # an all-NULL batch never calls fn
        arrow_map(never, "string", F.when(F.lit(False), s)).alias("none"),
        # numeric batch: NULL and NaN both reach fn, as NaN
        arrow_map(lambda v: v.isna(), "boolean", x).alias("nan"),
        # a long past 2**53 filled back next to a NULL row stays exact
        arrow_map(lambda v: v.str.len() + BIG, "long", s).alias("big"),
        arrow_map(lambda v: pd.DataFrame({"big": v.str.len() + BIG}),
                  "struct<big:long>", s).alias("st_big"),
    ).orderBy("id").collect()
    assert [r["n"] for r in got] == [2, None, 0]
    assert [r["parts"] for r in got] == [["a", ""], None, [""]]
    assert [tuple(r["st"]) for r in got] == [(2, "AB"), (None, None),
                                             (0, "")]
    assert [r["none"] for r in got] == [None, None, None]
    assert [r["nan"] for r in got] == [False, True, True]
    assert [r["big"] for r in got] == [BIG + 2, None, BIG]
    assert [r["st_big"]["big"] for r in got] == [BIG + 2, None, BIG]


def test_simhash_exact_next_to_null(spark):
    """A NULL text in the batch must not round the other rows'
    fingerprints through float64."""
    from validr_spark.operators.dedup import simhash
    text = "the quick brown fox jumps over the lazy dog"
    alone = spark.createDataFrame([(1, text)], "doc_id long, text string")
    mixed = spark.createDataFrame([(1, text), (2, None)],
                                  "doc_id long, text string").coalesce(1)
    a = simhash(alone).collect()[0]["simhash"]
    got = {r["doc_id"]: r["simhash"] for r in simhash(mixed).collect()}
    assert abs(a) >= 1 << 53          # a value float64 cannot hold
    assert got == {1: a, 2: 0}
