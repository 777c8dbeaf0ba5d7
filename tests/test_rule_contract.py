"""The contract between a compiled rule and the containers that scan it.

The list rule finds a row's first bad element with ``invalid`` and, when
set, screens the whole array with ``array_invalid``; it builds a
violation struct only for the element they point at.  That is exact only
if, on every value:

* ``invalid(c)`` is true exactly when ``error(c, pos)`` is non-NULL, and
* ``array_invalid(a)`` equals ``exists(a, invalid)``.

Both are checked row by row on rules built through ``compile_node``,
wrappers included, with one DataFrame per input type.
"""

import math

from pyspark.sql import functions as F

from validr_spark import T
from validr_spark.compiler import SparkCompiler

INT32 = 2 ** 31 - 1

# input DDL -> (values, schemas compiled for that input type)
CASES = {
    "int": (
        [None, -5, -1, 0, 3, 9, 10, INT32, -INT32 - 1],
        [T.int, T.int.min(0).max(9), T.int.min(-INT32 - 1).max(INT32),
         T.int.min(0).optional, T.int.max(5).default(1),
         T.int.min(0).invalid_to(0), T.int.min(0).default(2)
         .invalid_to_default,
         T.str, T.enum([1, 2, "x"]),
         T.union([T.int.min(0).max(9), T.list(T.int)])]),
    "string": (
        [None, "", " 7 ", "x", "-1", "12", "3.5", "abc", "a" * 20],
        [T.int.min(0).max(9), T.int.optional, T.int.default(3),
         T.int.invalid_to(0),
         T.str.minlen(1).maxlen(5), T.str.optional, T.str.match("[a-z]+"),
         T.nstr, T.enum(["x", "abc"]), T.enum([1, "x"]).optional,
         T.union([T.str.maxlen(3), T.list(T.str)])]),
    "double": (
        [None, 0.0, -0.5, 3.7, 9.99, 10.0, math.nan, math.inf, -math.inf,
         1e300],
        [T.int.min(0).max(9), T.int.min(0).optional,
         T.int.max(5).invalid_to(0), T.float.min(0), T.enum([1, 2.5])]),
    "array<int>": (
        [None, [], [1, 2], [1, 1], [0, None], [None], [-1], [10],
         [1, 2, 3, 4, 5, 6], [3, 4, 5, 6, 7, 3]],
        [T.list(T.int.min(0).max(9)).maxlen(4).unique,
         T.list(T.int.min(0)).minlen(1), T.list(T.int.optional).unique,
         T.list(T.int.min(0)).optional,
         T.list(T.int.min(0).default(0)),
         T.union([T.int, T.list(T.int.min(0).max(9)).maxlen(4).unique]),
         T.list(T.union([T.int.min(0).max(9), T.list(T.int)]))]),
    "array<string>": (
        [None, [], ["1", "2"], ["1", ""], ["x"], [None], ["1", "1"]],
        [T.list(T.int.min(0)).unique, T.list(T.str.maxlen(1)).maxlen(1),
         T.union([T.str, T.list(T.int.min(0))])]),
    "map<string,string>": (
        [None, {}, {"a": "3"}, {"a": "12"}, {"toolong": "1"},
         {"a": "1", "b": "2", "c": "3"}, {"a": None}],
        [T.dict.key(T.str.maxlen(2)).value(T.int.min(0).max(9)).maxlen(2),
         T.dict.value(T.int.optional).minlen(1),
         T.dict.value(T.str).optional]),
}

# element rules with a whole-array screen over array<int>: int bounds
# within int64, probed below, above or (no probe fits) not at all
SCREENED = [T.int.min(0).max(2 ** 63 - 1), T.int.min(0).max(9),
            T.int.min(-INT32 - 1).max(9), T.int.min(-INT32 - 1).max(INT32),
            T.union([T.int.min(0).max(9), T.list(T.int)])]


def _df(spark, ddl, values):
    return spark.createDataFrame(list(enumerate(values)),
                                 f"rid int, c {ddl}")


def test_invalid_iff_error(spark):
    sc = SparkCompiler()
    for ddl, (values, schemas) in CASES.items():
        df = _df(spark, ddl, values)
        c, in_t = F.col("c"), df.schema["c"].dataType
        cols = []
        for k, s in enumerate(schemas):
            node = sc.compile_node(s.__schema__, in_t, "c")
            assert node.invalid is not None, (ddl, s)
            cols += [node.invalid(c).alias(f"i{k}"),
                     node.error(c, F.lit("c")).isNotNull().alias(f"e{k}")]
        for r in df.select("c", *cols).collect():
            for k, s in enumerate(schemas):
                assert r[f"i{k}"] is not None, (ddl, s, r["c"])
                assert r[f"i{k}"] == r[f"e{k}"], (ddl, s, r["c"])


def test_array_invalid_is_exists_invalid(spark):
    values, _ = CASES["array<int>"]
    df = _df(spark, "array<int>", values)
    a, et = F.col("c"), df.schema["c"].dataType.elementType
    sc = SparkCompiler()
    cols = []
    for k, s in enumerate(SCREENED):
        node = sc.compile_node(s.__schema__, et, "c[]")
        assert node.array_invalid is not None, s
        cols += [node.array_invalid(a).alias(f"s{k}"),
                 F.exists(a, node.invalid).alias(f"x{k}")]
    # a NULL array is never scanned: the list rule tests `c IS NULL` first
    rows = df.filter(a.isNotNull()).select("c", *cols).collect()
    assert len(rows) == len(values) - 1
    for r in rows:
        for k, s in enumerate(SCREENED):
            assert r[f"s{k}"] is not None, (s, r["c"])
            assert r[f"s{k}"] == r[f"x{k}"], (s, r["c"])
