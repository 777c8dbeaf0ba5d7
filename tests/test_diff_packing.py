"""table_diff / diff_summary and pack_greedy / packing_stats."""
import pytest
from pyspark.sql import functions as F

from validr_spark.operators.diff import diff_summary, table_diff
from validr_spark.operators.packing import pack_greedy, packing_stats


# --- diff --------------------------------------------------------------------

@pytest.fixture()
def versions(spark):
    a = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "z", 30), (4, None, 40)],
        "k long, s string, v long")
    b = spark.createDataFrame(
        [(2, "y", 20),            # same
         (3, "z2", 30),           # changed s
         (4, None, 41),           # changed v (null-safe s compare)
         (5, "new", 50)],         # added
        "k long, s string, v long")
    return a, b


def test_table_diff_statuses(spark, versions):
    a, b = versions
    d = {r["k"]: r for r in table_diff(a, b, ["k"]).collect()}
    assert d[1]["status"] == "removed"
    assert d[2]["status"] == "same" and list(d[2]["changed_cols"]) == []
    assert d[3]["status"] == "changed"
    assert list(d[3]["changed_cols"]) == ["s"]
    assert d[4]["status"] == "changed"
    assert list(d[4]["changed_cols"]) == ["v"]
    assert d[5]["status"] == "added"


def test_diff_summary_counts(spark, versions):
    a, b = versions
    row = diff_summary(a, b, ["k"]).first()
    assert (row["n_added"], row["n_removed"],
            row["n_changed"], row["n_same"]) == (1, 1, 2, 1)


def test_diff_compare_subset(spark, versions):
    a, b = versions
    d = {r["k"]: r["status"]
         for r in table_diff(a, b, ["k"], compare_cols=["v"]).collect()}
    assert d[3] == "same"            # s changed but only v compared
    assert d[4] == "changed"


def test_diff_identical_tables(spark, versions):
    a, _ = versions
    row = diff_summary(a, a, ["k"]).first()
    assert row["n_same"] == 4 and row["n_changed"] == 0
    assert row["n_added"] == 0 and row["n_removed"] == 0


@pytest.mark.parametrize("compare_cols", [None, []])
def test_diff_without_value_columns(spark, versions, compare_cols):
    """Key-only tables, or nothing to compare: no row can change, and
    ``changed_cols`` is a typed empty array on every row."""
    from pyspark.sql import types as st

    a, b = versions
    if compare_cols is None:
        a, b = a.select("k"), b.select("k")
    d = table_diff(a, b, ["k"], compare_cols=compare_cols)
    assert d.schema["changed_cols"].dataType.elementType == st.StringType()
    got = {r["k"]: (r["status"], list(r["changed_cols"]))
           for r in d.collect()}
    assert got == {1: ("removed", []), 2: ("same", []), 3: ("same", []),
                   4: ("same", []), 5: ("added", [])}


def test_diff_changed_cols_in_column_order(spark):
    """Every differing column is listed, in compared-column order — the
    ``filter(array(flags), x -> x IS NOT NULL)`` the diff used before."""
    a = spark.createDataFrame([(1, "x", 1, 1.0), (2, "y", 2, 2.0)],
                              "k long, s string, v long, w double")
    b = spark.createDataFrame([(1, "x2", 1, 3.0), (2, None, 3, None)],
                              "k long, s string, v long, w double")
    d = {r["k"]: list(r["changed_cols"])
         for r in table_diff(a, b, ["k"]).collect()}
    assert d == {1: ["s", "w"], 2: ["s", "v", "w"]}


# --- packing -----------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    rows = [(f"d{i:04d}", 10 + (i * 37) % 900) for i in range(500)]
    rows += [("huge1", 5000), ("huge2", 99999)]
    return spark.createDataFrame(rows, "doc_id string, n_tok long")


def test_no_bin_overflows(spark, docs):
    packed = pack_greedy(docs, max_tokens=1024, num_shards=8)
    per_bin = (packed.filter(~F.col("truncated"))
               .groupBy("bin_id").agg(F.sum("n_tok").alias("tok")))
    assert per_bin.filter(F.col("tok") > 1024).count() == 0


def test_every_doc_assigned_exactly_once(spark, docs):
    packed = pack_greedy(docs, max_tokens=1024, num_shards=8)
    assert packed.count() == docs.count()
    assert packed.select("id").distinct().count() == docs.count()


def test_oversized_docs_flagged_not_dropped(spark, docs):
    packed = pack_greedy(docs, max_tokens=1024, num_shards=8)
    t = {r["id"]: r for r in packed.filter("truncated").collect()}
    assert set(t) == {"huge1", "huge2"}
    # each oversized doc is alone in its bin
    bins = packed.groupBy("bin_id").count()
    for r in t.values():
        n = bins.filter(F.col("bin_id") == r["bin_id"]).first()["count"]
        assert n == 1


def test_packing_deterministic(spark, docs):
    p1 = pack_greedy(docs, max_tokens=1024, num_shards=8).collect()
    p2 = pack_greedy(docs.orderBy(F.rand(7)), max_tokens=1024,
                     num_shards=8).collect()
    assert {(r["id"], r["bin_id"]) for r in p1} == \
           {(r["id"], r["bin_id"]) for r in p2}


def test_utilization_reasonable(spark, docs):
    packed = pack_greedy(docs, max_tokens=1024, num_shards=8)
    row = packing_stats(packed, 1024).first()
    assert row["n_truncated"] == 2
    assert row["n_docs"] == 502
    # FFD within shards: waste should be modest on mixed lengths
    assert row["utilization"] > 0.7


def test_utilization_zero_when_all_truncated(spark):
    """All-truncated corpus: utilization must be 0.0, not NULL (the
    0-denominator division would surface as a null dataset-card metric)."""
    df = spark.createDataFrame([(f"d{i}", 5000) for i in range(4)],
                               "doc_id string, n_tok long")
    row = packing_stats(pack_greedy(df, max_tokens=1024), 1024).first()
    assert row["n_truncated"] == 4
    assert row["utilization"] == 0.0


def test_pack_greedy_shard_col_null_raises(spark):
    df = spark.createDataFrame(
        [("a", 10, 0), ("b", 20, None)],
        "doc_id string, n_tok long, sh int")
    with pytest.raises(Exception, match="contains NULL"):
        pack_greedy(df, max_tokens=64, shard_col="sh",
                    num_shards=4).collect()


def test_pack_greedy_shard_col_out_of_range_raises(spark):
    df = spark.createDataFrame(
        [("a", 10, 0), ("b", 20, 7)],
        "doc_id string, n_tok long, sh int")
    with pytest.raises(Exception, match="outside"):
        pack_greedy(df, max_tokens=64, shard_col="sh",
                    num_shards=4).collect()


# --- token-balanced shards (repartition_by_tokens) --------------------------

def test_repartition_by_tokens_bounds_outlier(spark):
    """One 100x-token outlier doc: every other partition's token total
    stays within 2x of the target."""
    small = spark.range(400).select(
        F.col("id").alias("doc_id"), F.lit(64).alias("n_tok"))
    big = spark.createDataFrame([(9999, 6400)], "doc_id long, n_tok int")
    df = small.unionByName(big.select("doc_id", F.col("n_tok").cast("int"))
                           if small.schema["n_tok"].dataType.simpleString()
                           == "int" else big)
    from validr_spark.operators.packing import repartition_by_tokens
    out = repartition_by_tokens(df, target_tokens=4096)
    sizes = (out.withColumn("_p", F.spark_partition_id())
             .groupBy("_p").agg(F.sum("n_tok").alias("t")).collect())
    rest = [r["t"] for r in sizes if r["t"] < 6400]
    assert len(rest) >= 2
    assert max(rest) <= 2 * 4096
    assert out.count() == 401


def test_repartition_by_tokens_deterministic(spark):
    """Row set is lossless and every partition respects the token bound
    regardless of input partitioning.  (Physical partition ids are NOT
    compared: repartitionByRange samples its boundaries, so only the
    bucket assignment — hence the bound — is the determinism contract.)"""
    from validr_spark.operators.packing import repartition_by_tokens
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id"), F.lit(50)) + 1).cast("int").alias("n_tok"))
    a = repartition_by_tokens(df, 512)
    b = repartition_by_tokens(df.repartition(7), 512)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    for out in (a, b):
        sizes = (out.withColumn("_p", F.spark_partition_id())
                 .groupBy("_p").agg(F.sum("n_tok").alias("t")).collect())
        # bound: target + one row, x2 for a rare sampled-boundary merge
        assert max(r["t"] for r in sizes) <= 2 * (512 + 50)


def test_packing_arg_validation(spark):
    from validr_spark.operators.packing import (repartition_by_tokens,
                                                take_grouped_budgets,
                                                take_weight_budget)
    df = spark.createDataFrame([(1, "a", 2)],
                               "doc_id long, source string, n_tok int")
    with pytest.raises(ValueError, match="target must be positive"):
        repartition_by_tokens(df, 0)
    with pytest.raises(ValueError, match="budget must be"):
        take_weight_budget(df, -1, F.col("n_tok"))
    with pytest.raises(TypeError, match="keys must be strings"):
        take_grouped_budgets(df, {1: 100}, F.col("n_tok"))


# --- budgeted corpus cut (take_token_budget) --------------------------------

def _expected_budget_ids(rows, budget, seed="42"):
    import hashlib
    order = sorted(rows, key=lambda r: (hashlib.md5(
        f"{seed}|{r[0]}".encode()).hexdigest(), r[0]))
    out, cum = [], 0
    for i, t in order:
        cum += t
        if cum > budget:
            break
        out.append(i)
    return sorted(out)


def test_take_token_budget_exact_maximal_prefix(spark):
    from validr_spark.operators.packing import take_token_budget
    rows = [(i, 10 + (i * 7) % 90) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    kept = take_token_budget(df, budget_tokens=5000)
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == _expected_budget_ids(rows, 5000)
    tot = kept.agg(F.sum("n_tok")).first()[0]
    assert tot <= 5000


def test_take_token_budget_partitioning_invariant(spark):
    from validr_spark.operators.packing import take_token_budget
    rows = [(i, 10 + (i * 7) % 90) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    a = sorted(r["doc_id"] for r in take_token_budget(df, 5000).collect())
    b = sorted(r["doc_id"] for r in
               take_token_budget(df.repartition(7), 5000).collect())
    assert a == b


def test_take_token_budget_monotone_under_growth(spark):
    """Adding rows only shrinks the old selection from its hash-order
    tail: old survivors of the grown corpus are a subset of the old
    selection."""
    from validr_spark.operators.packing import take_token_budget
    old_rows = [(i, 10 + (i * 7) % 90) for i in range(200)]
    new_rows = old_rows + [(1000 + i, 25) for i in range(100)]
    old = spark.createDataFrame(old_rows, "doc_id long, n_tok int")
    new = spark.createDataFrame(new_rows, "doc_id long, n_tok int")
    kept_old = {r["doc_id"] for r in take_token_budget(old, 4000).collect()}
    kept_new = {r["doc_id"] for r in take_token_budget(new, 4000).collect()}
    assert (kept_new & set(i for i, _ in old_rows)) <= kept_old


def test_take_grouped_budgets_matches_per_group_cut(spark):
    from validr_spark.operators.packing import (take_grouped_budgets,
                                                take_weight_budget)
    rows = [(i, f"s{i % 3}", 10 + (i * 7) % 90) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    budgets = {"s0": 1500, "s1": 800}          # s2 dropped entirely
    got = take_grouped_budgets(df, budgets, F.col("n_tok"))
    by_src = {}
    for r in got.collect():
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert set(by_src) <= {"s0", "s1"}
    for src, b in budgets.items():
        solo = take_weight_budget(df.filter(F.col("source") == src), b,
                                  F.col("n_tok"))
        assert by_src.get(src, set()) == {r["doc_id"]
                                          for r in solo.collect()}
    # budgets respected
    sums = {r["source"]: r["t"] for r in
            got.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()}
    assert all(sums[s] <= budgets[s] for s in sums)


def test_take_grouped_budgets_nonstring_group_column(spark):
    """Offset-map keys must use SPARK's string rendering: a boolean
    group column ('true'/'false') used to key the driver map with
    Python's str() ('True') and silently return zero rows."""
    from validr_spark.operators.packing import take_grouped_budgets
    rows = [(i, i % 2 == 0, 10) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, flag boolean, n_tok int")
    got = take_grouped_budgets(df, {"true": 50, "false": 30},
                               F.col("n_tok"), group_col="flag")
    by = {}
    for r in got.collect():
        by.setdefault(r["flag"], []).append(r["doc_id"])
    assert len(by.get(True, [])) == 5      # 50 tokens / 10 per row
    assert len(by.get(False, [])) == 3


def test_take_grouped_budgets_null_group_distinct_from_literal(spark):
    """NULL group values must not collide with any real string key."""
    from validr_spark.operators.packing import take_grouped_budgets
    rows = [(1, None, 10), (2, "x", 10), (3, "x", 10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    got = take_grouped_budgets(df, {"x": 20}, F.col("n_tok"))
    assert {r["doc_id"] for r in got.collect()} == {2, 3}


def test_take_grouped_budgets_empty_budgets_raises(spark):
    import pytest as _pytest
    from validr_spark.operators.packing import take_grouped_budgets
    df = spark.createDataFrame([(1, "a", 2)],
                               "doc_id long, source string, n_tok int")
    with _pytest.raises(ValueError, match="non-empty"):
        take_grouped_budgets(df, {}, F.col("n_tok"))
