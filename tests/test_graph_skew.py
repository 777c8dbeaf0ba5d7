"""Connected components / dedup clustering, PSI drift, and key-skew
diagnostics."""

import math

import pytest
from pyspark.sql import functions as F

from validr_spark.operators.graph import (
    connected_components, dedup_by_components, dedup_clusters)
from validr_spark.operators.drift import psi
from validr_spark.operators.skew import (
    heavy_hitters, key_skew_report, suggest_salt)


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

def _cc_map(edges_df):
    return {r["id"]: r["component"]
            for r in edges_df.collect()}


def test_cc_chain_and_clique(spark):
    # chain 1-2-3-4 plus clique {10,11,12} plus isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long")
    got = _cc_map(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cc_isolated_nodes_and_direction(spark):
    # edges given in arbitrary direction; node 99 isolated via nodes=
    edges = spark.createDataFrame([(5, 3), (3, 7)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(99,), (5,)], "doc_id long")
    got = _cc_map(connected_components(edges, nodes=nodes))
    assert got == {3: 3, 5: 3, 7: 3, 99: 99}


def test_cc_long_chain_converges(spark):
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")
    got = _cc_map(connected_components(edges, max_iter=n + 2))
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_cc_max_iter_guard(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=2)


def test_dedup_clusters_only_groups(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a long, id_b long")
    rows = {r["component"]: (r["n_members"], r["member_ids"])
            for r in dedup_clusters(edges).collect()}
    assert rows == {1: (3, [1, 2, 3]), 8: (2, [8, 9])}


def test_dedup_by_components_keeps_min_member(spark):
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 5)], "id_a long, id_b long")
    kept = sorted(r["doc_id"]
                  for r in dedup_by_components(df, pairs).collect())
    # component {1,4,5} -> keep 1; 0,2,3 untouched
    assert kept == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# PSI
# ---------------------------------------------------------------------------

def test_psi_identical_is_zero(spark):
    a = spark.range(1000).select((F.col("id") % 100).alias("x"))
    r = psi(a, a, "x", bins=10).first()
    assert abs(r["psi"]) < 1e-12
    assert r["n_bins"] == 10


def test_psi_shift_detected_and_reference_binning(spark):
    ref = spark.range(10_000).select((F.col("id") % 100).alias("x"))
    # new sample concentrated in the top decile of the reference range
    new = spark.range(10_000).select((90 + F.col("id") % 10).alias("x"))
    r = psi(ref, new, "x", bins=10).first()
    # 9 bins went 0.1 -> eps, 1 bin went 0.1 -> 1.0: PSI is large
    assert r["psi"] > 1.0


def test_psi_matches_hand_computation(spark):
    # ref uniform over 2 bins, new 75/25: closed-form PSI
    ref = spark.createDataFrame([(0.0,), (1.0,), (2.0,), (3.0,)], "x double")
    # bin width = 1.5 over [0,3]: 0, 1, 1.4 -> bin0; 3.0 -> bin1
    new = spark.createDataFrame([(0.0,), (1.0,), (1.4,), (3.0,)], "x double")
    got = psi(ref, new, "x", bins=2).first()["psi"]
    p, q = [0.5, 0.5], [0.75, 0.25]
    want = sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))
    assert got == pytest.approx(want, rel=1e-9)


def test_psi_out_of_range_clamps_to_edge_bins(spark):
    ref = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    new = spark.createDataFrame([(-100.0,), (100.0,)], "x double")
    r = psi(ref, new, "x", bins=5).first()
    assert r["psi"] > 0  # clamped mass lands in bins 0 and 4, shifts shares
    assert r["n_bins"] == 5


# ---------------------------------------------------------------------------
# skew
# ---------------------------------------------------------------------------

def test_key_skew_report_and_heavy_hitters(spark):
    rows = [("hot",)] * 80 + [("a",)] * 10 + [("b",)] * 9 + [(None,)] * 1
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_report(df, "k").first()
    assert r["n_rows"] == 100 and r["n_keys"] == 4
    assert r["max_count"] == 80 and r["null_rows"] == 1
    assert r["top1_share"] == 0.8
    assert r["skew_factor"] == pytest.approx(80 / 25.0)

    hh = heavy_hitters(df, "k", k=2).collect()
    assert [(h["key"], h["n"]) for h in hh] == [("hot", 80), ("a", 10)]
    assert hh[0]["share"] == 0.8


def test_suggest_salt(spark):
    df = spark.createDataFrame([("hot",)] * 1000 + [("a",)] * 3, "k string")
    assert suggest_salt(df, "k", target_rows_per_task=100) == 10
    assert suggest_salt(df, "k", target_rows_per_task=10_000) == 1


# ---------------------------------------------------------------------------
# plan shapes (scale contracts)
# ---------------------------------------------------------------------------

def test_heavy_hitters_plan_is_topk_not_global_sort(spark):
    df = spark.range(10_000).select((F.col("id") % 100).alias("k"))
    plan = (heavy_hitters(df, "k", 10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_psi_plan_has_partial_aggregation(spark):
    a = spark.range(10_000).select((F.col("id") % 50).alias("x"))
    plan = (psi(a, a, "x", bins=10)
            ._jdf.queryExecution().executedPlan().toString())
    # bin counting must partial-aggregate map-side: HashAggregate appears
    # below the exchange (partial_count) — shuffle carries <= bins rows
    assert "partial_count" in plan
    # the range lookup reaches rows via broadcast; any merge join may only
    # be on the tiny post-aggregation bin tables, never on the raw column
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin [x" not in plan


def test_skew_report_plan_partial_agg(spark):
    df = spark.range(10_000).select((F.col("id") % 7).alias("k"))
    plan = (key_skew_report(df, "k")
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in plan
    assert "Exchange SinglePartition" in plan  # only the one-row summary


# ---------------------------------------------------------------------------
# large-star/small-star variant (O(log n) rounds)
# ---------------------------------------------------------------------------

def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labelling
    out = {}
    for n in nodes:
        r = find(n)
        out.setdefault(r, []).append(n)
    return {n: min(mem) for r, mem in out.items() for n in mem}


def test_cc_differential_vs_union_find(spark):
    import random
    rnd = random.Random(42)
    for trial in range(4):
        n = 60
        m = rnd.randint(20, 80)
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        want = _union_find_components(edges, range(n))
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        # max_iter=n: enough rounds for any graph on n nodes
        got = _cc_map(connected_components(e, nodes=nodes, max_iter=n))
        assert got == want, f"trial {trial}"


def test_salted_join_matches_plain_join(spark):
    from validr_spark.operators.skew import salted_join
    # hot key 'h' dominates the left side
    left = spark.createDataFrame(
        [(i, "h" if i % 10 else f"k{i}") for i in range(200)],
        "row_id long, key string")
    right = spark.createDataFrame(
        [("h", 1), ("k0", 2), ("k30", 3), ("absent", 4)],
        "key string, val int")
    for how in ("inner", "left"):
        plain = sorted((r["row_id"], r["val"]) for r in
                       left.join(right, "key", how).collect())
        salted = sorted((r["row_id"], r["val"]) for r in
                        salted_join(left, right, "key", salt=7,
                                    how=how).collect())
        assert salted == plain, how
    # column order/shape matches the plain join
    assert salted_join(left, right, "key", salt=3).columns \
        == left.join(right, "key").columns


def test_salted_join_spreads_hot_key(spark):
    from validr_spark.operators.skew import salted_join
    import pyspark.sql.functions as F
    left = spark.createDataFrame(
        [(i, "h") for i in range(500)], "row_id long, key string")
    right = spark.createDataFrame([("h", 1)], "key string, val int")
    s = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                        F.lit(8)).cast("int"))
    n_buckets = s.select("_salt").distinct().count()
    assert n_buckets >= 6          # hot key really spreads over salts
    assert salted_join(left, right, "key", salt=8).count() == 500


def test_salted_join_rejects_bad_args(spark):
    from validr_spark.operators.skew import salted_join
    import pytest
    df = spark.createDataFrame([(1, "a")], "row_id long, key string")
    with pytest.raises(ValueError):
        salted_join(df, df, "key", salt=0)
    with pytest.raises(ValueError):
        salted_join(df, df, "key", salt=2, how="right")


def test_dedup_by_components_keep_by_quality(spark):
    from validr_spark.operators.graph import dedup_by_components
    df = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5), (9, 1)],
        "doc_id long, quality int")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long")   # {1,2,3} one component
    # default: min id survives
    kept = sorted(r["doc_id"] for r in
                  dedup_by_components(df, pairs).collect())
    assert kept == [1, 7, 9]
    # keep_by: highest quality (doc 2) survives; isolated rows untouched
    kept_q = sorted(r["doc_id"] for r in dedup_by_components(
        df, pairs, keep_by=F.col("quality")).collect())
    assert kept_q == [2, 7, 9]


def test_dedup_by_components_keep_by_tie_breaks_to_min_id(spark):
    from validr_spark.operators.graph import dedup_by_components
    df = spark.createDataFrame([(5, 7), (6, 7)], "doc_id long, quality int")
    pairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    kept = [r["doc_id"] for r in dedup_by_components(
        df, pairs, keep_by=F.col("quality")).collect()]
    assert kept == [5]


def test_join_fanout_report_hand_math(spark):
    from validr_spark.operators.skew import join_fanout_report
    left = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [(None,)] * 5 + [("c",)],
        "k string")
    right = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 1 + [(None,)] * 2,
        "k string")
    rows = {r["key"]: r for r in join_fanout_report(left, right, "k").collect()}
    # nulls never match; 'c' has no right-side rows
    assert set(rows) == {"a", "b"}
    assert (rows["a"]["n_left"], rows["a"]["n_right"],
            rows["a"]["out_rows"]) == (3, 4, 12)
    assert rows["b"]["out_rows"] == 2
    assert abs(rows["a"]["out_share"] - 12 / 14) < 1e-6


def test_join_fanout_matches_actual_join(spark):
    import random
    from validr_spark.operators.skew import join_fanout_report
    rng = random.Random(7)
    left = spark.createDataFrame(
        [(rng.randint(0, 9),) for _ in range(200)], "k long")
    right = spark.createDataFrame(
        [(rng.randint(0, 9),) for _ in range(100)], "k long")
    est = {r["key"]: r["out_rows"]
           for r in join_fanout_report(left, right, "k", k=100).collect()}
    actual = {r["k"]: r["cnt"] for r in
              left.join(right, "k").groupBy("k")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert est == actual


def test_psi_quantile_identical_is_zero(spark):
    from validr_spark.operators.drift import psi_quantile
    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    r = psi_quantile(df, df, "v", bins=5, exact=True).collect()[0]
    assert abs(r["psi"]) < 1e-9 and r["n_bins"] == 5


def test_psi_quantile_hand_math(spark):
    import math
    from validr_spark.operators.drift import psi_quantile
    ref = spark.createDataFrame([(float(i),) for i in range(1, 11)],
                                "v double")
    new = spark.createDataFrame([(10.0,)] * 10, "v double")
    r = psi_quantile(ref, new, "v", bins=2, exact=True).collect()[0]
    # edge = median of 1..10 = 5.5; ref splits 5/5, new all in bin 1
    eps = 1e-6
    expect = ((0.5 - eps) * math.log(0.5 / eps)
              + (0.5 - 1.0) * math.log(0.5 / 1.0))
    assert abs(r["psi"] - expect) < 1e-9


def test_psi_quantile_beats_equal_width_on_heavy_tail(spark):
    # 99% of mass at ~0 plus one huge outlier: equal-width packs
    # everything into bin 0 and goes numb; equal-frequency still sees
    # the shift within the body.
    from validr_spark.operators.drift import psi, psi_quantile
    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)] + [(1e9,)], "v double")
    new = spark.createDataFrame(
        [(float(i % 100) + 50,) for i in range(1000)] + [(1e9,)],
        "v double")
    wide = psi(ref, new, "v", bins=10).collect()[0]["psi"]
    freq = psi_quantile(ref, new, "v", bins=10, exact=True).collect()[0]["psi"]
    assert freq > 10 * max(wide, 1e-12)


def test_drift_report_matches_standalone_ops(spark):
    from validr_spark.operators.drift import (drift_report, jsd,
                                              psi_quantile, wasserstein1)
    ref = spark.createDataFrame(
        [(float(i), "a" if i % 3 else "b") for i in range(60)],
        "v double, c string")
    new = spark.createDataFrame(
        [(float(i) + 5, "a" if i % 2 else "c") for i in range(40)],
        "v double, c string")
    rep = {r["column"]: r
           for r in drift_report(ref, new, numeric_cols=["v"],
                                 cat_cols=["c"]).collect()}
    assert set(rep) == {"v", "c"}
    w1 = wasserstein1(ref, new, "v").collect()[0]["w1"]
    assert abs(rep["v"]["w1"] - w1) < 1e-9
    ps = psi_quantile(ref, new, "v").collect()[0]["psi"]
    assert abs(rep["v"]["psi"] - round(ps, 6)) < 2e-6
    jd = jsd(ref, new, "c").collect()[0]["jsd"]
    assert abs(rep["c"]["jsd"] - round(jd, 6)) < 2e-6
    assert rep["c"]["ks"] is None and rep["v"]["jsd"] is None
    assert (rep["v"]["n_ref"], rep["v"]["n_new"]) == (60, 40)


def test_psi_by_group_matches_standalone(spark):
    from validr_spark.operators.drift import psi, psi_by_group
    ref = spark.createDataFrame(
        [("a", float(i)) for i in range(100)]
        + [("b", float(i * 2)) for i in range(80)]
        + [("c", 5.0)] * 10,                 # ref-only group
        "g string, v double")
    new = spark.createDataFrame(
        [("a", float(i) + 20) for i in range(50)]
        + [("b", float(i * 2)) for i in range(80)],
        "g string, v double")
    got = {r["g"]: r for r in psi_by_group(ref, new, "v", "g").collect()}
    for grp in ("a", "b"):
        solo = psi(ref.filter(F.col("g") == grp),
                   new.filter(F.col("g") == grp), "v").collect()[0]["psi"]
        assert abs(got[grp]["psi"] - round(solo, 6)) < 2e-6, grp
    assert abs(got["b"]["psi"]) < 1e-9        # identical dist
    assert got["c"]["psi"] is None            # no new rows: no statement
    assert got["c"]["n_new_rows"] == 0
    # new-only groups (no reference range) surface with NULL psi and
    # n_ref_rows=0 — a brand-new source is the loudest drift signal and
    # must not vanish from the monitor (ADVICE.md round-2 finding)
    extra = new.unionByName(
        spark.createDataFrame([("z", 1.0), ("z", 2.0)],
                              "g string, v double"))
    got2 = {r["g"]: r for r in
            psi_by_group(ref, extra, "v", "g").collect()}
    assert got2["z"]["psi"] is None
    assert got2["z"]["n_ref_rows"] == 0
    assert got2["z"]["n_new_rows"] == 2
    # and the two-sided groups are unchanged by the union-back path
    for grp in ("a", "b"):
        assert got2[grp]["psi"] == got[grp]["psi"]


def test_psi_empty_side_yields_null_not_error(spark):
    # review finding: plain / threw DIVIDE_BY_ZERO under ANSI and killed
    # the whole job (incl. any drift_report containing the column)
    from validr_spark.operators.drift import drift_report, psi, psi_quantile
    ref = spark.createDataFrame([(float(i),) for i in range(20)], "v double")
    empty = spark.createDataFrame([], "v double")
    assert psi(ref, empty, "v").collect()[0]["psi"] is None
    assert psi_quantile(ref, empty, "v").collect()[0]["psi"] is None
    rep = drift_report(ref, empty, numeric_cols=["v"]).collect()[0]
    assert rep["psi"] is None and rep["n_new"] == 0


def test_psi_by_group_null_group_is_real_group(spark):
    """NULL group keys are a real group, not a join casualty: without
    null-safe (struct-wrapped) keys the USING joins dropped the NULL
    group from the main result and the anti-join misreported it as
    brand-new even when the reference contains NULL-group rows
    (review finding, round 3)."""
    from validr_spark.operators.drift import psi, psi_by_group
    ref = spark.createDataFrame(
        [(None, float(i)) for i in range(60)]
        + [("a", float(i)) for i in range(40)],
        "g string, v double")
    new = spark.createDataFrame(
        [(None, float(i) + 30) for i in range(50)]
        + [("a", float(i)) for i in range(40)],
        "g string, v double")
    got = {r["g"]: r for r in psi_by_group(ref, new, "v", "g").collect()}
    assert set(got) == {None, "a"}
    # the NULL group is two-sided: real psi, real ref counts
    assert got[None]["n_ref_rows"] == 60
    assert got[None]["n_new_rows"] == 50
    solo = psi(ref.filter(F.col("g").isNull()),
               new.filter(F.col("g").isNull()), "v").collect()[0]["psi"]
    assert abs(got[None]["psi"] - round(solo, 6)) < 2e-6
    # and it is NOT duplicated by the new-only union-back path
    assert sum(1 for r in psi_by_group(ref, new, "v", "g").collect()
               if r["g"] is None) == 1
