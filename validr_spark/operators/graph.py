"""Connected components over candidate-duplicate pairs — the step that
turns pairwise near-dup hits (minhash/simhash/embedding buckets) into
deduplication GROUPS, so "keep one per group" is well-defined even when
duplicates chain (A~B, B~C but A!~C).

Algorithm: iterative min-label propagation.  Every node starts
labelled with itself; each round, a node adopts the minimum label among
itself and its neighbours; stop when no label changes.  Rounds = graph
diameter — near-dup clusters are star/clique-shaped (tiny diameter), so
2-4 rounds in practice, and each round is the cheapest possible (one
join + one groupBy-min).  A chain-shaped graph needs ``max_iter``
above its length; with fewer rounds the call raises instead of
returning partial labels.  Differentially verified against a union-find oracle
on random graphs (tests/test_graph_skew.py).

Each round checkpoints (`localCheckpoint` truncates the plan so lineage
doesn't grow O(iterations)).

Scale: state per round is one (node, label) row per node and the edge
list — both partitioned by node id, never collected to the driver.  The
convergence check is a count() per round (cheap Jacobi-style stopping
test on an aggregated frame).

No counterpart in guyskk/validr (single-value validation only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dedup_clusters", "dedup_by_components"]


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         nodes: DataFrame | None = None,
                         max_iter: int = 25) -> DataFrame:
    """(id, component) for every node; component = min node id reachable.

    ``edges`` is an undirected pair list (each pair listed once is fine —
    both directions are added internally).  ``nodes`` optionally supplies
    isolated nodes (single-column DF); they come back with
    component = their own id.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v"))).distinct()
    und = und.localCheckpoint(eager=True)

    lab = und.select(F.col("u").alias("id")).distinct()
    if nodes is not None:
        extra = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
        lab = lab.unionByName(extra).distinct()
    lab = lab.select("id", F.col("id").alias("component")) \
             .localCheckpoint(eager=True)

    for _ in range(max_iter):
        # each node offers its label to every neighbour; adopt the min
        offers = (und.join(lab, und["u"] == lab["id"], "inner")
                  .select(F.col("v").alias("id"),
                          F.col("component").alias("cand")))
        new_lab = (lab.unionByName(
                       offers.withColumnRenamed("cand", "component"))
                   .groupBy("id")
                   .agg(F.min("component").alias("component"))
                   .localCheckpoint(eager=True))
        changed = (new_lab.alias("n")
                   .join(lab.alias("o"), "id")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .count())
        lab = new_lab
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(long-chain graph?); raise max_iter")
    return lab


def dedup_clusters(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
                   max_iter: int = 25) -> DataFrame:
    """Duplicate groups from a near-dup pair list: (component, n_members,
    member_ids ≤16 sample).  Only nodes that appear in some pair are
    returned (isolated docs are by definition not duplicates)."""
    from pyspark.sql import Window

    cc = connected_components(pairs, src, dst, max_iter=max_iter)
    # bound the sample BEFORE aggregating: a hot component (boilerplate /
    # empty docs — exactly what dedup finds) would otherwise collect its
    # entire id set into one reducer buffer before the slice (same fix
    # as exact_duplicates in operators/dedup.py).
    w = Window.partitionBy("component").orderBy("id")
    ranked = cc.withColumn("_rn", F.row_number().over(w))
    return (ranked.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("_rn") <= 16, F.col("id"))))
                 .alias("member_ids"))
            .filter(F.col("n_members") > 1))


def dedup_by_components(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        src: str = "id_a", dst: str = "id_b",
                        max_iter: int = 25,
                        keep_by=None) -> DataFrame:
    """Keep one row per duplicate component, all non-duplicate rows
    untouched.

    Default survivor = the min-id member: ONE pass over the corpus, a
    single left join against the (tiny) component map — broadcast under
    AQE thresholds — keeping rows that are either absent from the map or
    are their component's min member.

    ``keep_by`` (a Column, e.g. a quality score): keep the
    HIGHEST-scoring member of each component instead (ties → min id).
    This needs the score, so the component members (and only they —
    never the non-duplicate majority) go through one extra window keyed
    by component; component counts are near-dup cluster sizes, so the
    window partitions are tiny."""
    from pyspark.sql import Window

    cc = connected_components(pairs, src, dst, max_iter=max_iter)
    if keep_by is None:
        keep = cc.select(F.col("id").alias("_cc_id"),
                         (F.col("id") == F.col("component")).alias("_keep"))
        return (df.join(keep, df[id_col] == keep["_cc_id"], "left")
                .filter(F.col("_keep").isNull() | F.col("_keep"))
                .drop("_cc_id", "_keep"))
    comp = cc.select(F.col("id").alias("_cc_id"), "component")
    joined = df.join(comp, df[id_col] == comp["_cc_id"], "left")
    iso = joined.filter(F.col("component").isNull())
    dup = joined.filter(F.col("component").isNotNull())
    w = Window.partitionBy("component").orderBy(
        F.desc_nulls_last(keep_by), F.col(id_col))
    survivors = (dup.withColumn("_rk", F.row_number().over(w))
                 .filter(F.col("_rk") == 1).drop("_rk"))
    return iso.unionByName(survivors).drop("_cc_id", "component")
