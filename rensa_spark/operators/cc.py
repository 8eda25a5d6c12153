"""Connected components over the verified duplicate-pair graph.

The reference's README dedup recipe (/root/reference/README.md:100-122) is a
greedy "keep min id per verified pair" loop; its transitive closure is
exactly connected components with min-id labels. Implemented as the
alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) as iterative DataFrame passes
— O(log n) rounds, each star one ``min over Window.partitionBy(src)`` (one
exchange, no join back), with per-round localCheckpoint to truncate lineage
(SURVEY.md §7 hard part 4).

Output: (key, cluster_id) where cluster_id = min key of the component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach every strictly-larger neighbor to
    min(N(u) ∪ {u}). The result may repeat an edge (at most one row per
    input edge direction): its only consumer, :func:`_small_star`, takes a
    min and a distinct over it, so a distinct here would only add an
    exchange."""
    nbrs = _symmetrize(edges).withColumn(
        "min_nbr", F.min("dst").over(Window.partitionBy("src"))
    )
    m = F.least(F.col("src"), F.col("min_nbr"))
    return (
        nbrs.filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach u and all smaller-or-equal neighbors to the
    minimum of that set."""
    nbrs = (
        _symmetrize(edges)
        .filter(F.col("dst") <= F.col("src"))
        .withColumn("min_nbr", F.min("dst").over(Window.partitionBy("src")))
    )
    # the neighbors (dst) and u itself (src) all attach to min_nbr
    return (
        nbrs.select(
            F.explode(F.array("dst", "src")).alias("src"),
            F.col("min_nbr").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "a",
    dst_col: str = "b",
    max_iterations: int = 25,
) -> DataFrame:
    """(a, b) undirected edges -> (key, cluster_id=min of component).

    Isolated nodes are not emitted; callers left-join and coalesce
    (cluster_id := own key) for singleton semantics.

    Each round is ONE eager checkpoint: the round fingerprint
    (edge count, bit_xor of per-edge xxhash64 — a cheap probabilistic
    set-equality) rides along as an Observation on that same job, so a
    round costs no separate aggregate, and an empty input stops after its
    first (empty) round without a probe of its own.
    """
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    prev_fp = None
    for _ in range(max_iterations):
        obs = Observation()
        edges = (
            _small_star(_large_star(edges))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        fp = (obs.get["n"], obs.get["h"])
        # converged when the edge set is stable round-over-round (it is then
        # a star forest rooted at component minima — fixpoint of both stars)
        if fp[0] == 0 or fp == prev_fp:
            break
        prev_fp = fp

    return edges.select(F.col("src").alias("key"), F.col("dst").alias("cluster_id"))


def survivors(
    clusters: DataFrame, all_keys: DataFrame, key_col: str = "key"
) -> DataFrame:
    """(key, cluster_id, is_survivor): survivor = min key per cluster;
    singletons survive trivially (README.md:120 'remove max, keep min')."""
    labeled = (
        all_keys.select(F.col(key_col).alias("key"))
        .join(clusters, "key", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("key")))
    )
    return labeled.withColumn(
        "is_survivor", F.col("key") == F.col("cluster_id")
    )
