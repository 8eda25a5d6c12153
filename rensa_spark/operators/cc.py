"""Connected components over the verified duplicate-pair graph.

The reference's README dedup recipe (/root/reference/README.md:100-122) is a
greedy "keep min id per verified pair" loop; its transitive closure is
exactly connected components with min-id labels. Implemented as a local
contraction (Łącki et al., "Connected Components at Scale via Local
Contractions", 2018):

1. the edges are hash-partitioned on ``src`` (AQE coalesces a small edge set
   into ONE partition) and each partition runs a numpy union-find — min-label
   hooking plus pointer jumping over keys factorized in sorted order — that
   emits a star ``(node, local min)`` per non-minimum node; one eager
   ``localCheckpoint`` carries the ``(count, bit_xor(xxhash64))`` edge-set
   fingerprint as an Observation;
2. if that ran as one partition, the task saw every edge: its stars ARE the
   components and no further job runs;
3. otherwise the union of the per-partition stars (same components as the
   input) is finished by alternating large-star / small-star rounds
   (Kiveris et al., "Connected Components in MapReduce and Beyond",
   SoCC'14): each star one ``min over Window.partitionBy(src)``, each round
   one eager checkpoint carrying the same fingerprint, stopping when it
   repeats (the first round compares against the contraction's).

Output: (key, cluster_id) where cluster_id = min key of the component.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _min_label_forest(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """parent[i] = the smallest node of i's component, for nodes 0..n-1 and
    undirected edges (u[j], v[j]).

    Min-label hooking: every edge between two different roots hooks the
    larger root under the smaller, so parent[i] <= i always holds and the
    root of each tree is its minimum. Pointer jumping then flattens every
    tree to a star, the edges are relabelled to their roots, and edges
    inside one tree drop out; each round removes at least one root."""
    parent = np.arange(n)
    while len(u):
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
        u, v = parent[u], parent[v]
        crossing = u != v
        u, v = u[crossing], v[crossing]
    return parent


def _local_stars(batches):
    """mapInPandas body: the min-label stars of ONE partition's edges.
    Keys are factorized in sorted order, so the smallest index is the
    smallest key (for strings too: Python compares code points, the same
    order as Spark's UTF-8 byte order)."""
    import pandas as pd

    src, dst = [], []
    for pdf in batches:
        src.append(pdf["src"].to_numpy())
        dst.append(pdf["dst"].to_numpy())
    m = sum(len(s) for s in src)
    if not m:
        return
    keys, idx = np.unique(np.concatenate(src + dst), return_inverse=True)
    parent = _min_label_forest(idx[:m], idx[m:], len(keys))
    moved = np.nonzero(parent != np.arange(len(keys)))[0]
    yield pd.DataFrame({"src": keys[moved], "dst": keys[parent[moved]]})


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


def _checkpoint_with_fingerprint(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """Materialize ``edges`` in ONE eager checkpoint job; the edge-set
    fingerprint (edge count, bit_xor of per-edge xxhash64 — a cheap
    probabilistic set-equality) rides along as an Observation on that job."""
    obs = Observation()
    edges = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ).localCheckpoint(eager=True)
    return edges, (obs.get["n"], obs.get["h"])


def connected_components(
    pairs: DataFrame,
    src_col: str = "a",
    dst_col: str = "b",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(a, b) undirected edges -> (key, cluster_id=min of component).

    Isolated nodes and component minima are not emitted; callers left-join
    and coalesce (cluster_id := own key) for singleton semantics.
    Self-loops and edges with a null endpoint are ignored.

    Runs Spark jobs when called: the local contraction (see the module
    docstring), then star rounds only if the contraction ran as more than
    one partition, at most ``max_iterations`` of them. Which way it goes
    is decided from the data at call time and frozen into the returned
    DataFrame, a checkpoint.

    ``stats``: if given, filled with ``contraction_partitions``,
    ``star_edges`` (rows the contraction emitted) and ``star_rounds``
    (0 when the contraction was exact) — read from the checkpoints'
    Observations and partition count, so it costs no job.
    """
    edges = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # one key type for both columns: a star's endpoints come from either
    key_type = edges.select(F.least("src", "dst")).schema[0].dataType
    edges = edges.select(
        F.col("src").cast(key_type), F.col("dst").cast(key_type)
    ).filter(F.col("src") != F.col("dst"))  # JVM-side: no self-loops, no nulls
    edges, fp = _checkpoint_with_fingerprint(
        edges.repartition("src").mapInPandas(_local_stars, edges.schema)
    )
    n_parts = edges.rdd.getNumPartitions()
    star_edges, rounds = fp[0], 0
    if n_parts > 1 and star_edges:
        # per-partition stars: finish across partitions. A contraction that
        # already was a global star forest repeats its fingerprint here and
        # stops after one round.
        while rounds < max_iterations:
            prev_fp = fp
            edges, fp = _checkpoint_with_fingerprint(
                _small_star(_large_star(edges))
            )
            rounds += 1
            # converged when the edge set is stable round-over-round (it is
            # then a star forest rooted at component minima — fixpoint of
            # both stars)
            if fp[0] == 0 or fp == prev_fp:
                break
    if stats is not None:
        stats.update(
            contraction_partitions=n_parts, star_edges=star_edges, star_rounds=rounds
        )
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
