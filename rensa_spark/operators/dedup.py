"""End-to-end dedup pipelines composing sketch -> bands -> flags/pairs ->
clusters, plus the order-dependent add-if-unique emulation.

Three duplicate definitions coexist in the reference (SURVEY.md §2.5 note);
all three are implemented here:

1. one-shot band-collision flags (benchmark metric) -> ``dup_flags``
2. sequential add-if-unique (RMinHashDeduplicator) -> ``add_if_unique``
3. pairwise verify + min-id clustering (README recipe, generalized to
   connected components per the north rule) -> ``dedup_clusters``
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rensa_spark.config import RensaConfig
from rensa_spark.functions.udfs import rho_sketch_udf, rminhash_sig_bands_udf
from rensa_spark.operators.cc import connected_components, survivors


def sketch_rminhash(df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str) -> DataFrame:
    """Add `sig` and `bands` columns, both from ONE fused UDF: banding is a
    pure function of the signature, so one shingle+MinHash pass feeds both."""
    sb = rminhash_sig_bands_udf(cfg)
    return (
        df.withColumn("_sb", sb(F.col(text_col)))
        .withColumn("bands", F.col("_sb.bands"))
        .withColumn("sig", F.col("_sb.sig"))
        .drop("_sb")
    )


def sketch_rho(df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str) -> DataFrame:
    sk = rho_sketch_udf(cfg)
    return df.withColumn("_rho", sk(F.col(text_col))).select("*", "_rho.*").drop("_rho")


def dup_flags(df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str) -> DataFrame:
    """Flagship: one-shot duplicate flags over R-MinHash bands
    (= query_duplicate_flags_matrix_one_shot fast path on a matrix built
    from word-{ngram}-shingled text, the reference benchmark's accuracy
    metric, benchmarks/full_benchmark.py:542-547). Fused mapInPandas sketch
    -> pre-exploded band rows -> window bucket count -> per-key max."""
    from rensa_spark.operators.lsh import one_shot_flags_from_bands
    from rensa_spark.operators.sketch import rminhash_band_rows

    return one_shot_flags_from_bands(
        rminhash_band_rows(df, cfg, key_col, text_col),
        keys=df.select(
            F.col(key_col).alias("key"), F.lit(cfg.num_bands).alias("n_bands")
        ),
    )


# buckets up to this many members verify every pair in one task
EXACT_TASK_CAP = 8192


def verified_pairs_from_band_rows(
    band_rows: DataFrame,
    sigs: DataFrame,
    cfg: RensaConfig,
    capped_metrics="rensa_capped_buckets",
    exact_task_cap: int = EXACT_TASK_CAP,
) -> DataFrame:
    """Candidate pairs from band co-membership, verified by signature-slot
    jaccard >= threshold (README.md:100-122 recipe), from (key, band_idx,
    band_hash) rows + a (key, sig) table, as (a < b, sim) rows, in ONE walk
    over the buckets (:func:`rensa_spark.operators.lsh.verified_bucket_pairs`):
    a signature travels once per member band row — never twice per
    candidate pair — and no candidate pair crosses a shuffle.

    Buckets with <= ``max(cfg.hot_bucket_cap, exact_task_cap)`` members
    verify every pair (exact). Larger buckets verify hub edges plus a ring
    over members sorted by (signature, key): a heuristic subgraph, exact for
    families whose similarity is transitive along the signature order.

    ``capped_metrics``: CollectMetrics over the bucket sizes emitting
    ``capped_buckets`` (buckets over ``cfg.hot_bucket_cap``),
    ``heuristic_buckets`` (buckets over ``max(cfg.hot_bucket_cap,
    exact_task_cap)``, the only regime with approximate results) and
    ``max_bucket_size``; a name, a ``pyspark.sql.Observation`` or None, as
    for :func:`rensa_spark.operators.lsh.bucket_sizes`."""
    from rensa_spark.operators.lsh import verified_bucket_pairs

    exact_cap = max(cfg.hot_bucket_cap, exact_task_cap)
    return verified_bucket_pairs(
        band_rows, sigs, cfg.hot_bucket_cap, exact_cap, cfg.threshold, capped_metrics
    )


def collapse_identical(
    sketched: DataFrame, order: str, value: str = "sig"
) -> tuple[DataFrame, DataFrame]:
    """The one identical-value collapse of every near-duplicate lane, before
    any candidate join: (key, ``value``, ...) rows -> (members: every row
    with its group's representative ``rep`` and size ``cnt``;
    representatives: the input columns and ``cnt``). ``value`` is ``sig``
    for the MinHash and SimHash lanes, the quantized vector ``vq`` for ANN.

    Rows with an IDENTICAL value are unconditionally duplicates (equal-slot
    fraction 1.0 with every band shared; hamming 0; a cosine that is a
    function of the value), so each group collapses to its first member by
    ``(order, key)`` (the min key with ``order="key"``) and the
    O(cluster^2) candidate work runs only over representatives; exact, and
    on dup-heavy corpora it removes the quadratic blowup of exact-duplicate
    clusters (7.6M -> ~100k verified pairs on the 200k benchmark corpus).
    :func:`expand_identical` turns pairs of groups back into member pairs.

    ONE window over the value partitioning brings ``rep`` and ``cnt``: one
    exchange, no array-keyed join. Its lazy checkpoint feeds every consumer
    without re-running the shuffle; it is lazy only in name under AQE:
    building it runs the sketch and the window's shuffle-map stage as one
    Spark job, and the window runs in the first job that reads it.

    Both results hold the checkpointed plan (``_pin``; callers that build
    on them pass it on): the first readers of the checkpoint run its
    lineage, whose SQL metrics belong to that plan and are registered
    weakly, so once one reader's job had checkpointed the rows and the
    plan was freed, a concurrent reader's task would report to freed
    metrics (``non-existent accumulator`` ERROR lines)."""
    from pyspark.sql import Window

    w = Window.partitionBy(value)
    pre = sketched.withColumn(
        "rep", F.min_by("key", F.struct(order, "key")).over(w)
    ).withColumn("cnt", F.count(F.lit(1)).over(w))
    members = pre.localCheckpoint(eager=False)
    reps = members.filter(F.col("key") == F.col("rep")).drop("rep")
    members._pin = reps._pin = pre
    return members, reps


def expand_identical(
    group_pairs: DataFrame, members: DataFrame, group: str, score: str, expand_salts: int
) -> DataFrame:
    """Member pairs (a < b, ``score``) of :func:`collapse_identical`
    ``members``: every member pair of two groups that ``group_pairs`` (a,
    b, ``score``) pairs by their ``group`` column (the value or ``rep``),
    under that pair's score; and every pair within a group, under the
    members' ``score`` column (null: no such pair qualifies). The within
    score is a member column copied through the join, computed once per
    member row.

    The within-group pairs are output-sized, so each group's are salted
    over ``min(cnt, expand_salts)`` reducers (DS2 skew salting): left rows
    keyed by hash(key) mod that domain, right rows replicated once per
    salt, so each unordered pair matches exactly once. The result holds
    the collapse's plan (``_pin``)."""
    multi = members.filter((F.col("cnt") >= 2) & F.col(score).isNotNull())
    s_g = F.least(F.col("cnt"), F.lit(expand_salts)).cast("long")
    left = multi.select(
        group,
        F.col("key").alias("a"),
        F.pmod(F.xxhash64("key"), s_g).cast("int").alias("salt"),
        score,
    )
    right = multi.select(
        group,
        F.col("key").alias("b"),
        F.explode(F.sequence(F.lit(0), (s_g - 1).cast("int"))).alias("salt"),
    )
    # a shuffle join: only the (group, salt) exchange spreads a group over
    # its salts. A broadcast join, which the narrow checkpointed rows invite,
    # expands each group in the one checkpoint partition holding it (9.3s
    # vs 4.6s on synthetic_simhash_hot_50k, 4 cores)
    within = (
        left.join(right.hint("merge"), [group, "salt"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", score)
    )
    ma = members.select(F.col(group).alias("a"), F.col("key").alias("ka"))
    mb = members.select(F.col(group).alias("b"), F.col("key").alias("kb"))
    cross = (
        group_pairs.join(ma, "a")
        .join(mb, "b")
        .select(F.least("ka", "kb").alias("a"), F.greatest("ka", "kb").alias("b"), score)
    )
    pairs = within.unionByName(cross)
    pairs._pin = members._pin
    return pairs


def dedup_edges(
    sk: DataFrame, cfg: RensaConfig, capped_metrics="rensa_capped_buckets"
) -> DataFrame:
    """Duplicate-graph edges (a, b) from a (key, sig, bands) sketch:
    identical-signature collapse (:func:`collapse_identical`), verified
    pairs among the representatives' own exploded bands
    (:func:`verified_pairs_from_band_rows`), and the trivial (rep, member)
    edges. The collapse's lazy checkpoint is the sketch's only reader, so
    the shingle+MinHash UDF runs once per row with no checkpoint of its
    own; building it runs one Spark job under AQE (see
    :func:`collapse_identical`), and the result holds its plan. Every
    MinHash duplicate graph comes from here: :func:`dedup_clusters`,
    :func:`multimodal_dedup_edges` and the pipeline's ``pairs`` stage."""
    from rensa_spark.operators.lsh import explode_bands

    members, reps = collapse_identical(sk.select("key", "sig", "bands"), "key")
    rep_pairs = verified_pairs_from_band_rows(
        explode_bands(reps, "key"), reps, cfg, capped_metrics=capped_metrics
    )
    trivial = members.filter(F.col("key") != F.col("rep")).select(
        F.col("rep").alias("a"), F.col("key").alias("b")
    )
    edges = trivial.unionByName(rep_pairs.select("a", "b"))
    edges._pin = reps._pin
    return edges


def dedup_clusters(
    df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str
) -> DataFrame:
    """(key, cluster_id, is_survivor) — verified-pair connected components
    with min-key survivor selection.

    The sketch is read once, by :func:`dedup_edges`' identical-signature
    collapse. Runs Spark jobs when called: under AQE the collapse's lazy
    checkpoint runs the sketch and the collapse's shuffle as soon as it is
    built, and :func:`connected_components` runs the rest of the edges and
    labels them. The survivor pass reads only the key column from the
    source again (pruned scan)."""
    base = df.select(F.col(key_col).alias("key"), F.col(text_col).alias("text"))
    edges = dedup_edges(sketch_rminhash(base, cfg, "key", "text"), cfg)
    clusters = connected_components(edges)  # eager: materializes edges
    return survivors(clusters, base.select("key"))


def multimodal_dedup_clusters(
    df: DataFrame,
    cfg: RensaConfig,
    key_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str = "phash",
) -> DataFrame:
    """Image+caption dedup (north rule: "captions shingled into k-grams and
    images keyed by phash"): duplicate edges are the UNION of
    - exact pixel duplicates: equal ``phash`` (the pre-hashed single-token
      key per SURVEY §2.6 image-keying row), and
    - caption near-duplicates: verified MinHash pairs,
    clustered together by connected components; survivor = min key.
    The hot path touches only (key, caption, phash) — never image bytes."""
    edges = multimodal_dedup_edges(df, cfg, key_col, caption_col, phash_col)
    clusters = connected_components(edges)  # eager: materializes edges
    return survivors(clusters, df.select(F.col(key_col).alias("key")))


def multimodal_dedup_edges(
    df: DataFrame,
    cfg: RensaConfig,
    key_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str = "phash",
) -> DataFrame:
    """The duplicate-edge set of :func:`multimodal_dedup_clusters`
    (equal-phash ∪ verified caption pairs), exposed so the plan-shape test
    can assert the hot path never scans image bytes. Not lazy: building it
    runs the caption collapse's Spark job (:func:`dedup_edges`), so the
    returned plan reads the captions from that checkpoint and shows only
    the phash side's scans unexecuted."""
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(caption_col).alias("text"),
        F.col(phash_col).alias("phash"),
    )
    caption_edges = dedup_edges(sketch_rminhash(base, cfg, "key", "text"), cfg)
    phash_reps = base.groupBy("phash").agg(F.min("key").alias("rep"))
    phash_edges = (
        base.join(phash_reps, "phash")
        .filter(F.col("key") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("key").alias("b"))
    )
    edges = caption_edges.unionByName(phash_edges)
    edges._pin = caption_edges._pin
    return edges


def add_if_unique(
    df: DataFrame,
    cfg: RensaConfig,
    key_col: str,
    text_col: str,
    order_col: str | None = None,
    use_lsh: bool = True,
    brute_force_max_rows: int = 100_000,
) -> DataFrame:
    """Batch emulation of RMinHashDeduplicator.add_pairs with use_lsh=True
    (src/inline_dedup/rminhash.rs:233-299): process rows in ``order_col``
    order; keep a row iff no *earlier kept* row shares >=1 LSH band AND has
    signature jaccard >= threshold.

    Exact equivalence argument: a kept item's bands enter the index exactly
    once and never change, so "LSH candidate at add time" == static band
    co-membership with an earlier kept row. kept(i) is therefore the
    lexicographically-greedy maximal independent set of the DAG of verified
    conflict edges (j -> i for j earlier). The edges are labelled with
    their connected component, and the sorted-run walk
    (:func:`rensa_spark.operators.lsh.sorted_run_walk`, grouped by
    component) decides every component whole with the numpy kernel
    :func:`rensa_spark.kernels.greedy.greedy_kept` (see its docstring for
    the round rule). Rows with no conflict edge are kept.

    Identical signatures collapse first (:func:`collapse_identical`) to
    their first member by (order, key), and only these representatives are
    verified and walked; every other member is a duplicate. This is exact:
    a member has the same signature and bands as its group's first member,
    so whatever earlier kept row blocks the first member blocks it too; if
    the first member is kept, it blocks the member itself; and a row that is
    never kept blocks no one. (A min-key representative would not do: it
    can come after a row that the first member blocks.)

    ``use_lsh=False`` is CMinHashDeduplicator's brute force
    (src/inline_dedup/cminhash.rs:165-242): every representative goes into
    one bucket whose exact cap is ``brute_force_max_rows``, so every pair is
    verified; larger inputs raise ``ValueError`` before any verify runs.

    Runs Spark jobs when called. Under AQE the two lazy checkpoints run
    every shuffle stage under them as soon as they are built: the
    collapse's (the sketch and the collapse's shuffle) and the conflict
    edges' (the verify and its walk); then :func:`connected_components`
    runs its contraction (plus star rounds when the edges span more than
    one partition), and with ``use_lsh=False`` the row count of the
    brute-force guard runs first. The greedy walk itself runs when the
    result is read.

    Returns (key, kept boolean).
    """
    order_col = order_col or key_col
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(order_col).alias("ord"),
        F.col(text_col).alias("text"),
    )
    sk = sketch_rminhash(base, cfg, "key", "text").select("key", "ord", "sig", "bands")
    return _greedy_kept(base.select("key", "ord"), sk, None, cfg, use_lsh, brute_force_max_rows)


def _greedy_kept(
    base: DataFrame,
    sk: DataFrame,
    earlier: tuple[DataFrame, DataFrame] | None,
    cfg: RensaConfig,
    use_lsh: bool = True,
    brute_force_max_rows: int = 100_000,
) -> DataFrame:
    """:func:`add_if_unique` from (key, ord) rows and their (key, ord, sig,
    bands) sketch. The identical-signature collapse is the sketch's only
    reader (its lazy checkpoint feeds the verify and the result), so the
    shingle+MinHash UDF runs once per row with no checkpoint of its own;
    the edge orientation and the result read ``base``, which never
    touches the sketch.

    ``earlier``: None, or kept rows ordered before all of ``base`` (a
    stream's state) as (key, band_idx, band_hash) rows and a (key, sig)
    table, no key in ``base``. Their band rows join the verify; an edge
    with one end among them starts there, and pairs with both ends among
    them are dropped. With no incoming edge they are all kept, so a row of
    ``base`` is a duplicate exactly when an earlier kept row, from either
    side, shares a bucket with it and passes the verify. That holds while
    no bucket, state and batch rows together, has more than
    ``max(cfg.hot_bucket_cap, EXACT_TASK_CAP)`` members: a larger bucket
    gets the verify's hub+ring heuristic, which can miss a pair. The
    verify here observes no bucket metrics (``capped_metrics=None``):
    nothing reads them, so no metric counts such buckets."""
    from rensa_spark.kernels.greedy import greedy_kept
    from rensa_spark.operators.lsh import explode_bands, sorted_run_walk

    members, reps = collapse_identical(sk, "ord")
    if use_lsh:
        band_rows, exact_task_cap = explode_bands(reps, "key"), EXACT_TASK_CAP
    else:
        # the guard must fire before the O(n^2) verify is ever scheduled
        n_rows = base.count()
        if n_rows > brute_force_max_rows:
            raise ValueError(
                f"add_if_unique(use_lsh=False) verifies every pair "
                f"(CMinHashDeduplicator API parity); input has "
                f"{n_rows} rows > brute_force_max_rows="
                f"{brute_force_max_rows}. Use use_lsh=True (the banded-LSH "
                f"path) at scale, or raise brute_force_max_rows explicitly."
            )
        band_rows = reps.select(
            "key", F.lit(0).alias("band_idx"), F.lit(0).cast("long").alias("band_hash")
        )
        exact_task_cap = brute_force_max_rows
    sigs = reps.select("key", "sig")
    if earlier is not None:
        band_rows = band_rows.unionByName(earlier[0])
        sigs = sigs.unionByName(earlier[1])
    # a < b by key; re-orient by ord, earlier kept rows first
    pairs = verified_pairs_from_band_rows(
        band_rows, sigs, cfg, capped_metrics=None, exact_task_cap=exact_task_cap
    )

    def ends(col):  # an end outside base has a null in_{col}
        return base.select(
            F.col("key").alias(col),
            F.col("ord").alias(f"ord_{col}"),
            F.lit(True).alias(f"in_{col}"),
        )

    a_first = F.col("in_a").isNull() | (
        F.col("in_b").isNotNull() & (F.col("ord_a") <= F.col("ord_b"))
    )
    edges = (
        pairs.join(ends("a"), "a", "left")
        .join(ends("b"), "b", "left")
        # a pair of two earlier rows goes, so earlier rows stay kept
        .filter(F.col("in_a").isNotNull() | F.col("in_b").isNotNull())
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("early"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("late"),
        )
    ).localCheckpoint(eager=False)  # read by the labelling and by the walk
    labels = connected_components(edges, "early", "late")
    # component minima are not labelled: an unlabelled early end is its
    # component's minimum, so it names the component itself
    by_component = edges.join(
        labels.withColumnRenamed("key", "early"), "early", "left"
    ).select(F.coalesce("cluster_id", "early").alias("comp"), "early", "late")

    def decide(early, late, bounds):
        # components share no node: one call decides every whole component
        nodes, idx = np.unique(np.concatenate([early, late]), return_inverse=True)
        kept = greedy_kept(idx[: len(early)], idx[len(early) :], len(nodes))
        return pd.DataFrame({"key": nodes, "kept": kept})

    key_type = base.schema["key"].dataType.simpleString()
    decided = sorted_run_walk(
        by_component,
        ["comp"],
        lambda pdf: (pdf["early"].to_numpy(), pdf["late"].to_numpy()),
        decide,
        f"key {key_type}, kept boolean",
    ).unionByName(
        members.filter(F.col("key") != F.col("rep")).select("key", F.lit(False).alias("kept"))
    )
    return (
        base.select("key")
        .join(decided, "key", "left")
        .select("key", F.coalesce("kept", F.lit(True)).alias("kept"))
    )


def exact_dup_flags(
    df: DataFrame, key_col: str, text_col: str, verify: bool = True
) -> DataFrame:
    """Exact dedup by full-text equality: (key, is_dup, group_size,
    is_survivor) where the survivor is the min key of each text group.

    Scale shape: the aggregation and join key is ``(xxhash64(text),
    length(text))`` — 16 bytes/row through both exchanges — never the
    document body. Equal text implies equal (hash, length), so groups are a
    refinement-free superset keying: a false merge needs a 64-bit xxhash
    collision at identical length. With ``verify=True`` (default) a second
    independent 64-bit hash (different seed column prepended) joins the
    grouping key, so a false merge additionally needs a simultaneous
    collision of both hashes (~2^-128 per pair) while a hash-split can never
    create a false dup (splitting a group only turns dups into non-dups,
    and only under a same-length double-collision). This is the standard
    production exact-dedup keying; grouping by the raw text would move the
    full corpus through two shuffles at 100 TB.
    """
    gcols = ["_xh", "_len"] + (["_xh2"] if verify else [])
    keyed = df.select(
        F.col(key_col),
        F.xxhash64(text_col).alias("_xh"),
        F.length(text_col).alias("_len"),
        *(
            [F.xxhash64(F.lit("rensa-exact-v2"), text_col).alias("_xh2")]
            if verify
            else []
        ),
    )
    w_cnt = keyed.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("group_size"), F.min(key_col).alias("keep")
    )
    return keyed.join(w_cnt, gcols).select(
        F.col(key_col).alias("key"),
        (F.col("group_size") >= 2).alias("is_dup"),
        "group_size",
        (F.col(key_col) == F.col("keep")).alias("is_survivor"),
    )
