"""Distributed LSH banding + one-shot duplicate flagging.

Reproduces ``RMinHashLSH.query_duplicate_flags_matrix_one_shot``
(/root/reference/src/lsh/one_shot.rs) as pure DataFrame algebra:

- fast path (non-rho matrices — the reference benchmark path,
  benchmarks/full_benchmark.py:542-547): a row is flagged iff it shares at
  least one band hash with another row (one_shot.rs:294-332). Order-
  insensitive, so the hash-map scan becomes groupBy(band_idx, band_hash) +
  bucket-size>=2 + semi-join. The ONE shuffle is keyed by (band_idx,
  band_hash); partial aggregation (map-side combine) makes hot bands cheap
  because only counts move, never member lists.

- refined rho path (one_shot.rs:78-185): sparse rows (non_empty below the
  occupancy threshold) need >=2 band matches and pass an 8-slot verify
  signature check against up to 16 candidates in row order; rows with zero
  folded-band matches and 17..=96 tokens get a second chance over unfolded
  bands (>=2 matches). The row-order candidate cap means only the first 17
  bucket members (by row id) can influence any decision, so buckets are
  never fully materialized: non-sparse members are decided by bucket size
  alone, and only buckets containing sparse members ship their first 17
  members through a window + collect.

Skew note (north rule): degenerate content (e.g. thousands of empty
captions) makes one giant band bucket. The default flag path aggregates
bucket sizes with map-side partial counts (only counts move) and decides
membership through a SALTED semi-join, spreading the hot bucket's rows over
n_salts reducers — no single-task window sort anywhere on the flag path
(round-3 change). The sparse-member rho path bounds work per bucket at 17
members via a WindowGroupLimit; AQE skew-join splitting covers the
remaining joins.

Pairs: every bucket walk of the package is :func:`sorted_run_walk` (a
shuffle on ``xxhash64`` of the group keys, a sort within partitions, one
``mapInPandas`` over whole runs). The MinHash pair verify
(:func:`verified_bucket_pairs`) and the candidate set
(:func:`candidate_pairs_from_band_rows`, the same verify over a constant
signature) walk band buckets with it; ``add_if_unique``'s conflict
components and the ANN top-k and pair scans walk their own groups.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rensa_spark.config import RensaConfig

# suffix source for per-call default CollectMetrics names (see
# observe_metrics)
_METRICS_SEQ = itertools.count()


def explode_bands(df: DataFrame, key_col: str, bands_col: str = "bands") -> DataFrame:
    return df.select(
        F.col(key_col).alias("key"),
        F.posexplode(bands_col).alias("band_idx", "band_hash"),
    )


def one_shot_flags_from_bands(bands: DataFrame, keys: DataFrame) -> DataFrame:
    """(key, band_idx, band_hash) rows -> (key, is_dup).

    is_dup(key) <=> exists band b where >=2 rows share key's band-b hash
    (src/lsh/one_shot.rs:294-332 with empty index).

    Skew-proof single-pass shape (round-2 verdict ask #3): a key is NOT a
    duplicate iff every one of its band rows sits in a SINGLETON bucket,
    and a singleton bucket's ``min(key)`` is exactly its one member — so
    one groupBy(band_idx, band_hash) aggregating (count, min(key)) carries
    everything. Both aggregates combine map-side: a degenerate bucket (e.g.
    100k empty captions sharing every band hash) collapses to one
    (count, min) row per map partition before the shuffle — no member list,
    no window, no straggler task anywhere (a window count puts each bucket
    in one sort partition; a dup-bucket join-back variant measured ~40%
    worse at 200k rows — it scans the band rows twice). ``min`` over a
    string key has no HashAggregate form, so Spark plans a SortAggregate
    with a partition-local Sort on each side of this exchange: one over
    each map partition's band rows, one over each reduce partition's
    already-combined (count, min) rows. The second exchange, after the
    union below, is fed by a map-side-combining HashAggregate. Band
    rows are consumed EXACTLY ONCE, so the upstream sketch UDF needs no
    checkpoint/persist.

    ``keys``: (key, n_bands) — one row per key with its band-row count;
    flags are then keys.n_bands minus the key's singleton count.

    CONTRACT: ``n_bands`` must equal the EXACT number of band rows emitted
    per key. The R-MinHash and C-MinHash band rows (operators/sketch.py,
    ``rminhash_sig_bands_udf``) carry ``cfg.num_bands``; only the Rho path
    folds, and its effective bands number ``cfg.num_bands // fold``
    (``cfg.effective_band_fold``). Overstating it (e.g. cfg.num_bands
    against folded Rho rows) makes sum(inc) < max(n_bands) vacuously true
    and flags every key a duplicate.
    """
    stats = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size"), F.min("key").alias("only_member")
    )
    singleton_rows = stats.filter(F.col("bucket_size") == 1).select(
        F.col("only_member").alias("key"),
        F.lit(1).alias("inc"),
        F.lit(None).cast("long").alias("n_bands"),
    )
    # seed every key with an inc=0 row carrying its n_bands: the union
    # aggregates in ONE exchange (no join, no sort) and covers keys whose
    # bands all collided (zero singleton rows)
    seed_rows = keys.select(
        "key", F.lit(0).alias("inc"), F.col("n_bands").cast("long")
    )
    return (
        singleton_rows.unionByName(seed_rows)
        .groupBy("key")
        .agg((F.sum("inc") < F.max("n_bands")).alias("is_dup"))
    )


def _sparse_verify_match_col(my_sig, cand_sig, thr: float):
    """Pure-JVM sparse-verify decision for one (member, candidate) pair:
    missing signature on either side passes (one_shot.rs:433-451); else
    equal-length 8-slot signatures match at equal-slot fraction >= thr
    (src/lsh/config.rs:126-139). Replaces the round-1 row-at-a-time pandas
    UDF — the whole verify now stays inside whole-stage codegen."""
    eq = F.aggregate(
        F.zip_with(my_sig, cand_sig, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    ok_shape = (F.size(my_sig) == F.size(cand_sig)) & (F.size(my_sig) > 0)
    return (
        my_sig.isNull()
        | cand_sig.isNull()
        | (ok_shape & (eq / F.size(my_sig) >= F.lit(thr)))
    )


def one_shot_dup_flags_rho(
    df: DataFrame,
    cfg: RensaConfig,
    key_col: str,
    bands_col: str = "bands",
    rescue_bands_col: str = "rescue_bands",
    is_sparse_col: str = "is_sparse",
    sparse_sig_col: str = "sparse_sig",
    token_count_col: str = "token_count",
) -> DataFrame:
    """Refined one-shot flags for rho sketches: (key, is_dup).

    ``key_col`` must be an orderable id matching the reference's row order
    (the candidate cap is row-order-dependent, one_shot.rs:408-411).

    Runs a Spark job when called if the recall rescue is configured (a
    one-row probe for rescue candidates): whether the rescue branch enters
    the plan is decided from the data at that time and frozen into the
    returned DataFrame.
    """
    sv_enabled = cfg.rho_sparse_verify_enabled and cfg.sparse_verify_perm_clamped > 0
    required_sparse = cfg.rho_sparse_required_band_matches
    fold = cfg.effective_band_fold(True, False)

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(is_sparse_col).alias("is_sparse"),
        F.col(sparse_sig_col).alias("sparse_sig"),
        F.col(token_count_col).alias("token_count"),
        F.col(bands_col).alias("bands"),
        F.col(rescue_bands_col).alias("rescue_bands"),
    ).localCheckpoint(eager=True)  # consumed by 3 branches — run the rho
    # sketch UDF lineage once; unlike persist() the blocks are reclaimed by
    # the ContextCleaner when the result goes out of scope (round-2 advice).
    # Eager: a lazy checkpoint read under the broadcast joins below was
    # checkpointed by whichever broadcast-exchange thread finished its job
    # first, and that thread's RDD.doCheckpoint deadlocked against the DAG
    # scheduler checkpointing the same RDD for a concurrent job.
    # exploded band rows feed 3-4 consumers; re-running the posexplode from
    # the persisted base is measurably cheaper than persisting the 8x-wider
    # exploded rows (A/B on a 200k all-sparse corpus: 9.0s vs 9.7s best-of-3)
    bands = base.select(
        "key", "is_sparse", "sparse_sig", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    stats = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size"),
        F.sum(F.col("is_sparse").cast("int")).alias("sparse_cnt"),
    )
    # ONE shared sized-bucket join (round 6): every downstream branch only
    # cares about buckets with >= 2 members, so band rows meet the bucket
    # stats once — the three branches (non-sparse matches, candidate
    # window, sparse pair join) reference the identical join subtree and
    # ReuseExchange serves them from the same two shuffles, where the
    # round-5 shape re-shuffled the band rows per branch through separate
    # leftsemi joins. The join output is hash-partitioned by
    # (band_idx, band_hash), which the candidate window below reuses
    # without its own exchange.
    sized = bands.join(
        stats.filter(F.col("bucket_size") >= 2), ["band_idx", "band_hash"]
    )

    # non-sparse members: any >=2 bucket counts as a band match
    # (their verify always passes: the other side's signature is checked only
    #  when one side is sparse, and a missing signature passes).
    ns_matches = (
        sized.filter(~F.col("is_sparse"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("matches"))
    )

    # sparse members: simulate the capped row-order candidate scan
    # (one_shot.rs:387-433) as PAIR rows — sparse member x the bucket's first
    # cap+1 members — decided entirely JVM-side. The scan checks up to ``cap``
    # non-self candidates among the bucket's first cap+1 members in row
    # order: when the member itself sits within the first cap+1, every other
    # one of them is checked; otherwise only the first ``cap`` are (the
    # (cap+1)-th would be the cap-th non-self check, past the limit). The
    # early break on first match cannot change the OR over checked
    # candidates, so bool_or is exact.
    if sv_enabled:
        cap = cfg.rho_sparse_verify_max_candidates
        members = sized.filter(F.col("sparse_cnt") >= 1)
        # Only the candidate side needs row order: the rn <= cap+1 filter
        # right above the row_number turns the window into a
        # WindowGroupLimit (per-bucket top-k heap), so a degenerate hot
        # bucket never fully sorts. The member side carries no rn at all —
        # whether the member itself sits within the first cap+1 (which
        # widens its candidate set from rn<=cap to rn<=cap+1) is recovered
        # from the pair rows as bool_or(cand_key == key).
        w = Window.partitionBy("band_idx", "band_hash").orderBy("key")
        first_k = (
            members.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= cap + 1)
            .select(
                "band_idx",
                "band_hash",
                F.col("key").alias("cand_key"),
                F.col("sparse_sig").alias("cand_sig"),
                F.col("rn").alias("cand_rn"),
            )
        )
        match_col = _sparse_verify_match_col(
            F.col("sparse_sig"), F.col("cand_sig"), cfg.rho_sparse_verify_threshold
        )
        nonself = F.col("cand_key") != F.col("key")
        # the left side is members.filter(is_sparse): a bucket holding a
        # sparse row has sparse_cnt >= 1 by construction, and first_k only
        # contains >=2-member buckets, so this equals the former
        # bands.filter(is_sparse) inner join exactly — but reads the shared
        # sized subtree (reused exchanges) instead of re-shuffling bands
        sp_matches = (
            members.filter(F.col("is_sparse"))
            .select("band_idx", "band_hash", "key", "sparse_sig")
            .join(first_k, ["band_idx", "band_hash"])
            .groupBy("key", "band_idx", "band_hash")
            .agg(
                F.max(~nonself).alias("me_in_firstk"),
                F.max(nonself & match_col).alias("matched_all"),
                F.max(nonself & (F.col("cand_rn") <= cap) & match_col).alias(
                    "matched_capped"
                ),
            )
            .filter(
                F.when(F.col("me_in_firstk"), F.col("matched_all")).otherwise(
                    F.col("matched_capped")
                )
            )
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("matches"))
        )
    else:
        # verify disabled: sparse members match like non-sparse ones
        sp_matches = (
            sized.filter(F.col("is_sparse"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("matches"))
        )

    matches = ns_matches.unionByName(sp_matches)
    flags = (
        base.select("key", "is_sparse", "token_count")
        .join(matches, "key", "left")
        .withColumn("matches", F.coalesce("matches", F.lit(0)))
        .withColumn(
            "required",
            F.when(F.col("is_sparse"), F.lit(required_sparse)).otherwise(F.lit(1)),
        )
    )

    rescue_enabled = cfg.rho_recall_rescue_enabled and fold > 1
    if rescue_enabled:
        # ADAPTIVE rescue (round 6): the flags table is checkpointed once
        # — it feeds the rescue-candidate filter AND the final output, and
        # without the barrier the whole refined-match flow above would be
        # planned (and its non-reused stages run) twice. A one-row count
        # then decides whether anyone is actually rescue-eligible: a
        # corpus with zero eligible rows (e.g. the all-sparse benchmark
        # shape — rescue only applies to NON-sparse rows with zero folded
        # matches) skips the unfolded-band posexplode + hot-bucket
        # aggregate + two joins outright. AQE cannot make that cut: the
        # rescue subtree's independent stages are materialized eagerly
        # before empty-relation propagation could prove them pointless.
        flags = flags.localCheckpoint(eager=False)  # materialized by the
        # probe below on this thread, before any plan reads it under a broadcast
        rescue_cond = (
            (F.col("matches") == 0)
            & (F.col("required") == 1)
            & F.col("token_count").between(
                cfg.rho_recall_rescue_min_tokens, cfg.rho_recall_rescue_max_tokens
            )
        )
        rescue_enabled = flags.filter(rescue_cond).limit(1).count() > 0
    if rescue_enabled:
        rescue_cand = flags.filter(rescue_cond).select("key")
        rbands = base.select("key", F.posexplode("rescue_bands").alias("band_idx", "band_hash"))
        rhot = (
            rbands.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("bucket_size"))
            .filter(F.col("bucket_size") >= 2)
            .select("band_idx", "band_hash")
        )
        rescued = (
            rbands.join(rescue_cand, "key", "leftsemi")
            .join(rhot, ["band_idx", "band_hash"], "leftsemi")
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("rescue_matches"))
            .filter(
                F.col("rescue_matches") >= cfg.rho_recall_rescue_required_band_matches
            )
            .select("key")
            .withColumn("rescued", F.lit(True))
        )
        flags = flags.join(rescued, "key", "left").withColumn(
            "rescued", F.coalesce("rescued", F.lit(False))
        )
    else:
        flags = flags.withColumn("rescued", F.lit(False))

    return flags.select(
        "key",
        ((F.col("matches") >= F.col("required")) | F.col("rescued")).alias("is_dup"),
    )


def observe_metrics(df: DataFrame, metrics, default: str, *exprs) -> DataFrame:
    """``df`` observed under ``metrics``: a string name (for every
    QueryExecutionListener and the Spark UI event log), a
    ``pyspark.sql.Observation`` (read after the first action) or None. The
    ``default`` string gets a fresh suffix per call (``<default>_<n>``):
    Spark's analyzer rejects two CollectMetrics nodes of one name in a
    plan, so two operators left at their default could not be unioned."""
    if metrics is None:
        return df
    if metrics == default:
        metrics = f"{default}_{next(_METRICS_SEQ)}"
    return df.observe(metrics, *exprs)


def bucket_sizes(
    bands: DataFrame, hot_bucket_cap: int, heuristic_cap: int, capped_metrics
) -> DataFrame:
    """(band_idx, band_hash, bucket_size) by a map-side count.

    ``capped_metrics``: a CollectMetrics node over the bucket sizes
    emitting ``capped_buckets`` (count over ``hot_bucket_cap``),
    ``heuristic_buckets`` (count over ``heuristic_cap`` — the only regime
    with approximate semantics) and ``max_bucket_size``; a name, an
    Observation or None, as for :func:`observe_metrics` (default
    ``"rensa_capped_buckets"``)."""
    sizes = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return observe_metrics(
        sizes,
        capped_metrics,
        "rensa_capped_buckets",
        F.sum(
            F.when(F.col("bucket_size") > hot_bucket_cap, 1).otherwise(0)
        ).alias("capped_buckets"),
        F.sum(
            F.when(F.col("bucket_size") > heuristic_cap, 1).otherwise(0)
        ).alias("heuristic_buckets"),
        F.max("bucket_size").alias("max_bucket_size"),
    )


def sorted_run_walk(rows: DataFrame, group_keys, arrays_of, kernel, schema: str) -> DataFrame:
    """The one walk over the groups of ``rows``: a shuffle on
    ``xxhash64(*group_keys)`` and a sort within partitions on ``group_keys``
    make each group one contiguous run of one task, and ONE
    ``mapInPandas`` hands each chunk of whole runs
    (:func:`rensa_spark.kernels.runs.complete_runs`: at most one run plus
    one Arrow batch in memory) to ``kernel(*cols, bounds)``, which returns
    a pandas frame of ``schema`` or None. ``arrays_of(pdf)`` maps a batch
    to its column arrays ``cols``; ``bounds`` are the run offsets.

    The shuffle is on a hash no input can claim as its partitioning: AQE
    drops a repartition its child seems to satisfy, and a union of
    separately shuffled rows (a stream's state and batch) seems to while
    its parts sit in different tasks (PLANS.md, "One co-location rule")."""

    def walk(batches):
        from rensa_spark.kernels.runs import complete_runs

        def split(pdf):
            keys = np.stack([pdf[c].to_numpy() for c in group_keys], axis=1)
            return (keys, *arrays_of(pdf))

        for cols, bounds in complete_runs(batches, split):
            out = kernel(*cols, bounds)
            if out is not None:
                yield out

    return (
        rows.repartition(F.xxhash64(*group_keys))
        .sortWithinPartitions(*group_keys)
        .mapInPandas(walk, schema)
    )


def verified_bucket_pairs(
    band_rows: DataFrame, sigs, hot_bucket_cap: int, exact_cap: int, threshold: float,
    capped_metrics,
) -> DataFrame:
    """Distinct (a < b, sim) pairs of band-bucket co-members whose
    equal-slot fraction ``sim`` is >= ``threshold``, from (key, band_idx,
    band_hash) rows. Each member row of a bucket with >= 2 members
    (:func:`bucket_sizes`, observed as ``capped_metrics``) takes its
    signature from the (key, sig) table ``sigs`` by one join, or one
    constant slot when ``sigs`` is None; the sorted-run walk hands every
    bucket to :func:`rensa_spark.kernels.bucket_verify.verify_bucket_pairs`,
    which checks every pair of a bucket up to ``exact_cap`` members and hub
    + (signature, key)-sorted ring edges above it. No candidate pair
    crosses a shuffle."""
    sizes = bucket_sizes(band_rows, hot_bucket_cap, exact_cap, capped_metrics)
    members = band_rows.select("key", "band_idx", "band_hash").join(
        sizes.filter(F.col("bucket_size") >= 2), ["band_idx", "band_hash"], "leftsemi"
    )
    if sigs is None:
        members = members.withColumn("sig", F.array(F.lit(0)))
    else:
        members = members.join(sigs.select("key", "sig"), "key")
    key_type = band_rows.schema["key"].dataType.simpleString()

    def arrays_of(pdf):
        return pdf["key"].to_numpy(), np.stack(pdf["sig"].to_numpy())

    def verify(keys, sig, bounds):
        from rensa_spark.kernels.bucket_verify import verify_bucket_pairs

        i, j, sim = verify_bucket_pairs(sig, keys, bounds, exact_cap, threshold)
        return pd.DataFrame({"a": keys[i], "b": keys[j], "sim": sim})

    return sorted_run_walk(
        members, ["band_idx", "band_hash"], arrays_of, verify,
        f"a {key_type}, b {key_type}, sim double",
    ).distinct()


def candidate_pairs_from_band_rows(
    bands: DataFrame,
    hot_bucket_cap: int = 4096,
    capped_metrics="rensa_capped_buckets",
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing >=1 band bucket, from
    (key, band_idx, band_hash) rows.

    The verify's own bucket walk (:func:`verified_bucket_pairs`) over a
    constant one-slot signature at threshold 0, so every candidate passes:
    buckets of up to ``hot_bucket_cap`` members emit every pair; a larger
    bucket would emit O(n^2) pairs, so it emits hub edges (min key to each
    member) plus a ring over its members sorted by key instead: O(2n)
    edges that keep every member connected. Verified pairs do not come
    from here (see
    :func:`rensa_spark.operators.dedup.verified_pairs_from_band_rows`,
    which verifies real signatures in the same walk); this operator
    measures the candidate set.

    The reference never materializes pairs at all for flags (flags need
    only bucket size >= 2).

    ``capped_metrics``: see :func:`bucket_sizes`; ``heuristic_buckets``
    equals ``capped_buckets`` here.
    """
    return verified_bucket_pairs(
        bands, None, hot_bucket_cap, hot_bucket_cap, 0.0, capped_metrics
    ).select("a", "b")
