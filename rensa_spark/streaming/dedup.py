"""Streaming incremental deduplication — the RMinHashDeduplicator analogue
(/root/reference/src/inline_dedup/rminhash.rs:233-299, README.md:180-194
"continuous stream" recipe).

Semantics preserved: add-if-unique — an arriving row is a duplicate iff its
key was already kept OR some earlier *kept* row shares >=1 LSH band and has
signature jaccard >= threshold. State = the kept-set's (key, sig) and band
tables, checkpointed as parquet (Iceberg on a real deployment), exactly like
the batch pipeline's stage tables — so the stream can resume.

Use with Structured Streaming via ``foreachBatch`` (micro-batch order stands
in for the reference's sequential add order, key order within a batch; each
batch is decided by ``operators.dedup.add_if_unique``'s walk, state first):

    dedup = StreamingDeduplicator(spark, cfg, state_dir)
    stream.writeStream.foreachBatch(dedup.process_batch).start()

Also provided: watermarked exact dedup (dropDuplicates on content hash) for
the exact-dup lane of a streaming ingest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rensa_spark.config import RensaConfig


class StreamingDeduplicator:
    def __init__(
        self,
        spark: SparkSession,
        cfg: RensaConfig,
        state_dir: str,
        key_col: str = "key",
        text_col: str = "text",
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.state_dir = state_dir
        self.key_col = key_col
        self.text_col = text_col

    def _state_path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _has_state(self) -> bool:
        return os.path.exists(os.path.join(self._state_path("kept_sigs"), "_SUCCESS"))

    def kept(self) -> DataFrame:
        """Current kept set (key, sig)."""
        return self.spark.read.parquet(self._state_path("kept_sigs"))

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch hook: decides kept/dup for the batch, appends the
        batch's kept rows to state, and appends decisions to `decisions`.

        The batch is sketched once. A key already in state is a duplicate
        and blocks no one. The rest go through ``add_if_unique``'s walk
        (:func:`rensa_spark.operators.dedup._greedy_kept`) with the state's
        kept rows the batch touches as earlier kept rows: the ``kept_bands``
        rows in a bucket that holds a batch row (a left-semi join) and
        ``kept_sigs``, joined by key in the verify."""
        from rensa_spark.operators.dedup import _greedy_kept, sketch_rminhash
        from rensa_spark.operators.lsh import explode_bands

        cfg = self.cfg
        src = batch_df.select(
            F.col(self.key_col).alias("key"), F.col(self.text_col).alias("text")
        ).localCheckpoint(eager=True)
        sk = (
            sketch_rminhash(src, cfg, "key", "text")
            .select("key", "sig", "bands")
            .localCheckpoint(eager=False)
        )

        fresh, fresh_sk, earlier = src, sk, None
        if self._has_state():
            kept_sigs = self.kept()
            fresh = src.join(kept_sigs, "key", "left_anti")
            fresh_sk = sk.join(fresh, "key", "leftsemi")
            touched = self.spark.read.parquet(self._state_path("kept_bands")).join(
                explode_bands(fresh_sk, "key"), ["band_idx", "band_hash"], "leftsemi"
            )
            earlier = (touched, kept_sigs)
        decisions = _greedy_kept(
            fresh.select("key", F.col("key").alias("ord")),
            fresh_sk.select("key", F.col("key").alias("ord"), "sig", "bands"),
            earlier,
            cfg,
        )
        # three writes read the kept keys: one lazy checkpoint runs the
        # decision once for all of them
        kept_new_keys = (
            decisions.filter("kept").select("key").localCheckpoint(eager=False)
        )

        kept_new_sigs = sk.select("key", "sig").join(kept_new_keys, "key", "leftsemi")
        kept_new_bands = explode_bands(sk, "key").join(kept_new_keys, "key", "leftsemi")
        kept_new_sigs.write.mode("append").parquet(self._state_path("kept_sigs"))
        kept_new_bands.write.mode("append").parquet(self._state_path("kept_bands"))

        all_decisions = (
            src.select("key")
            .join(kept_new_keys.withColumn("kept", F.lit(True)), "key", "left")
            .withColumn("kept", F.coalesce("kept", F.lit(False)))
            .withColumn("epoch", F.lit(int(epoch_id)))
        )
        all_decisions.write.mode("append").parquet(self._state_path("decisions"))


def streaming_exact_dedup(
    stream_df: DataFrame, key_cols: list[str], watermark_col: str, delay: str = "10 minutes"
) -> DataFrame:
    """Watermarked exact streaming dedup (dropDuplicates keeps state bounded
    by the watermark — the time-bounded analogue of the reference's unbounded
    kept-set, src/inline_dedup.rs:17-34)."""
    return stream_df.withWatermark(watermark_col, delay).dropDuplicates(
        key_cols + [watermark_col]
    )


def sessionize_events(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-user session rollup via Spark's native ``session_window`` — the
    dynamic-gap session operator (a session extends while the next event
    arrives within ``gap`` of the previous one; works identically over
    ``readStream`` with a watermark, which is the streaming deployment).

    -> (user_id, session_start, n_events, value_cents): session_start is the
    first event's timestamp, money rides as exact cents. SQL-checkable: for
    point events the session assignment equals the lag-gap-cumsum
    formulation — new session iff ts - prev_ts STRICTLY exceeds the gap
    (an event exactly at prev + gap still merges; pinned by
    test_sessionize_events_gap_semantics) — which the DuckDB oracle
    evaluates at microsecond precision.

    Output is UNORDERED (round-3 advice): an embedded orderBy would be
    rejected by streaming append mode — the normal watermark deployment —
    so batch callers needing deterministic order sort the result
    themselves. Pinned by test_sessionize_streaming_matches_batch, which
    starts the query in BOTH complete and append output modes."""
    sw = F.session_window(F.col(ts_col), gap)
    return (
        events.groupBy(F.col(user_col).alias("user_id"), sw.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "value_cents"
            ),
            F.min(ts_col).alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "value_cents")
    )
