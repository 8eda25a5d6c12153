"""The three workloads: one timed call into ``rensa_spark`` per iteration,
its output checked against the reference, plus the traced layer probes.

- flags_captions: ``operators.dedup.dup_flags`` over the caption table,
  output written as parquet (the only bytes it persists).
- pipeline_captions: a fresh ``plans.pipeline.DedupPipeline.run`` per
  iteration (six checkpointed stages).
- stream_captions: ``streaming.dedup.StreamingDeduplicator.process_batch``
  over fixed-size micro-batches in key order, closed loop from one client:
  each batch is submitted when the previous one has finished, and the kept
  state grows through the run. One iteration is one micro-batch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as pads

import reference
from spans import Tracer, dir_bytes


@dataclass
class Outcome:
    wall_s: float
    rows: int
    ok: bool
    agree: int
    checked: int
    recall_hit: float
    recall_all: float
    written_bytes: int
    input_bytes: int


def _read(path: str, columns: list[str], filter_=None):
    return pads.dataset(path, format="parquet").to_table(columns=columns, filter=filter_).to_pandas()


def _index(keys) -> np.ndarray:
    return np.fromiter((int(k[4:]) for k in keys), dtype=np.int64, count=len(keys))


def _aligned(pdf, col: str, lo: int, hi: int):
    """Column values placed at their row index in [lo, hi); None if the
    output does not hold each of those keys exactly once."""
    idx = _index(pdf["key"]) - lo
    if len(idx) != hi - lo or np.any((idx < 0) | (idx >= hi - lo)) or len(np.unique(idx)) != len(idx):
        return None
    out = np.empty(hi - lo, dtype=pdf[col].dtype if col != "cluster_id" else np.int64)
    out[idx] = _index(pdf[col]) if col == "cluster_id" else pdf[col].to_numpy()
    return out


def _co_clustered_pairs(ref: np.ndarray, got: np.ndarray) -> tuple[float, float]:
    """(reference same-cluster pairs also clustered together, all reference
    same-cluster pairs), from cluster-label contingency counts."""
    def pairs(counts):
        return float((counts * (counts - 1) // 2).sum())

    _, joint = np.unique(ref * (int(got.max()) + 1) + got, return_counts=True)
    return pairs(joint), pairs(np.unique(ref, return_counts=True)[1])


class Workload:
    name = ""
    min_iters = 1
    warmups = 1
    rewarms = 1  # untimed iterations after a later set-up (new Python workers)
    every_setup = False  # timed after every set-up, not only the last
    sketch_passes = 1  # shingle+MinHash passes the sketch probe makes per row

    def __init__(self, table, cfg, work: str, corrupt: bool) -> None:
        self.table = table
        self.cfg = cfg
        self.work = work
        self.corrupt = corrupt
        self.n = len(table)
        self.texts = list(table["text"])
        self.row_bytes = np.fromiter(
            (len(k.encode()) + len((t or "").encode()) for k, t in zip(table["key"], self.texts)),
            dtype=np.int64,
            count=self.n,
        )
        self.sig, self.bands = reference.sketch(self.texts, cfg)
        self.spark = self.df = None
        self.done = 0

    def bind(self, spark, df) -> None:
        self.spark, self.df = spark, df

    def exhausted(self) -> bool:
        return False

    def _corrupt_now(self) -> bool:
        return self.corrupt and self.done == 0

    def _timed(self, tracer: Tracer | None, name: str, call) -> tuple[float, object]:
        t0 = time.perf_counter()
        span = tracer.begin(name) if tracer else None
        call()
        delta = tracer.end(span) if tracer else None
        return time.perf_counter() - t0, delta

    def iteration(self, tracer: Tracer | None, warmup: bool = False) -> tuple[Outcome, object]:
        raise NotImplementedError

    def probes(self, tracer: Tracer) -> dict:
        return {}


class FlagsCaptions(Workload):
    name = "flags_captions"
    min_iters = 3
    warmups = 4  # the JIT keeps warming over the first few jobs
    every_setup = True

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.ref = reference.flags(self.bands)

    def iteration(self, tracer, warmup=False):
        from rensa_spark.operators.dedup import dup_flags

        out = os.path.join(self.work, f"flags-{self.done}")
        wall, delta = self._timed(
            tracer,
            "flags_captions.dup_flags",
            lambda: dup_flags(self.df, self.cfg, "key", "text").write.mode("overwrite").parquet(out),
        )
        got = _aligned(_read(out, ["key", "is_dup"]), "is_dup", 0, self.n)
        written = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        if got is not None and self._corrupt_now():
            got[0] = not got[0]
        self.done += 1
        if got is None:
            return Outcome(wall, self.n, False, 0, self.n, 0, int(self.ref.sum()), written, int(self.row_bytes.sum())), delta
        return Outcome(
            wall, self.n, bool(np.array_equal(got, self.ref)), int((got == self.ref).sum()), self.n,
            int((got & self.ref).sum()), int(self.ref.sum()), written, int(self.row_bytes.sum()),
        ), delta

    def probes(self, tracer):
        from pyspark.sql import functions as F

        from rensa_spark.operators.lsh import one_shot_flags_from_bands
        from rensa_spark.operators.sketch import rminhash_band_rows

        out = {}
        out["sketch"] = probe(tracer, "sketch", lambda: noop(rminhash_band_rows(self.df, self.cfg, "key", "text")))
        bands = rminhash_band_rows(self.df, self.cfg, "key", "text").localCheckpoint(eager=True)
        keys = self.df.select("key", F.lit(self.cfg.num_bands).alias("n_bands"))
        out["lsh.flags"] = probe(tracer, "lsh.flags", lambda: noop(one_shot_flags_from_bands(bands, keys=keys)))
        return out


class PipelineCaptions(Workload):
    name = "pipeline_captions"
    min_iters = 1
    sketch_passes = 2  # the signatures and bands stages each sketch every row

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.refs: dict[int, dict] = {}
        self.last_base = None
        self.manifests: list[dict] = []

    def _ref(self, rows: int) -> dict:
        """Reference clusters of the first ``rows`` rows (keys are in row
        order, so a key prefix is a row prefix)."""
        if rows not in self.refs:
            self.refs[rows] = reference.clusters(self.sig[:rows], self.bands[:rows], self.cfg.threshold)
        return self.refs[rows]

    def iteration(self, tracer, warmup=False):
        from pyspark.sql import functions as F

        from rensa_spark.plans.pipeline import DedupPipeline

        # the warm-up only has to exercise every code path once: a prefix of
        # the table does that in well under the full run's time
        rows = min(PIPELINE_WARMUP_ROWS, self.n) if warmup else self.n
        df = self.df if rows == self.n else self.df.filter(F.col("key") <= self.table["key"][rows - 1])
        ref = self._ref(rows)["cluster"]
        in_bytes = int(self.row_bytes[:rows].sum())
        base = os.path.join(self.work, f"pipeline-{self.done}")
        wall, delta = self._timed(
            tracer,
            "pipeline_captions.DedupPipeline.run",
            lambda: DedupPipeline(self.spark, self.cfg, base, run_id=f"iter-{self.done}").run(df, "key", "text"),
        )
        pdf = _read(os.path.join(base, "survivors"), ["key", "cluster_id", "is_survivor"])
        cluster = _aligned(pdf, "cluster_id", 0, rows)
        surv = _aligned(pdf, "is_survivor", 0, rows)
        written = dir_bytes(base)
        if tracer is not None:
            with open(os.path.join(base, "manifest.json")) as f:
                self.manifests.append(json.load(f))
        if self.last_base:
            shutil.rmtree(self.last_base, ignore_errors=True)
        self.last_base = base
        if surv is not None and self._corrupt_now():
            surv[0] = not surv[0]
        self.done += 1
        ref_surv = ref == np.arange(rows)
        if cluster is None or surv is None:
            total = _co_clustered_pairs(ref, ref)[1]
            return Outcome(wall, rows, False, 0, rows, 0, total, written, in_bytes), delta
        hit, total = _co_clustered_pairs(ref, cluster)
        ok = bool(np.array_equal(cluster, ref) and np.array_equal(surv, ref_surv))
        return Outcome(
            wall, rows, ok, int((surv == ref_surv).sum()), rows, hit, total, written, in_bytes,
        ), delta

    def probes(self, tracer):
        from pyspark.sql import Observation, Window
        from pyspark.sql import functions as F

        from rensa_spark.functions.udfs import rminhash_sig_udf
        from rensa_spark.operators.cc import connected_components
        from rensa_spark.operators.dedup import verified_pairs_from_band_rows
        from rensa_spark.operators.lsh import candidate_pairs_from_band_rows
        from rensa_spark.operators.sketch import rminhash_band_rows

        out = {}
        sig_udf = rminhash_sig_udf(self.cfg)

        def sketch():
            noop(self.df.select("key", sig_udf("text").alias("sig")))
            noop(rminhash_band_rows(self.df, self.cfg, "key", "text"))

        out["sketch"] = probe(tracer, "sketch", sketch)
        base = self.last_base
        sigs = self.spark.read.parquet(os.path.join(base, "signatures"))
        bands = self.spark.read.parquet(os.path.join(base, "bands"))
        with_rep = sigs.withColumn("rep", F.min("key").over(Window.partitionBy("sig"))).localCheckpoint(eager=True)
        out["identical_collapsed_rows"] = with_rep.filter(F.col("key") != F.col("rep")).count()
        rep_keys = with_rep.filter(F.col("key") == F.col("rep")).select("key")
        rep_bands = bands.join(rep_keys, "key", "leftsemi").localCheckpoint(eager=True)
        rep_sigs = sigs.join(rep_keys, "key", "leftsemi").localCheckpoint(eager=True)
        obs = Observation("bench_candidate_buckets")
        held = {}

        def pairs():
            held["cand"] = candidate_pairs_from_band_rows(
                rep_bands, self.cfg.hot_bucket_cap, capped_metrics=obs
            ).localCheckpoint(eager=True)

        out["lsh.pairs"] = probe(tracer, "lsh.pairs", pairs)
        out["candidate_pairs"] = held["cand"].count()
        out["max_bucket_size"] = int(obs.get.get("max_bucket_size") or 0)

        def verify():
            held["ver"] = verified_pairs_from_band_rows(rep_bands, rep_sigs, self.cfg).localCheckpoint(eager=True)

        out["dedup.verify"] = probe(tracer, "dedup.verify", verify)
        out["verified_pairs"] = held["ver"].count()
        edges = self.spark.read.parquet(os.path.join(base, "pairs"))
        out["edges_in"] = pads.dataset(os.path.join(base, "pairs"), format="parquet").count_rows()
        out["cc"] = probe(tracer, "cc", lambda: connected_components(edges).count())
        try:
            out["stream"] = self._stream_probe(tracer)
        except Exception as e:  # layer API moved or broke: report, keep going
            print(f"bench_dedup: stream probe failed: {e!r}"[:2000], file=sys.stderr)
        return out

    def _stream_probe(self, tracer) -> "StreamCaptions | None":
        """Two traced micro-batches through StreamingDeduplicator on the head
        of this table, so the streaming layer is measured on this workload."""
        from pyspark.sql import functions as F

        rows = min(STREAM_PROBE_ROWS, self.n)
        head = self.table.iloc[:rows].reset_index(drop=True)
        sub = StreamCaptions(head, self.cfg, os.path.join(self.work, "stream-probe"), False, batch=rows // 2)
        sub.bind(self.spark, self.df.filter(F.col("key") <= head["key"][rows - 1]))
        while not sub.exhausted():
            outcome, delta = sub.iteration(tracer)
            sub.walls.append(outcome.wall_s)
            sub.deltas.append(delta)
        return sub


class StreamCaptions(Workload):
    name = "stream_captions"
    min_iters = 2

    def __init__(self, *a, batch: int, **kw) -> None:
        super().__init__(*a, **kw)
        self.batch = batch
        self.ref = reference.add_if_unique(self.sig, self.bands, self.cfg.threshold)
        self.state = os.path.join(self.work, "stream-state")
        self.dedup = None
        self.kept_before: list[int] = []
        self.kept_so_far = 0
        self.walls: list[float] = []
        self.deltas: list = []

    def bind(self, spark, df) -> None:
        from rensa_spark.streaming.dedup import StreamingDeduplicator

        super().bind(spark, df)
        self.dedup = StreamingDeduplicator(spark, self.cfg, self.state)

    def exhausted(self) -> bool:
        return self.done * self.batch >= self.n

    def iteration(self, tracer, warmup=False):
        from pyspark.sql import functions as F

        epoch = self.done
        lo, hi = epoch * self.batch, min((epoch + 1) * self.batch, self.n)
        keys = self.table["key"]
        batch_df = self.df.filter(F.col("key").between(keys[lo], keys[hi - 1]))
        wall, delta = self._timed(
            tracer, "stream_captions.process_batch", lambda: self.dedup.process_batch(batch_df, epoch)
        )
        pdf = _read(os.path.join(self.state, "decisions"), ["key", "kept"], pads.field("epoch") == epoch)
        got = _aligned(pdf, "kept", lo, hi)
        ref = self.ref[lo:hi]
        if got is not None and self._corrupt_now():
            got[0] = not got[0]
        self.done += 1
        self.kept_before.append(self.kept_so_far)
        in_bytes = int(self.row_bytes[:hi].sum())
        written = dir_bytes(self.state)
        if got is None:
            return Outcome(wall, hi - lo, False, 0, hi - lo, 0, int((~ref).sum()), written, in_bytes), delta
        self.kept_so_far += int(got.sum())
        return Outcome(
            wall, hi - lo, bool(np.array_equal(got, ref)), int((got == ref).sum()), hi - lo,
            int((~got & ~ref).sum()), int((~ref).sum()), written, in_bytes,
        ), delta

    def probes(self, tracer):
        from pyspark.sql import functions as F

        from rensa_spark.functions.udfs import rminhash_sig_bands_udf

        udf = rminhash_sig_bands_udf(self.cfg)
        first = self.df.filter(F.col("key") <= self.table["key"][self.batch - 1])
        return {"sketch": probe(tracer, "sketch", lambda: noop(first.select("key", udf("text").alias("sb"))))}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(tracer: Tracer, name: str, call):
    """Run one traced call into a layer; a failing probe yields None (the
    layer's metrics then read 0) and never fails the run."""
    span = tracer.begin(name)
    try:
        call()
    except Exception as e:  # layer API moved or broke: report, keep going
        tracer.end(span, error=repr(e)[:500])
        return None
    tracer.end(span)
    return span


STREAM_PROBE_ROWS = 1_000
PIPELINE_WARMUP_ROWS = 500
WORKLOADS = {w.name: w for w in (FlagsCaptions, PipelineCaptions, StreamCaptions)}
