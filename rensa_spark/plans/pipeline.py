"""Checkpointed, resumable dedup pipeline with per-stage lineage metrics.

North-rule requirement: "every stage checkpoints signatures and cluster state
... with per-partition lineage and metrics so runs resume mid-pipeline".

The reference persists engine state via pickle (src/rminhash/py.rs:421-455,
src/lsh/py.rs:342-368); at cluster scale the equivalent durable state is the
stage output *table*. Each stage here writes its output to
``<base>/<stage>/`` plus rows in ``<base>/lineage/`` with per-partition row
counts, and records completion in ``<base>/manifest.json`` keyed by the
config hash. A re-run with the same config skips completed stages by reading
their tables back (kill -9 between stages loses nothing but the in-flight
stage).

The fixed cost per run is kept to the stage writes themselves:

- the text is sketched ONCE: the fused sig+bands UDF result is persisted,
  ``signatures`` writes its (key, sig) columns, ``bands`` its band array
  exploded by ``explode_bands`` and ``pairs`` reads it whole, then it is
  unpersisted (a persist, unlike a localCheckpoint, can be rebuilt after
  an executor loss);
- lineage row counts come from the written files' parquet footers and are
  appended with no Spark job;
- pairs are ``dedup_edges`` over the same persisted sketch, the builder
  ``dedup_clusters`` uses: the identical-signature collapse, then the
  representatives' own bands exploded and their pairs verified inside each
  band bucket in one ``mapInPandas`` walk (each member's signature joined
  once; no candidate pair crosses a shuffle). The ``signatures`` and
  ``bands`` tables feed ``flags``, ``survivors`` and resume; a resumed run
  whose ``pairs`` stage is not done sketches the text once more, as
  ``bands`` does after a resume past ``signatures`` alone;
- clusters are one local union-find contraction of the pair table (AQE
  coalesces a small one into a single task, which then labels every
  component with no star round); the manifest metrics record which way it
  went (``contraction_partitions``, ``star_edges``, ``star_rounds``);
- each stage runs under its own job group, and its manifest metrics record
  how many Spark jobs it took (``spark_jobs``, read from the status tracker).

Storage format is parquet in this sandbox; ``CheckpointStore`` is the single
place to swap in Iceberg (``format("iceberg")`` + MERGE for upserts,
snapshot summaries for row counts) on a real deployment — no other code
changes.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rensa_spark.config import RensaConfig

_PART_FILE = re.compile(r"part-(\d+).*\.parquet$")


@dataclass
class CheckpointStore:
    """Stage tables as parquet directories. Row counts are read from the
    parquet footers, so the format is fixed here, the one module that knows
    it."""

    base_dir: str

    def path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def write(self, df: DataFrame, stage: str) -> dict[int, int]:
        """Write the stage table; returns its per-partition row counts."""
        df.write.mode("overwrite").parquet(self.path(stage))
        return self.row_counts(stage)

    def read(
        self, spark: SparkSession, stage: str, schema: StructType | None = None
    ) -> DataFrame:
        reader = spark.read
        if schema is not None:  # skips schema inference over the footers
            reader = reader.schema(schema)
        return reader.parquet(self.path(stage))

    def exists(self, stage: str) -> bool:
        # parquet success marker; Iceberg would check snapshot existence
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))

    def row_counts(self, stage: str) -> dict[int, int]:
        """{writer partition id: rows} from the parquet footers — a metadata
        read on the driver, no Spark job."""
        import pyarrow.parquet as pq

        counts: dict[int, int] = {}
        path = self.path(stage)
        for name in sorted(os.listdir(path)):
            m = _PART_FILE.match(name)
            if m:
                n = pq.read_metadata(os.path.join(path, name)).num_rows
                counts[int(m.group(1))] = counts.get(int(m.group(1)), 0) + n
        return counts

    def append_lineage(self, columns: dict[str, list]) -> None:
        """Append rows to the ``lineage`` table as one new file, written on
        the driver (no Spark job) under a hidden name, then renamed: readers
        never see a partial file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("part_id", pa.int32()),
                ("rows_out", pa.int64()),
                ("stage", pa.string()),
                ("wall_ms", pa.int32()),
                ("config_hash", pa.string()),
                ("run_id", pa.string()),
            ]
        )
        path = self.path("lineage")
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, "." + name)
        pq.write_table(pa.table(columns, schema=schema), tmp)
        os.replace(tmp, os.path.join(path, name))


@dataclass
class Manifest:
    path: str
    data: dict = field(default_factory=dict)

    @classmethod
    def load(cls, base_dir: str) -> "Manifest":
        path = os.path.join(base_dir, "manifest.json")
        data = {}
        if os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
        return cls(path=path, data=data)

    def stage_done(self, stage: str, config_hash: str) -> bool:
        info = self.data.get("stages", {}).get(stage)
        return bool(info) and info.get("config_hash") == config_hash

    def mark_done(
        self,
        stage: str,
        config_hash: str,
        rows: int,
        wall_ms: int,
        metrics: dict | None = None,
    ) -> None:
        self.data.setdefault("stages", {})[stage] = {
            "config_hash": config_hash,
            "rows": rows,
            "wall_ms": wall_ms,
            **({"metrics": metrics} if metrics else {}),
        }
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=2)
        os.replace(tmp, self.path)


class DedupPipeline:
    """sketch/bands -> flags -> verified pairs -> clusters -> survivors,
    each stage checkpointed and resumable."""

    STAGES = ("signatures", "bands", "flags", "pairs", "clusters", "survivors")

    def __init__(
        self,
        spark: SparkSession,
        cfg: RensaConfig,
        base_dir: str,
        run_id: str = "run-0",
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.store = CheckpointStore(base_dir)
        self.manifest = Manifest.load(base_dir)
        self.run_id = run_id
        self.config_hash = cfg.config_hash()
        self.stage_log: list[dict] = []

    # ---- lineage ----
    def _record_lineage(
        self, stage: str, counts: dict[int, int], wall_ms: int
    ) -> int:
        """Per-partition row counts of the written stage -> lineage table."""
        parts = sorted(counts)
        self.store.append_lineage(
            {
                "part_id": parts,
                "rows_out": [counts[p] for p in parts],
                "stage": [stage] * len(parts),
                "wall_ms": [wall_ms] * len(parts),
                "config_hash": [self.config_hash] * len(parts),
                "run_id": [self.run_id] * len(parts),
            }
        )
        return sum(counts.values())

    def _run_stage(self, stage: str, build, metrics_fn=None) -> DataFrame:
        """``metrics_fn``: called AFTER the stage's write action completes,
        returns a small dict recorded into the manifest alongside the
        lineage row counts (e.g. the candidate-bucket CollectMetrics — the
        north rule's per-stage metrics, so production runs can see from the
        manifest alone whether a run entered the hub + ring heuristic regime).
        Every written stage's metrics also carry ``spark_jobs``: the jobs
        run under the stage's job group."""
        if self.manifest.stage_done(stage, self.config_hash) and self.store.exists(stage):
            self.stage_log.append({"stage": stage, "skipped": True})
            return self.store.read(self.spark, stage)
        sc = self.spark.sparkContext
        group = f"rensa-pipeline-{stage}-{uuid.uuid4().hex[:12]}"
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            t0 = time.perf_counter()
            out = build()
            counts = self.store.write(out, stage)
            wall_ms = int((time.perf_counter() - t0) * 1000)
            metrics = metrics_fn() if metrics_fn is not None else {}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
        metrics["spark_jobs"] = self._jobs_in_group(group)
        rows = self._record_lineage(stage, counts, wall_ms)
        self.manifest.mark_done(stage, self.config_hash, rows, wall_ms, metrics=metrics)
        self.stage_log.append(
            {
                "stage": stage,
                "skipped": False,
                "rows": rows,
                "wall_ms": wall_ms,
                "metrics": metrics,
            }
        )
        return self.store.read(self.spark, stage, schema=out.schema)

    def _jobs_in_group(self, group: str) -> int:
        """Jobs started under ``group``, from the status tracker. Job-start
        events reach it through the listener bus, so drain the bus first."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # ---- stages ----
    def run(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from pyspark.sql import Observation

        from rensa_spark.operators.cc import connected_components, survivors
        from rensa_spark.operators.dedup import dedup_edges, sketch_rminhash
        from rensa_spark.operators.lsh import explode_bands, one_shot_flags_from_bands

        src = df.select(F.col(key_col).alias("key"), F.col(text_col).alias("text"))
        sketch: list[DataFrame] = []

        def sketched() -> DataFrame:
            # built on first use, so a resumed run rebuilds `bands` and
            # `pairs` from the same fused UDF, whichever stages it skips
            if not sketch:
                sketch.append(
                    sketch_rminhash(src, self.cfg, "key", "text")
                    .select("key", "sig", "bands")
                    .persist()
                )
            return sketch[0]

        obs = Observation("pipeline_pairs_buckets")

        def _pairs_metrics() -> dict:
            m = dict(obs.get)
            return {k: int(v) if v is not None else 0 for k, v in m.items()}

        try:
            sigs = self._run_stage(
                "signatures", lambda: sketched().select("key", "sig")
            )
            bands = self._run_stage("bands", lambda: explode_bands(sketched(), "key"))
            self._run_stage(
                "flags",
                lambda: one_shot_flags_from_bands(
                    bands,
                    keys=sigs.select("key", F.lit(self.cfg.num_bands).alias("n_bands")),
                ),
            )
            pairs = self._run_stage(
                "pairs",
                lambda: dedup_edges(sketched(), self.cfg, capped_metrics=obs),
                metrics_fn=_pairs_metrics,
            )
        finally:
            if sketch:
                sketch[0].unpersist()
        cc_stats: dict = {}
        clusters = self._run_stage(
            "clusters",
            lambda: connected_components(pairs, stats=cc_stats),
            metrics_fn=lambda: dict(cc_stats),
        )
        return self._run_stage(
            "survivors", lambda: survivors(clusters, sigs.select("key"))
        )
