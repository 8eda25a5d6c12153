"""Checkpoint/resume pipeline tests: kill-and-resume equality + lineage
(SURVEY.md §7 step 8; reference analogue: pickle round-trip,
/root/reference/tests/test_rensa.py:66-75, scaled up to durable stage tables)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from rensa_spark.config import RensaConfig
from rensa_spark.sources.synthetic import generate_corpus

CFG = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8)
STAGES = ("signatures", "bands", "flags", "pairs", "clusters", "survivors")


@pytest.fixture()
def corpus_df(spark):
    pdf = generate_corpus(400, seed=42, with_images=False)
    return spark.createDataFrame(pdf[["image_id", "caption"]])


def _run(spark, corpus_df, base_dir, run_id):
    from rensa_spark.plans.pipeline import DedupPipeline

    pipe = DedupPipeline(spark, CFG, base_dir, run_id=run_id)
    out = pipe.run(corpus_df, "image_id", "caption")
    rows = sorted((r["key"], r["cluster_id"], r["is_survivor"]) for r in out.collect())
    return pipe, rows


def test_resume_skips_completed_stages(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    pipe1, rows1 = _run(spark, corpus_df, base, "run-1")
    assert all(not s["skipped"] for s in pipe1.stage_log)

    # simulated restart: fresh pipeline object, same config
    pipe2, rows2 = _run(spark, corpus_df, base, "run-2")
    assert all(s["skipped"] for s in pipe2.stage_log), pipe2.stage_log
    assert rows1 == rows2


def test_resume_mid_pipeline_after_crash(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    pipe1, rows1 = _run(spark, corpus_df, base, "run-1")
    bands1 = sorted(tuple(r) for r in spark.read.parquet(os.path.join(base, "bands")).collect())

    # simulate a crash after 'pairs', then one right after 'signatures' (the
    # bands must then be rebuilt from a fresh sketch): later outputs lost
    manifest_path = os.path.join(base, "manifest.json")
    for last_done in ("pairs", "signatures"):
        done = STAGES[: STAGES.index(last_done) + 1]
        with open(manifest_path) as f:
            manifest = json.load(f)
        for stage in STAGES[len(done) :]:
            manifest["stages"].pop(stage)
            shutil.rmtree(os.path.join(base, stage))
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)

        pipe2, rows2 = _run(spark, corpus_df, base, f"run-after-{last_done}")
        skipped = {s["stage"] for s in pipe2.stage_log if s["skipped"]}
        recomputed = {s["stage"] for s in pipe2.stage_log if not s["skipped"]}
        assert skipped == set(done)
        assert recomputed == set(STAGES) - set(done)
        assert rows1 == rows2
    bands2 = sorted(tuple(r) for r in spark.read.parquet(os.path.join(base, "bands")).collect())
    assert bands1 == bands2


def test_config_change_invalidates_checkpoints(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    _run(spark, corpus_df, base, "run-1")
    from rensa_spark.plans.pipeline import DedupPipeline

    other = RensaConfig(num_perm=128, seed=7, threshold=0.8, num_bands=8)
    pipe = DedupPipeline(spark, other, base, run_id="run-4")
    pipe.run(corpus_df, "image_id", "caption")
    assert all(not s["skipped"] for s in pipe.stage_log)


def test_lineage_records_per_partition_metrics(spark, corpus_df, tmp_path):
    base = str(tmp_path / "ckpt")
    pipe, _ = _run(spark, corpus_df, base, "run-1")
    lineage = spark.read.parquet(os.path.join(base, "lineage"))
    cols = set(lineage.columns)
    assert {"stage", "part_id", "rows_out", "wall_ms", "config_hash", "run_id"} <= cols
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == set(pipe.STAGES)
    # row counts in lineage match manifest
    with open(os.path.join(base, "manifest.json")) as f:
        manifest = json.load(f)
    from pyspark.sql import functions as F

    per_stage = {
        r["stage"]: r["rows"]
        for r in lineage.groupBy("stage").agg(F.sum("rows_out").alias("rows")).collect()
    }
    for stage, info in manifest["stages"].items():
        assert per_stage[stage] == info["rows"]


def test_pairs_stage_records_bucket_metrics(spark, corpus_df, tmp_path):
    """North-rule per-stage metrics: the pairs stage's manifest entry
    carries the candidate-bucket CollectMetrics (capped / heuristic bucket
    counts + max bucket size), so a production run can tell FROM THE
    MANIFEST whether results entered the >cap heuristic regime."""
    base = str(tmp_path / "ckpt_m")
    _run(spark, corpus_df, base, "run-m")
    with open(os.path.join(base, "manifest.json")) as f:
        manifest = json.load(f)
    m = manifest["stages"]["pairs"].get("metrics")
    assert m is not None
    assert {"capped_buckets", "heuristic_buckets", "max_bucket_size"} <= set(m)
    assert m["heuristic_buckets"] == 0  # tiny corpus never exceeds the cap
    assert m["max_bucket_size"] >= 1


# Jobs a fresh run of the pipeline takes on ``corpus_df`` (local[4], 8
# shuffle partitions): signatures 1, bands 1, flags 3, pairs 7, clusters 3
# (the contraction's shuffle map, the contraction, the write), survivors 2.
# Pairs is one job per AQE query stage: the identical-signature window, the
# bucket-size count, its broadcast, the signature broadcast, the bucket
# repartition, the distinct, the write.
# The pipeline before the single sketch pass, footer lineage and band-row
# pairs took 81.
FRESH_RUN_JOBS = 17
PAIRS_JOBS = 7


def test_fresh_run_job_count_halved(spark, corpus_df, tmp_path):
    """Each written stage records its Spark job count in the manifest; a
    fresh run takes no more jobs than measured, and its clusters stage
    labels the small pair graph in one contraction with no star round."""
    base = str(tmp_path / "ckpt_jobs")
    _run(spark, corpus_df, base, "run-j")
    with open(os.path.join(base, "manifest.json")) as f:
        stages = json.load(f)["stages"]
    jobs = {s: info["metrics"]["spark_jobs"] for s, info in stages.items()}
    assert set(jobs) == set(STAGES)
    assert all(n >= 1 for n in jobs.values()), jobs
    assert sum(jobs.values()) <= FRESH_RUN_JOBS, jobs
    assert jobs["pairs"] <= PAIRS_JOBS, jobs
    cc = stages["clusters"]["metrics"]
    assert cc["spark_jobs"] <= 4, cc
    assert cc["contraction_partitions"] == 1 and cc["star_rounds"] == 0, cc
    assert cc["star_edges"] == stages["clusters"]["rows"], cc


def _chain_corpus(seed: int = 5):
    """Captions plus identical-signature groups and near-duplicate edit
    chains: 6 chains of 12 members over long (3-caption) sources, each one
    token edit from the member before; some members repeated with only
    case/whitespace changes (same shingles, so identical signatures)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    texts = list(generate_corpus(240, seed=seed, with_images=False)["caption"])
    vocab = sorted({w for t in texts for w in t.split()})
    long_texts = [t for t in texts if len(t.split()) >= 12]
    for c in range(6):
        cur = " ".join(long_texts[3 * c : 3 * c + 3]).split()
        for _ in range(12):
            pos = int(rng.integers(len(cur)))
            word = vocab[int(rng.integers(len(vocab)))]
            op = int(rng.integers(3))
            if op == 0:
                cur.pop(pos)
            elif op == 1:
                cur[pos] = word
            else:
                cur.insert(pos, word)
            member = " ".join(cur)
            texts.append(member)
            if rng.random() < 0.3:
                texts.append("  " + member.upper())
    texts = [texts[i] for i in rng.permutation(len(texts))]
    return texts


def _union_find_clusters(texts, cfg):
    """cluster id (min key) per key from union-find over EVERY pair that
    shares a band and has equal-slot fraction >= threshold."""
    import numpy as np

    from rensa_spark.functions.udfs import _band_hash_matrix, _perms
    from rensa_spark.kernels.rminhash import rminhash_matrix
    from rensa_spark.kernels.shingle import shingle_hashes_batch

    flat, offs = shingle_hashes_batch(texts, cfg.ngram_size)
    a, b = _perms(cfg.num_perm, cfg.seed)
    sig = rminhash_matrix(flat, offs, a, b)
    bands = _band_hash_matrix(sig, cfg.num_bands, 1)
    n = len(texts)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        share = (bands[i + 1 :] == bands[i]).any(axis=1)
        sim = (sig[i + 1 :] == sig[i]).mean(axis=1)
        for j in np.nonzero(share & (sim >= cfg.threshold))[0] + i + 1:
            ri, rj = find(i), find(int(j))
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
    n_identical = n - len({row.tobytes() for row in sig})
    return {k: find(k) for k in range(n)}, n_identical


def test_pipeline_matches_dedup_clusters_and_union_find(spark, tmp_path):
    """The pipeline's pairs stage and dedup_clusters both build their
    duplicate graph with dedup_edges, the pipeline from its persisted
    sketch: both must give the clusters of a union-find over all exact
    verified pairs, on a corpus where the identical-signature collapse and
    long chains both matter."""
    from rensa_spark.operators.dedup import dedup_clusters
    from rensa_spark.plans.pipeline import DedupPipeline

    texts = _chain_corpus()
    want, n_identical = _union_find_clusters(texts, CFG)
    assert n_identical >= 20
    chain_sizes = {}
    for c in want.values():
        chain_sizes[c] = chain_sizes.get(c, 0) + 1
    assert sum(1 for s in chain_sizes.values() if s >= 10) >= 4

    df = spark.createDataFrame(
        [(k, t) for k, t in enumerate(texts)], "key long, text string"
    )

    def rows(out):
        return sorted(
            (r["key"], r["cluster_id"], r["is_survivor"]) for r in out.collect()
        )

    expected = sorted((k, c, k == c) for k, c in want.items())
    pipe = DedupPipeline(spark, CFG, str(tmp_path / "ckpt_uf"))
    assert rows(pipe.run(df, "key", "text")) == expected
    assert rows(dedup_clusters(df, CFG, "key", "text")) == expected


def test_each_row_is_sketched_once(spark, tmp_path, monkeypatch):
    """dedup_clusters, multimodal_dedup_clusters and a fresh pipeline run
    each run the batch sketch kernel once per input row: the identical-
    signature collapse's lazy checkpoint (in the pipeline, its persisted
    sketch) is the only reader of the sketch. An accumulator counts the
    rows the kernel sketches."""
    from rensa_spark.functions import udfs
    from rensa_spark.operators import sketch
    from rensa_spark.operators.dedup import dedup_clusters, multimodal_dedup_clusters
    from rensa_spark.plans.pipeline import DedupPipeline

    sketched = spark.sparkContext.accumulator(0)
    kernel = udfs.rminhash_batch

    def counting(col, cfg, *args):
        sketched.add(len(col))
        return kernel(col, cfg, *args)

    monkeypatch.setattr(udfs, "rminhash_batch", counting)
    monkeypatch.setattr(sketch, "rminhash_batch", counting)
    pdf = generate_corpus(300, seed=42, with_images=True)
    df = spark.createDataFrame(pdf[["image_id", "caption", "phash"]])

    def rows_sketched(out):
        before = sketched.value
        out().collect()
        return sketched.value - before

    assert rows_sketched(lambda: dedup_clusters(df, CFG, "image_id", "caption")) == 300
    assert rows_sketched(lambda: multimodal_dedup_clusters(df, CFG)) == 300
    pipe = DedupPipeline(spark, CFG, str(tmp_path / "ckpt_once"))
    assert rows_sketched(lambda: pipe.run(df, "image_id", "caption")) == 300


def _survivor_rows(spark, base):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(base, "survivors"))
        .select("key", "cluster_id", "is_survivor")
        .collect()
    )


def test_kill9_mid_stage_then_resume(spark, tmp_path):
    """``tools/run_pipeline.py`` is SIGKILLed (with its JVM) once
    `signatures` is in the manifest but `pairs` is not; the re-run skips
    exactly the completed stages and its survivors equal an uninterrupted
    run's."""
    import signal
    import subprocess
    import sys
    import time

    from rensa_spark.plans.pipeline import DedupPipeline

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pdf = generate_corpus(400, seed=42, with_images=False)[["image_id", "caption"]]
    inp = str(tmp_path / "input.parquet")
    pdf.to_parquet(inp)
    base = str(tmp_path / "ckpt_kill")
    manifest_path = os.path.join(base, "manifest.json")
    cmd = [
        sys.executable, os.path.join(repo, "tools", "run_pipeline.py"),
        "--input", inp, "--checkpoint-dir", base,
    ]
    env = dict(
        os.environ,
        PYTHONPATH=repo,
        PYSPARK_SUBMIT_ARGS="--master local[2] --driver-memory 1g pyspark-shell",
    )

    def done_stages():
        try:
            with open(manifest_path) as f:
                return set(json.load(f)["stages"])
        except (OSError, ValueError, KeyError):
            return set()

    proc = subprocess.Popen(
        cmd, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    try:
        deadline = time.monotonic() + 300
        while "signatures" not in done_stages():
            assert proc.poll() is None, "pipeline exited before the kill"
            assert time.monotonic() < deadline, "signatures stage never finished"
            time.sleep(0.02)
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    completed = done_stages()
    assert "signatures" in completed and "pairs" not in completed, completed

    rerun = subprocess.run(
        cmd + ["--run-id", "run-resume"], env=env, capture_output=True,
        text=True, timeout=600,
    )
    assert rerun.returncode == 0, rerun.stderr[-2000:]
    log = json.loads(rerun.stdout.strip().splitlines()[-1])["stages"]
    assert [s["stage"] for s in log] == list(STAGES)
    assert {s["stage"] for s in log if s["skipped"]} == completed

    cfg = RensaConfig(num_perm=128, num_bands=8, threshold=0.8, ngram_size=3, seed=42)
    clean = str(tmp_path / "ckpt_clean")
    DedupPipeline(spark, cfg, clean).run(
        spark.read.parquet(inp), "image_id", "caption"
    )
    assert _survivor_rows(spark, base) == _survivor_rows(spark, clean)
