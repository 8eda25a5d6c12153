"""Dedup benchmark: one workload, one seed, one run.

    python3 bench_dedup/run.py --workload flags_captions --seed 1 --seconds 10 --trace 0

Run from the repository root. The corpus and the reference decisions are
made from ``--seed`` before anything is timed; then the run sets up Spark
(several times, reporting the median), runs the workload's iterations for
``--seconds`` (at least the workload's minimum), checks every output against
the reference, and prints one JSON object as the last line of stdout.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced iterations, runs the layer probes and the kernel
microbenchmark, prints the per-layer metrics and writes every span to
``.bench_dedup_run/traces/``. See bench_dedup/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
KERNEL_ROWS = 20_000


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument("--corrupt", action="store_true", help="flip one output decision (self-test)")
    return p.parse_args(argv)


def _tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten samples
    beyond it once that is p90 or above (100 samples or more); below that,
    the interpolated p90, which does not jump as the sample count changes."""
    s = sorted(values)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n
    if n >= 2:
        return statistics.quantiles(s, n=10, method="inclusive")[-1], 90.0
    return s[-1], 100.0


def _kernel_rates(texts: list[str], cfg) -> dict:
    """Rows/s of the three sketch kernels alone (no Spark), median of 3."""
    import numpy as np

    from rensa_spark.kernels.fxhash import band_hash_u64
    from rensa_spark.kernels.prng import rminhash_permutations
    from rensa_spark.kernels.rminhash import rminhash_matrix
    from rensa_spark.kernels.shingle import shingle_hashes_batch

    a, b = rminhash_permutations(cfg.num_perm, cfg.seed)
    bs = cfg.band_size
    times = {"shingle": [], "minhash": [], "band": []}
    for _ in range(3):
        t0 = time.perf_counter()
        flat, offs = shingle_hashes_batch(texts, cfg.ngram_size)
        t1 = time.perf_counter()
        sig = rminhash_matrix(flat, offs, a, b)
        t2 = time.perf_counter()
        np.stack([band_hash_u64(sig[:, i * bs : (i + 1) * bs]) for i in range(cfg.num_bands)], axis=1)
        t3 = time.perf_counter()
        times["shingle"].append(t1 - t0)
        times["minhash"].append(t2 - t1)
        times["band"].append(t3 - t2)
    return {k: len(texts) / statistics.median(v) for k, v in times.items()}


def _span_wall(span) -> float:
    return span.wall_s if span is not None else 0.0


def _span_spark(span, key: str) -> float:
    return float(span.spark.get(key, 0.0)) if span is not None else 0.0


def _layer_metrics(wl, probes: dict, deltas: list, run_counts: dict, kernel: dict, stream) -> dict:
    """Per-layer metrics; layers a workload does not exercise read 0."""
    per_row_kernel_s = wl.sketch_passes * (1.0 / kernel["shingle"] + 1.0 / kernel["minhash"]) + 1.0 / kernel["band"]
    sk = probes.get("sketch")
    sk_rows = wl.batch if wl.name == "stream_captions" else wl.n
    sk_cpu = _span_spark(sk, "executor_cpu_s") + _span_spark(sk, "python_cpu_s")
    pairs_s = _span_wall(probes.get("lsh.pairs"))
    cand = probes.get("candidate_pairs", 0)
    verified = probes.get("verified_pairs", 0)
    m = {
        "kernels.shingle_rows_per_s": kernel["shingle"],
        "kernels.minhash_rows_per_s": kernel["minhash"],
        "kernels.band_rows_per_s": kernel["band"],
        "sketch.s": _span_wall(sk),
        "sketch.python_worker_s": _span_spark(sk, "python_worker_s"),
        "sketch.python_bytes_out": _span_spark(sk, "python_bytes_out"),
        "sketch.kernel_share": sk_rows * per_row_kernel_s / sk_cpu if sk_cpu else 0.0,
        "lsh.flags_s": _span_wall(probes.get("lsh.flags")),
        "lsh.shuffle_bytes": _span_spark(probes.get("lsh.flags"), "shuffle_write_bytes"),
        "lsh.pairs_s": pairs_s,
        "lsh.candidate_pairs": cand,
        "lsh.max_bucket_size": probes.get("max_bucket_size", 0),
        "dedup.identical_collapsed_rows": probes.get("identical_collapsed_rows", 0),
        "dedup.verify_s": max(_span_wall(probes.get("dedup.verify")) - pairs_s, 0.0),
        "dedup.verified_pairs": verified,
        "dedup.verify_yield": verified / cand if cand else 0.0,
        "cc.s": _span_wall(probes.get("cc")),
        "cc.edges_in": probes.get("edges_in", 0),
        "cc.jobs": _span_spark(probes.get("cc"), "jobs"),
    }
    stages = {}
    for man in getattr(wl, "manifests", []):
        for stage, info in man.get("stages", {}).items():
            stages.setdefault(stage, []).append(info["wall_ms"] / 1e3)
    for stage in ("signatures", "bands", "flags", "pairs", "clusters", "survivors"):
        m[f"pipeline.{stage}_s"] = statistics.median(stages[stage]) if stage in stages else 0.0
    m["pipeline.ckpt_bytes"] = run_counts.get("pipeline_ckpt_bytes", 0)
    m.update(_stream_metrics(stream))
    n_d = max(len(deltas), 1)
    for key in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "python_worker_s", "driver_gap_s",
    ):
        m[f"spark.{key}"] = sum(getattr(d, key) for d in deltas) / n_d
    m["spark.log_errors"] = run_counts["log_errors"]
    m["trace_overhead_s"] = run_counts["trace_overhead_s"]
    return m


def _stream_metrics(st) -> dict:
    """stream.* from a StreamCaptions run (the workload itself, or the
    pipeline workload's stream probe); zeros when neither ran."""
    import numpy as np

    from spans import dir_bytes

    if st is None or not st.walls:
        return {k: 0.0 for k in ("stream.jobs_per_batch", "stream.driver_gap_s_per_batch", "stream.state_bytes", "stream.batch_s_slope")}
    traced = [d for d in st.deltas if d is not None]
    n = max(len(traced), 1)
    x = np.asarray(st.kept_before[: len(st.walls)], dtype=float) / 1e3
    return {
        "stream.jobs_per_batch": sum(d.jobs for d in traced) / n,
        "stream.driver_gap_s_per_batch": sum(d.driver_gap_s for d in traced) / n,
        "stream.state_bytes": sum(dir_bytes(os.path.join(st.state, d)) for d in ("kept_sigs", "kept_bands")),
        "stream.batch_s_slope": float(np.polyfit(x, st.walls, 1)[0]) if np.ptp(x) > 0 else 0.0,
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rensa_spark", "__init__.py")):
        print(f"bench_dedup: no rensa_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from corpus import batch_size, make_table
    from host import SparkHost, wait_for_no_java
    from spans import SparkStatus, Tracer, cpu_ticks, loadavg, peak_rss_mb, steal_share
    from workloads import WORKLOADS, StreamCaptions

    if args.workload not in WORKLOADS:
        print(f"bench_dedup: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    others = wait_for_no_java(15.0)
    if others:
        print(f"bench_dedup: refusing to start, java already running: pids {others}", file=sys.stderr)
        return 3

    import numpy as np

    from rensa_spark.config import RensaConfig

    nproc = os.cpu_count() or 1
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_dedup_run", run_id)
    tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    load_before, ticks_before = loadavg(), cpu_ticks()
    cfg = RensaConfig()
    table = make_table(args.workload, args.seed, args.size)
    input_path = os.path.join(work, "input.parquet")
    table.to_parquet(input_path, index=False)
    cls = WORKLOADS[args.workload]
    kw = {"batch": batch_size(args.workload, args.size)} if cls is StreamCaptions else {}
    wl = cls(table, cfg, work, args.corrupt, **kw)
    from reference import spot_check

    spot_bad = spot_check(wl.texts, wl.sig, wl.bands, cfg, np.random.default_rng(args.seed), k=32)
    if spot_bad:
        print(f"bench_dedup: reference disagrees with pyrensa on rows {spot_bad}", file=sys.stderr)

    host = SparkHost(ROOT, work, nproc)
    outcomes, walls_plain, walls_traced, deltas, setups = [], [], [], [], []
    errors = 0
    layer = {}
    try:
        # warm-up iterations fill the JIT and are checked but not timed; a
        # traced run then alternates untraced and traced iterations
        warm = []
        tracer = None

        def attempt(traced: bool, warmup: bool = False):
            nonlocal errors
            try:
                out, delta = wl.iteration(tracer if traced else None, warmup=warmup)
            except Exception as e:  # a failed call counts against success_rate
                print(f"bench_dedup: iteration failed: {e!r}"[:2000], file=sys.stderr)
                errors += 1
                return False
            (warm if warmup else outcomes).append(out)
            if isinstance(wl, StreamCaptions):
                wl.walls.append(out.wall_s)
                wl.deltas.append(delta)
            if not warmup:
                (walls_traced if traced else walls_plain).append(out.wall_s)
                if traced:
                    deltas.append(delta)
            return True

        # a workload with short iterations is timed after every set-up, a
        # share of --seconds each, so what differs from one SparkContext to
        # the next (worker processes, cache placement) averages out; the
        # others, and every traced run, are timed after the last set-up only
        timed_setups = range(SETUPS) if wl.every_setup and not args.trace else [SETUPS - 1]
        share = args.seconds / len(timed_setups)
        min_iters = -(-(wl.min_iters + 1 if args.trace else wl.min_iters) // len(timed_setups))
        alive = True
        for k in range(SETUPS):
            spark, df, took = host.setup(input_path)
            setups.append(took)
            if k in timed_setups and alive:
                wl.bind(spark, df)
                if tracer is None:
                    tracer = Tracer(run_id, SparkStatus(spark) if args.trace else None)
                    log_errors_before = host.log_error_lines()
                n_warm = wl.warmups if k == timed_setups[0] else wl.rewarms
                alive = all(attempt(False, warmup=True) for _ in range(n_warm))
                # the stream's kept state is not trustworthy after a failed batch
                alive = alive or not isinstance(wl, StreamCaptions)
                # only whole iterations that fit in the share (at the mean
                # pace so far) are started, so a run's length does not depend
                # on how far the last iteration overshoots
                done, t_start = 0, time.perf_counter()
                while alive and not wl.exhausted():
                    elapsed = time.perf_counter() - t_start
                    if done >= min_iters and elapsed * (done + 1) / done > share:
                        break
                    ok = attempt(bool(args.trace) and len(outcomes) % 2 == 1)
                    done += 1
                    alive = ok or not isinstance(wl, StreamCaptions)
            if k < SETUPS - 1:
                df.unpersist()
                host.stop_context()
        rss = peak_rss_mb(host.jvm_pid)
        log_errors = host.log_error_lines() - log_errors_before
        if args.trace:
            probes = {}
            try:
                probes = wl.probes(tracer)
            except Exception as e:
                print(f"bench_dedup: layer probes failed: {e!r}"[:2000], file=sys.stderr)
            kernel = _kernel_rates(wl.texts[:KERNEL_ROWS], cfg)
            layer = _layer_metrics(
                wl,
                probes,
                deltas,
                {
                    "log_errors": log_errors,
                    "trace_overhead_s": (
                        statistics.median(walls_traced) - statistics.median(walls_plain)
                        if walls_traced and walls_plain else 0.0
                    ),
                    "pipeline_ckpt_bytes": outcomes[-1].written_bytes if wl.name == "pipeline_captions" and outcomes else 0,
                },
                kernel,
                wl if isinstance(wl, StreamCaptions) else probes.get("stream"),
            )
    finally:
        host.shutdown()
    load_after, ticks_after = loadavg(), cpu_ticks()

    attempted = len(warm) + len(outcomes) + errors
    failed = errors + sum(1 for o in warm + outcomes if not o.ok)
    timed = outcomes
    walls = [o.wall_s for o in timed] or [0.0]
    p50 = statistics.median(walls)
    tail, tail_pct = _tail(walls)
    checked = sum(o.checked for o in warm + outcomes)
    recall_all = sum(o.recall_all for o in warm + outcomes)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "rows_per_s": (statistics.median(o.rows for o in timed) / p50 if timed else 0.0, "rows/s"),
        "batch_p50_s": (p50, "s"),
        "success_rate": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
        "decision_agreement": (sum(o.agree for o in warm + outcomes) / checked if checked else 0.0, "ratio"),
        "dup_pair_recall": (sum(o.recall_hit for o in warm + outcomes) / recall_all if recall_all else 1.0, "ratio"),
        "ckpt_bytes_per_input_byte": (
            statistics.median(o.written_bytes / o.input_bytes for o in outcomes) if outcomes else 0.0,
            "B/B",
        ),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]} for m in spec["end_to_end"]}
    host_info = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "nproc": nproc,
        "master": host.master, "setups_s": setups, "warmups_s": [o.wall_s for o in warm],
        "iterations_s": walls, "peak_rss_mb": rss,
        "batch_tail_s": tail, "batch_tail_percentile": tail_pct, "loadavg_before": load_before, "loadavg_after": load_after,
        "steal_share": steal_share(ticks_before, ticks_after),
        "error_rate": failed / attempted if attempted else 1.0,
    }
    if args.trace:
        tracer.dump(
            os.path.join(ROOT, ".bench_dedup_run", "traces", f"{run_id}.json"),
            {**host_info, "end_to_end": {k: v for k, (v, _u) in e2e.items()}, "per_layer": layer},
        )
    shutil.rmtree(work, ignore_errors=True)
    print("# " + json.dumps(host_info))
    print(json.dumps({
        "correct": failed == 0 and not spot_bad and bool(outcomes),
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
