"""Self-test of the benchmark at smoke size (a few minutes, one Spark run at
a time):

    python3 bench_dedup/selftest.py [workload ...]

For each workload (default: those in BENCHMARK.json plus stream_captions):

1. an untraced run prints exactly the result keys, ``correct: true``, and
   every end-to-end metric of BENCHMARK.json with its unit;
2. a traced run with one output decision flipped (``--corrupt``) prints
   every per-layer metric with its unit and reports the flip as a failure.

Finally a copy holding only BENCHMARK.json and bench_dedup/ must exit
non-zero without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("bench_dedup", "run.py")]


def _run(cwd: str, *extra: str) -> tuple[int, str]:
    proc = subprocess.run(
        RUN + ["--seed", "5", "--seconds", "1", "--size", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def _result(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    assert lines, "no output"
    return json.loads(lines[-1])


def _check_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, sorted(res)
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    want = {m["name"]: m["unit"] for m in declared}
    got = res["metrics"]
    assert set(got) == set(want), f"missing {set(want) - set(got)}, extra {set(got) - set(want)}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], float) and math.isfinite(got[name]["value"]), (name, got[name])


def check_workload(workload: str, spec: dict) -> None:
    code, out = _run(ROOT, "--workload", workload, "--trace", "0")
    assert code == 0, f"{workload}: exit {code}"
    res = _result(out)
    _check_metrics(res, spec["end_to_end"])
    assert res["correct"] and res["failed"] == 0, res
    for name in ("decision_agreement", "dup_pair_recall", "success_rate"):
        assert res["metrics"][name]["value"] == 1.0, (name, res["metrics"][name])

    code, out = _run(ROOT, "--workload", workload, "--trace", "1", "--corrupt")
    assert code == 0, f"{workload} traced: exit {code}"
    res = _result(out)
    _check_metrics(res, spec["per_layer"])
    assert not res["correct"] and res["failed"] >= 1, f"{workload}: corrupted decision not reported: {res}"


def check_bare_copy() -> None:
    bare = os.path.join(ROOT, ".bench_dedup_run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "bench_dedup"), ignore=shutil.ignore_patterns("__pycache__"))
        code, out = _run(bare, "--workload", "flags_captions", "--trace", "0")
        assert code != 0, "bare copy exited 0"
        assert not out.strip(), f"bare copy printed: {out!r}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = argv or [w["name"] for w in spec["workloads"]] + ["stream_captions"]
    for w in dict.fromkeys(workloads):
        check_workload(w, spec)
        print(f"ok {w}", flush=True)
    check_bare_copy()
    print("ok bare copy exits non-zero")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
