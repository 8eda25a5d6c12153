"""Fixed cost of the Python worker boundary per task wave.

Times three jobs over one cached table, interleaved, min of N:

- ``jvm_s``: a JVM-only noop write at one task wave (partitions = cores);
- ``py_1wave_s``: a pass-through ``mapInPandas`` at one task wave;
- ``py_2wave_s``: the same rows at two task waves (partitions = 2 x cores).

Rows are the same in every job, so ``py_2wave_s - py_1wave_s`` is what one
more wave of Python tasks costs on top of the row work (``py_fixed_s_per_wave``)
and ``py_1wave_s - jvm_s`` is the whole Python boundary at one wave. The
body imports ``rensa_spark`` first, as every engine UDF and ``mapInPandas``
body does by living in the package. Prints one JSON line.

Usage: python tools/py_task_cost.py [--rows 4000] [--reps 9]
  env: SPARK_GRAFT_CPUS (default: nproc)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _pass_through(batches):
    import rensa_spark  # noqa: F401

    yield from batches


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--rows", type=int, default=4000)
    p.add_argument("--reps", type=int, default=9)
    args = p.parse_args()
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

    from pyspark.sql import functions as F

    from rensa_spark.session import get_spark

    spark = get_spark(app_name="py-task-cost", master=f"local[{cores}]", shuffle_partitions=cores)
    base = spark.range(args.rows).withColumn("text", F.concat(F.lit("caption "), F.col("id").cast("string")))
    one, two = (base.repartition(n).cache() for n in (cores, 2 * cores))
    one.count(), two.count()
    schema = base.schema
    jobs = {
        "jvm_s": one,
        "py_1wave_s": one.mapInPandas(_pass_through, schema),
        "py_2wave_s": two.mapInPandas(_pass_through, schema),
    }
    best = {}
    for rep in range(args.reps + 1):  # rep 0 warms the JIT and starts the workers
        for name, df in jobs.items():
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if rep:
                best[name] = min(best.get(name, float("inf")), time.perf_counter() - t)
    spark.stop()
    out = {"cores": cores, "rows": args.rows, "reps": args.reps}
    out.update({k: round(v, 4) for k, v in best.items()})
    out["py_over_jvm_s"] = round(best["py_1wave_s"] - best["jvm_s"], 4)
    out["py_fixed_s_per_wave"] = round(best["py_2wave_s"] - best["py_1wave_s"], 4)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
