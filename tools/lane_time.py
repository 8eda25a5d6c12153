"""Per-lane timing + plan capture for optimization work (bench.py is FROZEN
for measurement, so iteration tooling lives here — guide §1: measure first,
isolate with the noop sink, capture explain("formatted")).

Usage:
  python tools/lane_time.py lane [lane ...]          # best-of-N noop timing
                                                     # and Spark jobs per trial
  python tools/lane_time.py --explain OUTDIR lane..  # write <lane>.txt plans
  env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_TRIALS (default 3)

Lane names match bench.py: every queries() entry plus the synthetic_* lanes
(reconstructed here with the same seeds/shapes as bench.py so numbers are
comparable; bench.py itself is never imported or modified).
``synthetic_aiu_identical_20k`` and ``synthetic_stream_identical_4k``
exist only here: add_if_unique over a corpus with one 1,000-member
identical-caption group, and two StreamingDeduplicator batches whose first
holds one 500-member identical-caption group.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_ROWS = int(os.environ.get("BENCH_SYNTH_ROWS", "200000"))
TRIALS = int(os.environ.get("BENCH_TRIALS", "3"))


def synthetic_lanes(spark, cfg):
    """name -> (lazily built) df-factory, mirroring bench.py's synthetic
    corpora (same seeds / shapes). Each entry is a zero-arg callable
    returning a zero-arg callable producing the DataFrame to noop-sink."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from rensa_spark.api import RhoEngine
    from rensa_spark.functions.udfs import rminhash_sig_udf
    from rensa_spark.operators.dedup import dup_flags, exact_dup_flags
    from rensa_spark.operators.similarity import (
        ann_near_dup_pairs,
        bucketed_topk_join,
        simhash_near_pairs,
    )

    lanes = {}

    def corpus_df():
        import pandas as pd  # noqa: F811

        path = f"/tmp/rensa_bench_corpus_{SYNTH_ROWS}.parquet"
        if not os.path.exists(path):
            from rensa_spark.sources.synthetic import generate_corpus

            pdf = generate_corpus(SYNTH_ROWS, seed=12345, with_images=False)
            pdf[["image_id", "caption"]].to_parquet(path, index=False)
        c = spark.read.parquet(path).repartition(CPUS * 3).cache()
        c.count()
        return c

    def _sketch():
        corpus = corpus_df()
        sig = rminhash_sig_udf(cfg)
        return lambda: corpus.select(
            F.aggregate(
                sig("caption"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
            ).alias("s")
        )

    lanes["synthetic_sketch_200k"] = _sketch

    def _oneshot():
        corpus = corpus_df()
        return lambda: dup_flags(corpus, cfg, "image_id", "caption")

    lanes["synthetic_oneshot_dedup_200k"] = _oneshot

    def _rho_sparse():
        corpus = corpus_df()
        sparse = corpus.select(
            "image_id",
            F.array_join(
                F.slice(F.split(F.col("caption"), " "), 1, 8), " "
            ).alias("caption"),
        ).cache()
        sparse.count()
        engine = RhoEngine(cfg)
        return lambda: engine.dup_flags(sparse, "image_id", "caption")

    lanes["synthetic_rho_sparse_200k"] = _rho_sparse

    def _hot_df():
        rng = np.random.default_rng(777)
        vocab = [f"w{i:03d}" for i in range(900)]
        hot_pdf = pd.DataFrame(
            {
                "image_id": np.arange(50_000, dtype=np.int64),
                "caption": [
                    " ".join(rng.choice(vocab, size=12)) for _ in range(40_000)
                ]
                + ["the same boilerplate caption appears everywhere"] * 10_000,
            }
        )
        d = spark.createDataFrame(hot_pdf).repartition(CPUS).cache()
        d.count()
        return d

    def _simhash_hot():
        hot = _hot_df()
        return lambda: simhash_near_pairs(hot, cfg, "image_id", "caption")

    lanes["synthetic_simhash_hot_50k"] = _simhash_hot

    def _degenerate():
        empty = (
            spark.range(0, 100_000, 1, CPUS)
            .select(F.col("id").alias("image_id"), F.lit("").alias("caption"))
            .cache()
        )
        empty.count()
        return lambda: dup_flags(empty, cfg, "image_id", "caption")

    lanes["synthetic_degenerate_flags_100k"] = _degenerate

    def _ann_df():
        dim_ann = 32
        rng_ann = np.random.default_rng(4242)
        base_vecs = rng_ann.normal(size=(40_000, dim_ann)).astype(np.float32)
        block_vec = np.tile(
            rng_ann.normal(size=(1, dim_ann)).astype(np.float32), (10_000, 1)
        )
        ann_pdf = pd.DataFrame(
            {
                "vec_id": np.arange(50_000, dtype=np.int64),
                "embedding": [v.tolist() for v in np.vstack([base_vecs, block_vec])],
            }
        )
        d = spark.createDataFrame(ann_pdf).repartition(CPUS).cache()
        d.count()
        return d

    def _ann_hot():
        ann_df = _ann_df()
        return lambda: ann_near_dup_pairs(
            ann_df, "vec_id", "embedding", min_cosine=0.3, n_planes=6,
            dim=32, hot_bucket_cap=512, extra_planes=6,
        )

    lanes["synthetic_ann_hot_50k"] = _ann_hot

    def _topk_hot():
        ann_df = _ann_df()
        return lambda: bucketed_topk_join(
            ann_df, "vec_id", "embedding", ann_df, "vec_id", "embedding",
            k=5, n_planes=6, dim=32, hot_bucket_cap=128, extra_planes=6,
        )

    lanes["synthetic_topk_hot_50k"] = _topk_hot

    def _jpeg():
        from rensa_spark.operators.jpeg_codec import encode_jpeg
        from rensa_spark.operators.multimodal import image_stats
        from rensa_spark.sources.synthetic import phash_of_pixels

        rng_j = np.random.default_rng(99)
        jrows = []
        for i in range(2000):
            coarse = rng_j.integers(0, 256, size=(4, 4, 3))
            px = np.repeat(np.repeat(coarse, 8, axis=0), 8, axis=1).astype(np.uint8)
            jrows.append(
                ("img%04d" % i, encode_jpeg(px), 32, 32, "jpeg", "cap %d" % i,
                 phash_of_pixels(px))
            )
        jpdf = pd.DataFrame(
            jrows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
        )
        jdf = spark.createDataFrame(jpdf).repartition(CPUS).cache()
        jdf.count()
        return lambda: image_stats(jdf)

    lanes["synthetic_jpeg_decode_2k"] = _jpeg

    def _exact_10kb():
        body_words = np.array([f"tok{i:04d}" for i in range(5000)])
        docs = []
        for i in range(20_000):
            seed = i if i < 18_000 else i - 18_000
            r = np.random.default_rng(seed)
            docs.append(" ".join(r.choice(body_words, size=1400)))
        big_pdf = pd.DataFrame(
            {"image_id": np.arange(20_000, dtype=np.int64), "caption": docs}
        )
        big_df = spark.createDataFrame(big_pdf).repartition(CPUS).cache()
        big_df.count()
        return lambda: exact_dup_flags(big_df, "image_id", "caption")

    lanes["synthetic_exact_dedup_10kb_20k"] = _exact_10kb

    def _aiu_identical():
        # add_if_unique over 20k captions, 1,000 of them one identical
        # caption: a 1,000-member conflict clique (499,500 edges) beside
        # the corpus' own planted duplicates
        from rensa_spark.operators.dedup import add_if_unique
        from rensa_spark.sources.synthetic import generate_corpus

        pdf = generate_corpus(20_000, seed=2024, with_images=False)
        pdf = pdf[["image_id", "caption"]].copy()
        same = np.random.default_rng(2024).choice(len(pdf), 1_000, replace=False)
        pdf.loc[pdf.index[same], "caption"] = "the same boilerplate caption appears everywhere"
        d = spark.createDataFrame(pdf).repartition(CPUS).cache()
        d.count()
        return lambda: add_if_unique(d, cfg, "image_id", "caption")

    lanes["synthetic_aiu_identical_20k"] = _aiu_identical

    def _stream_identical():
        # two 2,000-row StreamingDeduplicator batches over 4k captions, 500
        # rows of the first one identical caption; every trial starts from
        # a fresh state dir, and the lane reads the decisions table
        import shutil
        import tempfile

        from rensa_spark.sources.synthetic import generate_corpus
        from rensa_spark.streaming.dedup import StreamingDeduplicator

        pdf = generate_corpus(4_000, seed=2024, with_images=False)
        pdf = pdf[["image_id", "caption"]].rename(columns={"image_id": "key", "caption": "text"})
        same = np.random.default_rng(2024).choice(2_000, 500, replace=False)
        pdf.loc[pdf.index[same], "text"] = "the same boilerplate caption appears everywhere"
        batches = [
            spark.createDataFrame(pdf.iloc[lo : lo + 2_000]).repartition(CPUS).cache()
            for lo in (0, 2_000)
        ]
        for b in batches:
            b.count()

        states = []

        def run():
            # the previous trial's state is no longer read: drop it
            for old in states:
                shutil.rmtree(old, ignore_errors=True)
            state = tempfile.mkdtemp(prefix="rensa_stream_lane_")
            states[:] = [state]
            dedup = StreamingDeduplicator(spark, cfg, state)
            for epoch, batch in enumerate(batches):
                dedup.process_batch(batch, epoch)
            return spark.read.parquet(os.path.join(state, "decisions"))

        return run

    lanes["synthetic_stream_identical_4k"] = _stream_identical

    return lanes


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    if args and args[0] == "--explain":
        explain_dir = args[1]
        args = args[2:]
        os.makedirs(explain_dir, exist_ok=True)
    if not args:
        print("usage: lane_time.py [--explain DIR] lane [lane ...]")
        raise SystemExit(2)

    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from rensa_spark.config import RensaConfig
    from rensa_spark.session import get_spark

    cfg = RensaConfig(num_perm=128, seed=12345, threshold=0.8, num_bands=8, ngram_size=3)
    spark = get_spark(
        app_name="rensa-lane-time",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
    )

    # same python-worker warmup as bench.py
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf
    from pyspark.sql.types import LongType

    def _warm_fn(texts):
        import rensa_spark.kernels.rminhash  # noqa: F401

        return texts.str.len().astype("int64")

    _warm = pandas_udf(_warm_fn, LongType(), PandasUDFType.SCALAR)
    warm_df = spark.range(0, CPUS * 4, 1, CPUS * 4).withColumn(
        "t", F.lit("warm up the executor python workers")
    )
    warm_df.select(_warm("t")).write.format("noop").mode("overwrite").save()

    qmap = em.queries()
    synth = synthetic_lanes(spark, cfg)
    results = {}
    for name in args:
        if name in qmap:
            fn = qmap[name]
            build = lambda fn=fn: (lambda: fn(spark, SF_DIR))
        elif name in synth:
            build = synth[name]
        else:
            print(f"unknown lane: {name}")
            continue
        mk = build()
        if explain_dir is not None:
            plan = mk()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(explain_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
            continue
        best, samples, jobs = float("inf"), [], []
        sc = spark.sparkContext
        for trial in range(TRIALS):
            # one job group per trial: the status tracker lists its jobs
            # without running one
            group = f"lane {name} trial {trial}"
            sc.setJobGroup(group, f"lane: {name}")
            t0 = time.perf_counter()
            mk().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        results[name] = {"best": round(best, 3), "samples": samples, "jobs": jobs,
                         "load": round(os.getloadavg()[0], 2)}
        print(f"{name}: best={best:.3f} samples={samples} jobs={jobs}")
    spark.stop()
    print(json.dumps(results))


if __name__ == "__main__":
    main()
