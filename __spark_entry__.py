"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship one-shot MinHash dup-flag pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-runnable SQL equivalents.

Oracle notes: the sketch math (fxhash64, MinHash/CMinHash min-folds, band
hashes, the Rho mixer and its refined decision flow) IS SQL-expressible —
rensa_spark/oracle/duck_sql.py generates it as DuckDB HUGEINT SQL with
permutation constants inlined from the same Xoshiro stream the UDFs use,
and tests/test_duck_oracles.py proves each generated stage bit-exact
against the numpy kernels. Round 3 quantized the hyperplane ANN lanes to
int64 fixed-point (floor(x * 2^20) planes and vectors), so those are now
SQL-checkable too — every query carries a hash-verified DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rensa_spark.config import RensaConfig

CFG = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8, ngram_size=3)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scale-adaptive input spreading (round 6, guide §2.5/§6): the oracle
    SFs are ONE parquet split, which pinned every heavy per-row stage
    (shingle+sketch UDFs, gram/token JVM string work) on a single core —
    the profiled ngram lane spent its whole gram pass in a 1-task stage.
    When the scan has fewer partitions than the default parallelism, one
    cheap round-robin exchange of the (tiny) input fans the work out; at
    production scale the scan already has >= cores splits and this is a
    no-op (no repartition node at all). Results are partitioning-
    independent (every lane is value-hash-verified against its oracle)."""
    p = spark.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, _docs(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one-shot duplicate flags (benchmark semantics,
    /root/reference/src/lsh/one_shot.rs:294-332) over sf0.001 documents."""
    from rensa_spark.operators.dedup import dup_flags

    docs = _docs(spark, "/root/testdata/sf0.001")
    return dup_flags(docs, CFG, "doc_id", "text").orderBy("key")


# --------------------------------------------------------------- queries
def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.dedup import exact_dup_flags

    return (
        exact_dup_flags(_docs(spark, sf_dir), "doc_id", "text")
        .select(
            F.col("key").alias("doc_id"),
            F.col("is_dup"),
            F.col("group_size").cast("long").alias("group_size"),
            F.col("is_survivor"),
        )
        .orderBy("doc_id")
    )


def _q_minhash_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.dedup import dup_flags

    return (
        dup_flags(_docs_spread(spark, sf_dir), CFG, "doc_id", "text")
        .select(F.col("key").alias("doc_id"), F.col("is_dup"))
        .orderBy("doc_id")
    )


def _q_minhash_signature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch output summarized to scalars; hash-checked against the
    generated DuckDB minhash SQL (oracle/duck_sql.py)."""
    from rensa_spark.functions.udfs import rminhash_sig_udf

    sig = rminhash_sig_udf(CFG)
    return (
        _docs_spread(spark, sf_dir)
        .select(F.col("doc_id"), sig(F.col("text")).alias("sig"))
        .select(
            "doc_id",
            F.aggregate(
                "sig", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
            ).alias("sig_abs_sum"),
            F.array_min("sig").cast("long").alias("sig_min"),
            F.array_max("sig").cast("long").alias("sig_max"),
        )
        .orderBy("doc_id")
    )


def _q_cminhash_signature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.functions.udfs import cminhash_sig_udf

    sig = cminhash_sig_udf(CFG, bits=32)
    return (
        _docs(spark, sf_dir)
        .select(F.col("doc_id"), sig(F.col("text")).alias("sig"))
        .select(
            "doc_id",
            F.aggregate(
                "sig", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
            ).alias("sig_abs_sum"),
            F.array_min("sig").cast("long").alias("sig_min"),
        )
        .orderBy("doc_id")
    )


def _q_cminhash_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH one-shot flags over the C-MinHash digest (the LSH index
    accepts any digest matrix, src/lsh/py.rs:94-108) — same skew-proof
    singleton-count flag aggregation as the flagship.

    The projection also carries min(band_hash) per doc (round-4 verdict ask
    #4): on the driver corpus the R- and C-MinHash sketches flag the
    identical row set, so the flags alone could not distinguish a regression
    that silently emitted R-MinHash bands here — the min band hash is a
    direct function of the C-MinHash digest values and pins the sketch."""
    from rensa_spark.operators.lsh import one_shot_flags_from_bands
    from rensa_spark.operators.sketch import cminhash_band_rows

    docs = _docs(spark, sf_dir)
    # two consumers (flags + min agg): sketch the corpus ONCE. Eager, as
    # lsh.one_shot_dup_flags_rho's base: a lazy checkpoint read by both
    # branches at once was computed by two tasks (``Block ... already
    # exists``), whose freed plan's metrics then logged ``non-existent
    # accumulator`` errors
    bands = cminhash_band_rows(docs, CFG, "doc_id", "text").localCheckpoint(eager=True)
    flags = one_shot_flags_from_bands(
        bands,
        keys=docs.select(
            F.col("doc_id").alias("key"), F.lit(CFG.num_bands).alias("n_bands")
        ),
    )
    min_bh = bands.groupBy("key").agg(F.min("band_hash").alias("min_band_hash"))
    return (
        flags.join(min_bh, "key")
        .select(F.col("key").alias("doc_id"), F.col("is_dup"), F.col("min_band_hash"))
        .orderBy("doc_id")
    )


def _q_rho_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rho sketch sidecar columns (token budget / occupancy semantics,
    src/rminhash/rho.rs); hash-checked against the generated mixer SQL."""
    from rensa_spark.operators.dedup import sketch_rho

    return (
        sketch_rho(_docs_spread(spark, sf_dir), CFG, "doc_id", "text")
        .select(
            "doc_id",
            F.col("token_count").cast("long").alias("shingle_count"),
            F.col("non_empty").cast("long").alias("non_empty"),
            F.col("is_sparse"),
        )
        .orderBy("doc_id")
    )


def _q_shingle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingle count per document (tokenizer parity with
    benchmarks/full_benchmark.py:306-310) — fully SQL-expressible."""
    from rensa_spark.functions.udfs import shingle_hashes_udf

    sh = shingle_hashes_udf(CFG)
    return (
        _docs_spread(spark, sf_dir)
        .select(
            "doc_id",
            F.size(sh(F.col("text"))).cast("long").alias("n_shingles"),
            F.size(F.array_distinct(sh(F.col("text")))).cast("long").alias(
                "n_distinct_shingles"
            ),
        )
        .orderBy("doc_id")
    )


def _q_cc_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components driven by exact-text-duplicate edges; the CC
    operator (local contraction) must reproduce min-doc_id-per-text-group."""
    from rensa_spark.operators.cc import connected_components, survivors

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    firsts = docs.groupBy("text").agg(F.min("doc_id").alias("first_id"))
    edges = (
        docs.join(firsts, "text")
        .filter(F.col("doc_id") != F.col("first_id"))
        .select(F.col("first_id").alias("a"), F.col("doc_id").alias("b"))
    )
    clusters = connected_components(edges)
    return (
        survivors(clusters, docs.select("doc_id"), "doc_id")
        .select(
            F.col("key").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("is_survivor"),
        )
        .orderBy("doc_id")
    )


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.textops import quality_features

    return (
        quality_features(_docs(spark, sf_dir).select("doc_id", "text"), "text")
        .select(
            "doc_id",
            F.col("n_chars_q"),
            F.col("n_tokens"),
            F.round("punct_ratio", 6).alias("punct_ratio"),
            F.round("stopword_ratio", 6).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.textops import langid

    return (
        langid(_docs_spread(spark, sf_dir).select("doc_id", "text"), "text")
        .select("doc_id", "lang_pred")
        .orderBy("doc_id")
    )


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.textops import fingerprint

    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.when(F.col("text") == "", F.lit(0).cast("long"))
            .otherwise(fingerprint("text"))
            .alias("fp"),
        )
        .orderBy("doc_id")
    )


def _q_bpe_piece_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.textops import bpe_piece_count, token_count

    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            bpe_piece_count("text").alias("n_pieces"),
        )
        .orderBy("doc_id")
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_pdf = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding").toPandas()
    import pandas as pd

    q = pd.DataFrame({"qid": queries_pdf["vec_id"], "vec": queries_pdf["embedding"]})
    return brute_force_topk(emb, "vec_id", "embedding", q, k=5).select(
        F.col("qid").cast("long").alias("qid"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
    )


def _grams_df(df: DataFrame) -> DataFrame:
    """(doc_id, gs): distinct word-3-gram shingles. Tokens are materialized
    as a column BEFORE the gram lambda — referencing the raw split()
    expression inside transform() would re-split the whole document once per
    accessed element (no common-subexpression elimination inside lambdas;
    measured 20s vs <1s on 5k docs)."""
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    with_toks = df.select("doc_id", toks.alias("toks"))
    grams = F.when(F.size("toks") < 3, F.col("toks")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 3),
            lambda i: F.array_join(F.slice("toks", i + 1, 3), " "),
        )
    )
    return with_toks.select("doc_id", F.array_distinct(grams).alias("gs"))


def _q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs over RARE shingles (document
    frequency in [2, 50]) — the non-probabilistic dedup lane; fully
    SQL-checkable. Jaccard is defined over the rare-shingle sets (common/
    stopword shingles are excluded from similarity mass, standard practice
    for low-entropy corpora), which makes the whole computation count-based:
    candidate generation and |A∩B| come from one bounded self-join on rare
    grams; only (id, id, count) rows shuffle. The oracle mirrors the same
    definition exactly."""
    docs = _grams_df(_docs(spark, sf_dir).select("doc_id", "text"))
    # round 6 (profiled at sf0.1): explode() INLINE over the computed gram
    # arrays cost 3.1s vs 0.12s over a materialized array column — the
    # Generate node re-evaluates its expensive child instead of iterating
    # a stored array (the Catalyst-lambda no-CSE trap, PLANS.md). So the
    # gram ARRAYS are checkpointed once (eager; blocks reclaimed by the
    # ContextCleaner — round-2 verdict ask #7) and both explode consumers
    # (df counts + blocking) iterate the stored arrays for ~0.1s each,
    # replacing the former 260k-row exploded checkpoint outright.
    exploded = docs.localCheckpoint(eager=True).select(
        "doc_id", F.explode("gs").alias("g")
    )
    rare = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 50))
        .select("g")
    )
    blocked = exploded.join(rare, "g", "leftsemi").localCheckpoint(eager=True)
    # count-based jaccard: |A∩B| = number of co-occurring rare grams (grams
    # are distinct per doc), |A∪B| = nA + nB - |A∩B|. Nothing wider than an
    # (id, id, count) row ever shuffles — the gram ARRAYS never move.
    sizes = blocked.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        blocked.alias("x")
        .join(blocked.alias("y"), (F.col("x.g") == F.col("y.g")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
        .withColumn("jacc_raw", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jacc_raw") >= 0.2)
        .select("a", "b", F.round("jacc_raw", 6).alias("jacc"))
        .orderBy("a", "b")
    )


def _q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality gates, pure JVM: duplicate-word
    fraction and most-frequent-bigram mass per document — the standard
    boilerplate/low-entropy filters of a pretraining pipeline. One explode +
    two aggregations; nothing but (doc_id, counts) shuffles."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.when(
            F.size("toks") < 2, F.array().cast("array<string>")
        )
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.array_join(F.slice("toks", i + 1, 2), " "),
            )
        )
        .alias("bgs"),
    ).localCheckpoint(eager=False)
    top = (
        base.select("doc_id", F.explode("bgs").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"))
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    1.0 - F.col("n_distinct") / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_word_ratio"),
            F.round(
                F.when(
                    F.size("bgs") > 0,
                    F.coalesce("top_bigram_count", F.lit(0)) / F.size("bgs"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


def _q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics term ranking (the integer-exact TF-IDF shape):
    per document, the top-3 tokens ordered by term frequency DESC, then
    document frequency ASC (rarer wins — the idf signal with NO floats:
    transcendental ln() rounds differently across engines, while the
    (tf desc, df asc, term asc) lexicographic rank is bit-free), then
    token ASC. Scale shape: two aggregations (map-side combined) — tf by
    (doc, token), df by token over the tf table — one shuffle join keyed
    by token, a per-doc top-k window. -> (doc_id, rank, term, tf, df)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    # (round 6: A/B-measured — the explode-barrier/spread treatments that
    # win on the gram lanes LOSE here; the split/filter child is cheap
    # enough that the r5 inline form is fastest, 1.03s vs 1.26s)
    tf = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds df-count AND the join
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        tf.join(dfreq, "tok")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("tok").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
        )
        .orderBy("doc_id", "rank")
    )


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    5-gram with a held-out benchmark set (here: docs with doc_id % 10 == 0
    stand in for the benchmark).
    -> (doc_id, n_overlap_grams, contaminated) for non-benchmark docs.

    The broadcast hint assumes a REAL benchmark set — O(1)-sized relative
    to the corpus (a few benchmark suites, not a corpus slice), which is
    what makes the corpus-side scan shuffle-free at 100 TB. This driver
    lane's doc_id%10 stand-in grows WITH the corpus, so the hint only
    holds at oracle SFs (round-4 advice); a production caller with an
    unbounded "benchmark" must drop the hint and let AQE pick the join."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    # (round 6: A/B-measured — the checkpoint-before-explode/spread
    # treatments that win on the ngram lane LOSE here, 1.09s r5 form vs
    # 1.73s treated; the 5-gram child is evaluated over a corpus slice
    # small enough that barrier overhead dominates)
    grams = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.when(F.size("toks") < 5, F.array().cast("array<string>"))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 5),
                    lambda i: F.array_join(F.slice("toks", i + 1, 5), " "),
                )
            )
            .alias("gs"),
        )
        .select("doc_id", F.explode(F.array_distinct("gs")).alias("g"))
    )
    bench_grams = grams.filter(F.col("doc_id") % 10 == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % 10 != 0)
    hits = (
        train.join(F.broadcast(bench_grams), "g", "leftsemi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap_grams"))
    )
    return (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap_grams", F.lit(0)).cast("long").alias(
                "n_overlap_grams"
            ),
            (F.coalesce("n_overlap_grams", F.lit(0)) >= 1).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def _q_events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch view of the streaming rollup)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("uniq_users"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("hour_ts", "event_type")
    )


def _q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session rollup (native session_window, 30-minute gap) — the
    batch view of the streaming sessionization operator."""
    from rensa_spark.streaming.dedup import sessionize_events

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # the operator returns unordered rows (streaming-append compatible);
    # the driver lane pins a deterministic order itself
    return sessionize_events(ev).orderBy("user_id", "session_start")


def _q_simhash_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.similarity import simhash_dup_flags

    return (
        simhash_dup_flags(_docs(spark, sf_dir), CFG, "doc_id", "text")
        .select(F.col("key").alias("doc_id"), "is_dup")
        .orderBy("doc_id")
    )


def _q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-verified near-dup pairs: chunk-bucket candidates
    (complete for hamming < n_chunks by pigeonhole) + JVM popcount verify."""
    from rensa_spark.operators.similarity import simhash_near_pairs

    return simhash_near_pairs(
        _docs_spread(spark, sf_dir), CFG, "doc_id", "text", n_chunks=4, max_hamming=3
    ).orderBy("a", "b")


def _q_add_if_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rensa_spark.operators.dedup import add_if_unique

    return (
        add_if_unique(_docs(spark, sf_dir), CFG, "doc_id", "text")
        .select(F.col("key").alias("doc_id"), "kept")
        .orderBy("doc_id")
    )


def _q_rho_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refined rho one-shot flags (band folding + sparse gating + sparse
    verify + recall rescue, src/lsh/one_shot.rs:78-185); hash-checked
    against the generated refined-flow SQL AND pytest-verified against the
    pure-Python oracle (test_rho_flags_match_oracle,
    test_sql_rho_dup_flags_match_pyrensa)."""
    from rensa_spark.api import RhoEngine

    return (
        RhoEngine(CFG)
        .dup_flags(_docs(spark, sf_dir), "doc_id", "text")
        .select(F.col("key").alias("doc_id"), "is_dup")
        .orderBy("doc_id")
    )


def _q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline: verified pairs -> connected components ->
    survivors (README.md:100-122 recipe generalized per the north rule);
    hash-checked against recursive-CTE reachability SQL. Determinism across
    partitionings is pytest-verified, recall vs reference clusters = 1.0."""
    from rensa_spark.operators.dedup import dedup_clusters

    return (
        dedup_clusters(_docs_spread(spark, sf_dir), CFG, "doc_id", "text")
        .select(
            F.col("key").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "is_survivor",
        )
        .orderBy("doc_id")
    )


def _q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN lane (hyperplane buckets + 1-bit multiprobe).
    Approximate-by-design recall, but deterministic and EXACT vs its oracle:
    planes and vectors ride as int64 fixed-point, so bucket signs and
    re-rank order replicate bit-for-bit in DuckDB (duck_sql.ann_topk_lsh_sql);
    recall vs the brute-force lane stays pytest-gated."""
    import pandas as pd

    from rensa_spark.operators.similarity import hyperplane_bucket_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_pdf = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding").toPandas()
    q = pd.DataFrame({"qid": queries_pdf["vec_id"], "vec": queries_pdf["embedding"]})
    return hyperplane_bucket_topk(emb, "vec_id", "embedding", q, k=5, n_planes=6).select(
        F.col("qid").cast("long").alias("qid"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
    )


def _q_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style exact substring overlap (fingerprinted windows)."""
    from rensa_spark.operators.substring import substring_overlap_pairs

    return substring_overlap_pairs(
        _docs(spark, sf_dir), "doc_id", "text", window=50, stride=25
    ).orderBy("a", "b")


def _q_multimodal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule flagship shape (image+caption dedup) driven on the driver
    tables: documents stand in as caption rows with a CAPTION-INDEPENDENT
    planted phash (the operator only ever tests phash EQUALITY): doc_ids
    ending 0/1 pair up (phash = doc_id - doc_id%2), the rest are phash
    singletons (= doc_id). ~20% of docs get a phash-only edge to a doc
    with a DIFFERENT caption, so the phash-∪-caption union is falsifiable
    by the value hash (round-3 verdict ask #3 — the old caption-fingerprint
    phash made this lane hash-identical to minhash_clusters). Edges =
    equal-phash ∪ verified caption-MinHash pairs -> connected components."""
    from rensa_spark.operators.dedup import multimodal_dedup_clusters

    docs = _docs_spread(spark, sf_dir).select(
        "doc_id",
        F.col("text").alias("caption"),
        F.when(
            F.col("doc_id") % 10 < 2, F.col("doc_id") - F.col("doc_id") % 2
        )
        .otherwise(F.col("doc_id"))
        .cast("long")
        .alias("phash"),
    )
    return (
        multimodal_dedup_clusters(docs, CFG, "doc_id", "caption", "phash")
        .select(
            F.col("key").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "is_survivor",
        )
        .orderBy("doc_id")
    )


def _q_ann_topk_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-query ANN lane: df<->df hyperplane-bucket equi-join + window
    top-k — every embedding row is a query (no driver-side collection).
    Hash-verified against duck_sql.ann_topk_many_sql (int64 fixed-point
    buckets + scores); recall vs brute force stays pytest-gated
    (tests/test_extras.py)."""
    from rensa_spark.operators.similarity import bucketed_topk_join

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return bucketed_topk_join(
        emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        k=3, n_planes=6, dim=64, capped_metrics=None,
    ).select(
        F.col("qid").cast("long").alias("qid"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
    )


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by the label column (the
    blocked-exact lane of embedding dedup — blocking bounds the self-join)."""
    from rensa_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", "label", min_cosine=0.3
    ).orderBy("a", "b")


def _q_ann_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unblocked embedding near-dup pairs: hyperplane-bucket candidates +
    exact int64 fixed-point cosine verify — the no-blocking-key scale lane
    of embedding dedup, deterministic and hash-verified."""
    from rensa_spark.operators.similarity import ann_near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return ann_near_dup_pairs(
        emb, "vec_id", "embedding", min_cosine=0.3, n_planes=6, dim=64
    ).orderBy("a", "b")


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (inverted-file coarse quantizer +
    probe-2 exact re-rank), every embedding a query — the classic ANN scale
    path alongside the hyperplane lanes. Fully integer end-to-end
    (quantize -> integer Lloyd's k-means -> squared-L2 ranking), so the
    DuckDB oracle unrolls the identical iterations and the rows hash-match
    exactly."""
    from rensa_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return (
        ivf_topk(
            emb, "vec_id", "embedding",
            k=3, n_centroids=16, n_iters=5, n_probe=2,
        )
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("l2sq").cast("long").alias("l2sq"),
        )
        .orderBy("qid", "rank")
    )


def _q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem. Money sums ride as
    exact cents (round(x*100) -> long) so Spark and DuckDB agree bit-for-bit
    (double-sum ordering differences can never show up in the hash)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_base_cents"
            ),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_tpch_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + window lane: top-3 customers by order revenue per
    nation (customer/nation are broadcast dims; only (custkey, cents) rows
    reach the shuffle)."""
    from pyspark.sql import Window

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = rev.join(
        F.broadcast(cust), rev["o_custkey"] == cust["c_custkey"]
    ).join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    w = Window.partitionBy("n_name").orderBy(F.desc("rev_cents"), F.asc("c_custkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "n_name",
            F.col("rank").cast("long").alias("rank"),
            "c_custkey",
            "rev_cents",
            "n_orders",
        )
        .orderBy("n_name", "rank")
    )


def _q_tpch_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped existence join: order counts per priority among orders with
    at least one lineitem (left-semi — only the key crosses the shuffle)."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        orders.join(
            li.select(F.col("l_orderkey").alias("o_orderkey")).distinct(),
            "o_orderkey",
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def _q_tpch_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped multi-join over ALL remaining tables (region, nation,
    supplier, customer, orders, lineitem, part): revenue per nation for one
    region where the supplier and customer share the nation and the part is
    small. Plan shape for scale: lineitem->orders is the one fact-fact
    shuffle (AQE may broadcast at tiny SF); region/nation/supplier/customer/
    part are broadcast dims pruned to their join+filter columns; money rides
    as exact cents."""
    sf = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    li, orders = sf("lineitem"), sf("orders")
    cust, supp = sf("customer"), sf("supplier")
    nation, region, part = sf("nation"), sf("region"), sf("part")

    asia = (
        F.broadcast(
            nation.join(
                region.filter(F.col("r_name") == "ASIA"),
                nation["n_regionkey"] == region["r_regionkey"],
            )
        )
        .select("n_nationkey", "n_name")
    )
    small_parts = F.broadcast(
        part.filter(F.col("p_size") <= 25).select("p_partkey")
    )
    joined = (
        li.join(orders.select("o_orderkey", "o_custkey"), li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")), li["l_suppkey"] == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(asia, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(small_parts, li["l_partkey"] == F.col("p_partkey"), "leftsemi")
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
            ).alias("rev_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


def _q_pipeline_filtered_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline composition: language gate
    (stopword-hit langid == 'en') + quality gate (>= 5 tokens) -> MinHash
    dedup clusters -> survivor flags, in ONE lane. Every stage reuses the
    independently hash-verified operators; the oracle composes the same
    filter CTE into the generated clusters SQL."""
    from rensa_spark.operators.dedup import dedup_clusters
    from rensa_spark.operators.textops import langid, token_count

    docs = _docs_spread(spark, sf_dir).select("doc_id", "text")
    filtered = (
        langid(docs, "text")
        .filter((F.col("lang_pred") == "en") & (token_count("text") >= 5))
        .select("doc_id", "text")
    )
    return (
        dedup_clusters(filtered, CFG, "doc_id", "text")
        .select(
            F.col("key").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "is_survivor",
        )
        .orderBy("doc_id")
    )


def _q_tpch_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped argmin join: per small part, the EUROPE supplier with the
    lowest observed unit price (derived from lineitem — the driver schema
    has no partsupp table). Unit price rides as exact cents: the double
    division + round is a fixed-shape IEEE expression identical in DuckDB.
    Plan: one fact aggregation on (partkey, suppkey), dims broadcast, then
    a per-part window argmin with suppkey tiebreak."""
    from pyspark.sql import Window

    sf = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    li, supp = sf("lineitem"), sf("supplier")
    nation, region, part = sf("nation"), sf("region"), sf("part")

    unit_cents = F.round(
        F.col("l_extendedprice") / F.col("l_quantity") * 100
    ).cast("long")
    offers = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit_cents).alias("unit_cents"))
    )
    europe_supp = F.broadcast(
        supp.join(
            nation, supp["s_nationkey"] == nation["n_nationkey"]
        )
        .join(
            region.filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "n_name")
    )
    small_parts = F.broadcast(
        part.filter(F.col("p_size") <= 10).select("p_partkey")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cents", "l_suppkey")
    return (
        offers.join(europe_supp, offers["l_suppkey"] == F.col("s_suppkey"))
        .join(small_parts, offers["l_partkey"] == F.col("p_partkey"), "leftsemi")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "n_name",
            "unit_cents",
        )
        .orderBy("p_partkey")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup": _q_exact_dedup,
        "minhash_dup_flags": _q_minhash_dup_flags,
        "minhash_signature_stats": _q_minhash_signature_stats,
        "cminhash_signature_stats": _q_cminhash_signature_stats,
        "cminhash_dup_flags": _q_cminhash_dup_flags,
        "rho_sidecar": _q_rho_sidecar,
        "shingle_counts": _q_shingle_counts,
        "cc_exact_clusters": _q_cc_exact_clusters,
        "text_quality": _q_text_quality,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
        "bpe_piece_counts": _q_bpe_piece_counts,
        "ann_topk": _q_ann_topk,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "events_hourly_stats": _q_events_hourly_stats,
        "user_sessions": _q_user_sessions,
        "repetition_quality": _q_repetition_quality,
        "top_terms": _q_top_terms,
        "decontamination": _q_decontamination,
        "ivf_topk": _q_ivf_topk,
        "simhash_dup_flags": _q_simhash_dup_flags,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "add_if_unique": _q_add_if_unique,
        "substring_overlap": _q_substring_overlap,
        "rho_dup_flags": _q_rho_dup_flags,
        "minhash_clusters": _q_minhash_clusters,
        "ann_topk_lsh": _q_ann_topk_lsh,
        "multimodal_clusters": _q_multimodal_clusters,
        "ann_topk_many": _q_ann_topk_many,
        "embedding_near_dup": _q_embedding_near_dup,
        "ann_near_dup": _q_ann_near_dup,
        "tpch_pricing_summary": _q_tpch_pricing_summary,
        "tpch_top_customers": _q_tpch_top_customers,
        "tpch_order_priority": _q_tpch_order_priority,
        "tpch_regional_revenue": _q_tpch_regional_revenue,
        "tpch_cheapest_supplier": _q_tpch_cheapest_supplier,
        "pipeline_filtered_clusters": _q_pipeline_filtered_clusters,
    }


def oracle_sql() -> dict[str, str]:
    from rensa_spark.operators.textops import FP_BASE, FP_MOD, STOPWORDS
    from rensa_spark.oracle import duck_sql as D

    def sw_list(lang: str) -> str:
        return ", ".join(f"'{w}'" for w in STOPWORDS[lang])

    lang_hits = ",\n".join(
        f"len(list_filter(toks, x -> x IN ({sw_list(lang)})))::BIGINT AS hits_{lang}"
        for lang in sorted(STOPWORDS)
    )
    lang_case = "\n".join(
        f"WHEN hits_{lang} = g THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    extra = {
        "text_quality": f"""
            WITH t AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
                FROM documents)
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars_q,
                   len(toks)::BIGINT AS n_tokens,
                   round(CASE WHEN length(text) > 0
                         THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / length(text)
                         ELSE 0 END, 6) AS punct_ratio,
                   round(CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, x -> x IN ({sw_list('en')})))::DOUBLE / len(toks)
                         ELSE 0 END, 6) AS stopword_ratio
            FROM t ORDER BY doc_id
        """,
        "lang_id": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
                FROM documents),
            h AS (SELECT doc_id, {lang_hits} FROM t),
            g AS (SELECT *, greatest(hits_de, hits_en, hits_es, hits_fr) AS g FROM h)
            SELECT doc_id,
                   CASE WHEN g <= 0 THEN 'und'
                   {lang_case}
                   END AS lang_pred
            FROM g ORDER BY doc_id
        """,
        "doc_fingerprint": f"""
            SELECT doc_id,
                   CASE WHEN text = '' THEN 0
                        ELSE list_reduce(
                            list_prepend(0::BIGINT,
                                [unicode(ch)::BIGINT for ch in string_split_regex(text, '')]),
                            (acc, cp) -> (acc * {FP_BASE} + cp) % {FP_MOD})
                   END AS fp
            FROM documents ORDER BY doc_id
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3)
            SELECT qid, rank::BIGINT AS rank, neighbor_id FROM (
                SELECT q.qid, e.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id
                       ) AS rank
                FROM q CROSS JOIN embeddings e) t
            WHERE rank <= 5 ORDER BY qid, rank
        """,
        "ngram_jaccard_pairs": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tokens
                FROM documents
            ), grams AS (
                SELECT doc_id, list_distinct(
                    CASE WHEN len(tokens) < 3 THEN tokens
                         ELSE list_transform(generate_series(1, len(tokens)-2),
                              i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) END) AS gs
                FROM toks
            ), exploded AS (
                SELECT doc_id, unnest(gs) AS g FROM grams
            ), rare AS (
                SELECT g FROM exploded GROUP BY g
                HAVING count(*) BETWEEN 2 AND 50
            ), blocked AS (
                SELECT e.doc_id, e.g FROM exploded e JOIN rare r ON e.g = r.g
            ), sizes AS (
                SELECT doc_id, count(*) AS n FROM blocked GROUP BY doc_id
            ), inter AS (
                SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
                FROM blocked x JOIN blocked y
                  ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT i.a, i.b,
                   round(i.c::DOUBLE / (sa.n + sb.n - i.c), 6) AS jacc
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a
            JOIN sizes sb ON sb.doc_id = i.b
            WHERE i.c::DOUBLE / (sa.n + sb.n - i.c) >= 0.2
            ORDER BY a, b
        """,
        "events_hourly_stats": """
            SELECT date_trunc('hour', ts) AS hour_ts, event_type,
                   COUNT(DISTINCT user_id)::BIGINT AS uniq_users,
                   COUNT(*)::BIGINT AS n
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "user_sessions": """
            WITH e AS (
                SELECT user_id, ts, round(value * 100)::BIGINT AS cents,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
                FROM events),
            m AS (
                SELECT *, CASE WHEN prev IS NULL
                               OR epoch_us(ts) - epoch_us(prev) > 1800000000
                               THEN 1 ELSE 0 END AS is_new
                FROM e),
            s AS (
                SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                            ORDER BY ts
                                            ROWS UNBOUNDED PRECEDING) AS sid
                FROM m)
            SELECT user_id, min(ts) AS session_start,
                   count(*)::BIGINT AS n_events,
                   sum(cents)::BIGINT AS value_cents
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "repetition_quality": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens
                FROM documents),
            base AS (
                SELECT doc_id, len(tokens) AS n_words,
                       len(list_distinct(tokens)) AS n_distinct,
                       CASE WHEN len(tokens) < 2 THEN []::VARCHAR[]
                            ELSE list_transform(
                                generate_series(1, len(tokens) - 1),
                                i -> tokens[i] || ' ' || tokens[i+1]) END AS bgs
                FROM toks),
            top AS (
                SELECT doc_id, max(c) AS top_c FROM (
                    SELECT doc_id, bg, count(*) AS c
                    FROM (SELECT doc_id, unnest(bgs) AS bg FROM base)
                    GROUP BY doc_id, bg)
                GROUP BY doc_id)
            SELECT b.doc_id,
                   b.n_words::BIGINT AS n_words,
                   round(CASE WHEN b.n_words > 0
                              THEN 1.0 - b.n_distinct::DOUBLE / b.n_words
                              ELSE 0.0 END, 6) AS dup_word_ratio,
                   round(CASE WHEN len(b.bgs) > 0
                              THEN coalesce(t.top_c, 0)::DOUBLE / len(b.bgs)
                              ELSE 0.0 END, 6) AS top_bigram_frac
            FROM base b LEFT JOIN top t USING (doc_id)
            ORDER BY doc_id
        """,
        "top_terms": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           t -> t <> '')) AS tok
                FROM documents),
            tf AS MATERIALIZED (
                SELECT doc_id, tok, count(*)::BIGINT AS tf
                FROM toks GROUP BY doc_id, tok),
            dfreq AS (SELECT tok, count(*)::BIGINT AS df
                      FROM tf GROUP BY tok)
            SELECT doc_id, rank, term, tf, df FROM (
                SELECT t.doc_id,
                       row_number() OVER (PARTITION BY t.doc_id
                                          ORDER BY t.tf DESC, d.df ASC,
                                                   t.tok ASC) AS rank,
                       t.tok AS term, t.tf, d.df
                FROM tf t JOIN dfreq d USING (tok)) x
            WHERE rank <= 3 ORDER BY doc_id, rank
        """,
        "decontamination": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens
                FROM documents),
            grams AS (
                SELECT doc_id,
                       CASE WHEN len(tokens) < 5 THEN []::VARCHAR[]
                            ELSE list_transform(
                                generate_series(1, len(tokens) - 4),
                                i -> tokens[i] || ' ' || tokens[i+1] || ' ' ||
                                     tokens[i+2] || ' ' || tokens[i+3] || ' ' ||
                                     tokens[i+4]) END AS gs
                FROM toks),
            dg AS MATERIALIZED (
                SELECT doc_id, unnest(list_distinct(gs)) AS g FROM grams),
            bench AS MATERIALIZED (
                SELECT DISTINCT g FROM dg WHERE doc_id % 10 = 0),
            hits AS (
                SELECT doc_id, count(*) AS n
                FROM dg
                WHERE doc_id % 10 <> 0 AND g IN (SELECT g FROM bench)
                GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(h.n, 0)::BIGINT AS n_overlap_grams,
                   coalesce(h.n, 0) >= 1 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
            LEFT JOIN hits h USING (doc_id)
            ORDER BY doc_id
        """,
        "substring_overlap": """
            WITH w AS (
                SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - 49, 25)) AS pos
                FROM documents WHERE length(text) >= 50
            ), wins AS (
                SELECT doc_id, substr(text, pos, 50) AS win FROM w
            )
            SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS shared_windows
            FROM wins x JOIN wins y ON x.win = y.win AND x.doc_id < y.doc_id
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
    }
    # Generated sketch-lane oracles (rensa_spark/oracle/duck_sql.py): the
    # full fxhash64 + MinHash/CMinHash/Rho/SimHash bit-level math expressed
    # in DuckDB HUGEINT SQL with permutation constants inlined from the same
    # Xoshiro stream the Spark UDFs use. Every generated stage is
    # pytest-proven bit-exact against the numpy kernels through DuckDB
    # (tests/test_duck_oracles.py) independently of this driver harness.
    # composite pipeline filter (language gate + token gate), composed into
    # the generated clusters SQL via pre_ctes/src — same langid expressions
    # as the hash-verified lang_id lane
    filter_ctes = f"""
flt_t AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
    FROM documents),
flt_h AS (SELECT doc_id, text, len(toks)::BIGINT AS ntok, {lang_hits} FROM flt_t),
flt_g AS (SELECT *, greatest(hits_de, hits_en, hits_es, hits_fr) AS g FROM flt_h),
filtered AS (
    SELECT doc_id, text FROM flt_g
    WHERE ntok >= 5 AND (CASE WHEN g <= 0 THEN 'und'
    {lang_case}
    END) = 'en')"""

    sketch = {
        "pipeline_filtered_clusters": D.minhash_clusters_sql(
            CFG, src="filtered", pre_ctes=filter_ctes
        ),
        "minhash_signature_stats": D.minhash_signature_stats_sql(CFG),
        "cminhash_signature_stats": D.cminhash_signature_stats_sql(CFG),
        "cminhash_dup_flags": D.cminhash_dup_flags_sql(CFG),
        "minhash_dup_flags": D.minhash_dup_flags_sql(CFG),
        "rho_sidecar": D.rho_sidecar_sql(CFG),
        "simhash_dup_flags": D.simhash_dup_flags_sql(CFG),
        "simhash_near_pairs": D.simhash_near_pairs_sql(CFG),
        "bpe_piece_counts": D.bpe_piece_counts_sql(),
        "minhash_clusters": D.minhash_clusters_sql(CFG),
        "add_if_unique": D.add_if_unique_sql(CFG),
        "multimodal_clusters": D.multimodal_clusters_sql(CFG),
        "ivf_topk": D.ivf_topk_sql(k=3, n_centroids=16, n_iters=5,
                                   n_probe=2, dim=64),
        "rho_dup_flags": D.rho_dup_flags_sql(CFG),
        # round-3: the hyperplane lanes quantize planes AND vectors to int64
        # fixed-point (floor(x * 2^20)), so every bucket sign decision and
        # re-rank score is exact integer-derived math — SQL-expressible like
        # the sketch lanes. 0 rows-only queries remain.
        "ann_topk_lsh": D.ann_topk_lsh_sql(n_planes=6, dim=64, seed=42, k=5),
        "ann_topk_many": D.ann_topk_many_sql(n_planes=6, dim=64, seed=42, k=3),
        "ann_near_dup": D.ann_near_dup_sql(
            min_cosine=0.3, n_planes=6, dim=64, seed=42
        ),
    }
    tpch = {
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty,
                   sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_base_cents,
                   sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS sum_disc_cents,
                   count(*)::BIGINT AS n
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_top_customers": """
            WITH rev AS (
                SELECT o_custkey,
                       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_cents,
                       count(*)::BIGINT AS n_orders
                FROM orders GROUP BY 1),
            ranked AS (
                SELECT n.n_name, c.c_custkey, r.rev_cents, r.n_orders,
                       row_number() OVER (
                           PARTITION BY n.n_name
                           ORDER BY r.rev_cents DESC, c.c_custkey) AS rank
                FROM rev r
                JOIN customer c ON c.c_custkey = r.o_custkey
                JOIN nation n ON n.n_nationkey = c.c_nationkey)
            SELECT n_name, rank::BIGINT AS rank, c_custkey, rev_cents, n_orders
            FROM ranked WHERE rank <= 3 ORDER BY n_name, rank
        """,
        "tpch_order_priority": """
            SELECT o_orderpriority, count(*)::BIGINT AS n_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
            GROUP BY 1 ORDER BY 1
        """,
        "tpch_cheapest_supplier": """
            WITH offers AS (
                SELECT l_partkey, l_suppkey,
                       min(round(l_extendedprice / l_quantity * 100)::BIGINT) AS unit_cents
                FROM lineitem WHERE l_quantity > 0
                GROUP BY 1, 2),
            eu AS (
                SELECT s.s_suppkey, n.n_name
                FROM supplier s
                JOIN nation n ON n.n_nationkey = s.s_nationkey
                JOIN region r ON r.r_regionkey = n.n_regionkey
                             AND r.r_name = 'EUROPE'),
            ranked AS (
                SELECT o.l_partkey AS p_partkey, o.l_suppkey AS s_suppkey,
                       e.n_name, o.unit_cents,
                       row_number() OVER (PARTITION BY o.l_partkey
                                          ORDER BY o.unit_cents, o.l_suppkey) AS rn
                FROM offers o
                JOIN eu e ON e.s_suppkey = o.l_suppkey
                WHERE EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = o.l_partkey AND p.p_size <= 10))
            SELECT p_partkey, s_suppkey, n_name, unit_cents
            FROM ranked WHERE rn = 1 ORDER BY p_partkey
        """,
        "tpch_regional_revenue": """
            SELECT n.n_name,
                   sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT)::BIGINT AS rev_cents,
                   count(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
                           AND s.s_nationkey = c.c_nationkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
            WHERE EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey AND p.p_size <= 25)
            GROUP BY 1 ORDER BY 1
        """,
        "embedding_near_dup": """
            WITH e AS (
                SELECT label, vec_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM embeddings)
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round(list_sum(list_transform(
                             list_zip(x.embedding, y.embedding),
                             p -> p[1]::DOUBLE * p[2]::DOUBLE))
                         / (x.nrm * y.nrm), 6) AS cosine
            FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
            WHERE list_sum(list_transform(
                      list_zip(x.embedding, y.embedding),
                      p -> p[1]::DOUBLE * p[2]::DOUBLE))
                  / (x.nrm * y.nrm) >= 0.3
            ORDER BY a, b
        """,
    }
    return {
        **extra,
        **sketch,
        **tpch,
        "exact_dedup": """
            SELECT doc_id,
                   COUNT(*) OVER (PARTITION BY text) >= 2 AS is_dup,
                   COUNT(*) OVER (PARTITION BY text) AS group_size,
                   doc_id = MIN(doc_id) OVER (PARTITION BY text) AS is_survivor
            FROM documents
            ORDER BY doc_id
        """,
        "shingle_counts": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS tokens
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       CASE WHEN len(tokens) < 3 THEN tokens
                            ELSE list_transform(
                                generate_series(1, len(tokens) - 2),
                                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])
                       END AS shingles
                FROM toks
            )
            SELECT doc_id,
                   len(shingles)::BIGINT AS n_shingles,
                   len(list_distinct(shingles))::BIGINT AS n_distinct_shingles
            FROM grams
            ORDER BY doc_id
        """,
        "cc_exact_clusters": """
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY text) AS cluster_id,
                   doc_id = MIN(doc_id) OVER (PARTITION BY text) AS is_survivor
            FROM documents
            ORDER BY doc_id
        """,
    }
