"""Reference-style semantic tests: path equivalences, config-knob
monotonicity/no-op equivalences (/root/reference/tests/test_rensa.py:340-451),
and a real Structured Streaming run."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rensa_spark.config import RensaConfig
from rensa_spark.kernels.shingle import shingle_hashes_batch
from rensa_spark.oracle import pyrensa as oracle
from rensa_spark.sources.synthetic import generate_corpus

CFG = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8)


def test_prehashed_path_equivalence(spark):
    """Every R-MinHash sketch site equals rminhash_matrix + _band_hash_matrix
    computed directly in numpy: rminhash_sig_udf on text and on pre-hashed
    token arrays (reference flat-hash path equivalence,
    tests/test_rensa.py:236-260), both fields of rminhash_sig_bands_udf, its
    bands posexploded (the pipeline's band rows) and rminhash_band_rows (the
    dup_flags band rows). The corpus carries a null, an empty, a one-word
    and a 2,000-word caption. The C-MinHash text and pre-hashed paths agree
    too, and an unknown ``tokens`` kind is refused."""
    from pyspark.sql import functions as F

    from rensa_spark.functions.udfs import (
        _band_hash_matrix,
        cminhash_sig_udf,
        rho_sketch_udf,
        rminhash_sig_bands_udf,
        rminhash_sig_udf,
        shingle_hashes_udf,
    )
    from rensa_spark.kernels.prng import rminhash_permutations
    from rensa_spark.kernels.rminhash import rminhash_matrix
    from rensa_spark.operators.sketch import rminhash_band_rows

    rng = np.random.default_rng(5)
    long_caption = " ".join(f"w{i}" for i in rng.integers(0, 500, size=2000))
    pdf = pd.concat(
        [
            generate_corpus(150, seed=42, with_images=False)[["image_id", "caption"]],
            pd.DataFrame(
                {
                    "image_id": ["null", "empty", "one", "long"],
                    "caption": [None, "", "solitary", long_caption],
                }
            ),
        ],
        ignore_index=True,
    )
    df = spark.createDataFrame(pdf, "image_id string, caption string")
    pre = df.withColumn("th", shingle_hashes_udf(CFG)("caption"))

    flat, offs = shingle_hashes_batch(list(pdf["caption"]), CFG.ngram_size)
    sig = rminhash_matrix(flat, offs, *rminhash_permutations(CFG.num_perm, CFG.seed))
    bands = _band_hash_matrix(sig, CFG.num_bands, 1)
    keys = list(pdf["image_id"])
    want_sig = dict(zip(keys, sig.view(np.int32).tolist()))
    want_bands = dict(zip(keys, bands.view(np.int64).tolist()))
    want_rows = sorted(
        (k, i, h) for k, row in want_bands.items() for i, h in enumerate(row)
    )
    # the kernel gives null and empty text the same all-u32::MAX signature
    assert want_sig["null"] == want_sig["empty"] == [-1] * CFG.num_perm

    def by_key(frame, col):
        return {r["image_id"]: list(r[col]) for r in frame.collect()}

    text, hashed = rminhash_sig_udf(CFG), rminhash_sig_udf(CFG, tokens="hashes")
    assert by_key(pre.select("image_id", text("caption").alias("s")), "s") == want_sig
    assert by_key(pre.select("image_id", hashed("th").alias("s")), "s") == want_sig
    sb = df.select("image_id", rminhash_sig_bands_udf(CFG)("caption").alias("sb"))
    assert by_key(sb.select("image_id", "sb.sig"), "sig") == want_sig
    assert by_key(sb.select("image_id", "sb.bands"), "bands") == want_bands
    exploded = sb.select(
        F.col("image_id").alias("key"),
        F.posexplode("sb.bands").alias("band_idx", "band_hash"),
    )
    for rows in (exploded, rminhash_band_rows(df, CFG, "image_id", "caption")):
        got = sorted((r["key"], r["band_idx"], r["band_hash"]) for r in rows.collect())
        assert got == want_rows

    text, hashed = cminhash_sig_udf(CFG), cminhash_sig_udf(CFG, tokens="hashes")
    assert by_key(pre.select("image_id", text("caption").alias("s")), "s") == by_key(
        pre.select("image_id", hashed("th").alias("s")), "s"
    )

    for factory in (rminhash_sig_udf, rminhash_sig_bands_udf, cminhash_sig_udf, rho_sketch_udf):
        with pytest.raises(ValueError, match="tokens"):
            factory(CFG, tokens="words")


def test_rho_sparse_gating_monotonicity():
    """Stricter sparse required-band-matches => never MORE flags
    (tests/test_rensa.py:340-369 analogue, on the oracle)."""
    texts = [  # short docs -> sparse rho rows
        "a b", "a b", "c d", "c d e", "x", "y z w", "a b", "q r s t",
    ]
    rho_rows = []
    for t in texts:
        flat, _ = shingle_hashes_batch([t], CFG.ngram_size)
        rho_rows.append(oracle.rho_row_py([int(h) for h in flat], CFG))
    lax = oracle.one_shot_flags_rho_py(
        rho_rows, RensaConfig(num_perm=128, seed=42, rho_sparse_required_band_matches=1)
    )
    strict = oracle.one_shot_flags_rho_py(
        rho_rows, RensaConfig(num_perm=128, seed=42, rho_sparse_required_band_matches=4)
    )
    assert sum(strict) <= sum(lax)
    for s, l in zip(strict, lax):
        assert (not s) or l  # strict-flagged implies lax-flagged


def test_rho_verify_disabled_equals_threshold_zero():
    """verify disabled == threshold 0.0 (tests/test_rensa.py:372-402)."""
    texts = ["a b", "a c", "b c", "d e", "a b", "f g h", "a", ""]
    rho_rows = []
    for t in texts:
        flat, _ = shingle_hashes_batch([t], CFG.ngram_size)
        rho_rows.append(oracle.rho_row_py([int(h) for h in flat], CFG))
    disabled = oracle.one_shot_flags_rho_py(
        rho_rows, RensaConfig(num_perm=128, seed=42, rho_sparse_verify_enabled=False)
    )
    zero_thr = oracle.one_shot_flags_rho_py(
        rho_rows, RensaConfig(num_perm=128, seed=42, rho_sparse_verify_threshold=0.0)
    )
    assert disabled == zero_thr


def test_spark_rho_flags_config_knobs(spark):
    """The distributed refined path honors the same knobs as the oracle."""
    from rensa_spark.operators.dedup import sketch_rho
    from rensa_spark.operators.lsh import one_shot_dup_flags_rho

    pdf = generate_corpus(150, seed=7, with_images=False)
    df = spark.createDataFrame(pdf[["image_id", "caption"]])
    for cfg in [
        RensaConfig(num_perm=128, seed=42, rho_sparse_verify_enabled=False),
        RensaConfig(num_perm=128, seed=42, rho_recall_rescue_enabled=False),
        RensaConfig(num_perm=128, seed=42, rho_band_fold=1),
    ]:
        sk = sketch_rho(df, cfg, "image_id", "caption")
        got = {
            r["key"]: r["is_dup"]
            for r in one_shot_dup_flags_rho(sk, cfg, "image_id").collect()
        }
        rho_rows = []
        for t in pdf["caption"]:
            flat, _ = shingle_hashes_batch([t], cfg.ngram_size)
            rho_rows.append(oracle.rho_row_py([int(h) for h in flat], cfg))
        want = oracle.one_shot_flags_rho_py(rho_rows, cfg)
        ids = list(pdf["image_id"])
        mism = [i for i in range(len(ids)) if got[ids[i]] != want[i]]
        assert not mism, (cfg.rho_band_fold, mism[:5])


def test_structured_streaming_smoke(spark, tmp_path):
    """Real readStream -> foreachBatch(StreamingDeduplicator) run."""
    from rensa_spark.streaming.dedup import StreamingDeduplicator

    pdf = generate_corpus(120, seed=42, with_images=False)[["image_id", "caption"]]
    pdf = pdf.rename(columns={"image_id": "key", "caption": "text"})
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    pdf.iloc[:60].to_parquet(src_dir / "batch0.parquet", index=False)

    dedup = StreamingDeduplicator(spark, CFG, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema("key string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    q = (
        stream.writeStream.foreachBatch(dedup.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # second file arrives; stream resumes from checkpoint
    pdf.iloc[60:].to_parquet(src_dir / "batch1.parquet", index=False)
    q2 = (
        stream.writeStream.foreachBatch(dedup.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    decisions = spark.read.parquet(str(tmp_path / "state" / "decisions"))
    got = {r["key"]: r["kept"] for r in decisions.collect()}
    assert len(got) == 120
    # streaming decisions == single-pass sequential add-if-unique semantics
    from rensa_spark.operators.dedup import add_if_unique

    want = {
        r["key"]: r["kept"]
        for r in add_if_unique(spark.createDataFrame(pdf), CFG, "key", "text").collect()
    }
    mism = [k for k in got if got[k] != want[k]]
    assert not mism, mism[:10]


def test_streaming_exact_dedup_watermarked(spark, tmp_path):
    """streaming_exact_dedup: real stream, duplicates within the watermark
    window are dropped."""
    import pandas as pd

    from rensa_spark.streaming.dedup import streaming_exact_dedup

    src = tmp_path / "src"
    src.mkdir()
    rows = pd.DataFrame(
        {
            "key": ["a", "a", "b", "b", "c"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00"] * 2 + ["2024-01-01 00:01:00"] * 2 + ["2024-01-01 00:02:00"]
            ),
        }
    )
    rows["ts"] = rows["ts"].astype("datetime64[us]")
    rows.to_parquet(src / "b0.parquet", index=False)
    stream = spark.readStream.schema("key string, ts timestamp").parquet(str(src))
    deduped = streaming_exact_dedup(stream, ["key"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(r["key"] for r in spark.sql("select * from dedup_out").collect())
    assert got == ["a", "b", "c"]


def test_determinism_across_master_parallelism(tmp_path):
    """Identical flags from separate local[1] and local[8] sessions
    (the reference's subprocess thread-count determinism test,
    tests/test_rensa.py:589-612)."""
    import json
    import subprocess
    import sys

    script = r'''
import json, sys
from rensa_spark.session import get_spark
from rensa_spark.config import RensaConfig
from rensa_spark.operators.dedup import dup_flags
from rensa_spark.sources.synthetic import generate_corpus

master, parts = sys.argv[1], int(sys.argv[2])
cfg = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8)
spark = get_spark(master=master, shuffle_partitions=parts)
pdf = generate_corpus(300, seed=42, with_images=False)
df = spark.createDataFrame(pdf[["image_id", "caption"]]).repartition(parts)
flags = sorted((r["key"], r["is_dup"]) for r in dup_flags(df, cfg, "image_id", "caption").collect())
print("RESULT " + json.dumps(flags))
spark.stop()
'''
    results = []
    for master, parts in [("local[1]", 1), ("local[8]", 8)]:
        out = subprocess.run(
            [sys.executable, "-c", script, master, str(parts)],
            capture_output=True,
            text=True,
            check=True,
            cwd="/root/repo",
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")][-1]
        results.append(json.loads(line[len("RESULT ") :]))
    assert results[0] == results[1]


def test_insert_matrix_retro_flagging_equals_one_shot(spark):
    """Closes round-3 'missing #3': the reference's ORDER-DEPENDENT
    insert_matrix_and_query_duplicate_flags scan (src/lsh/py.rs:119-162 —
    flag a row when its bucket is non-empty at insert time, retro-flag a
    bucket's single pre-existing same-batch member) produces, for any input
    order, exactly the order-INSENSITIVE one-shot flags this engine
    computes: flag(i) <=> i shares a band bucket with another batch row or
    an index entry. The sequential loop is transcribed faithfully below and
    compared against dup_flags (empty index) and LshIndex.one_shot_flags
    (pre-populated index) on the synthetic corpus, in two insert orders."""
    import numpy as np

    from rensa_spark.config import RensaConfig
    from rensa_spark.kernels.fxhash import band_hash_u64
    from rensa_spark.kernels.prng import rminhash_permutations
    from rensa_spark.kernels.rminhash import rminhash_matrix
    from rensa_spark.kernels.shingle import shingle_hashes_batch
    from rensa_spark.operators.dedup import dup_flags
    from rensa_spark.sources.synthetic import generate_corpus

    cfg = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8)
    pdf = generate_corpus(250, seed=21, with_images=False)
    captions = list(pdf["caption"])
    flat, offs = shingle_hashes_batch(captions, cfg.ngram_size)
    a, b = rminhash_permutations(cfg.num_perm, cfg.seed)
    sig = rminhash_matrix(flat, offs, a, b)
    bands = np.stack(
        [
            band_hash_u64(sig[:, i * cfg.band_size : (i + 1) * cfg.band_size])
            for i in range(cfg.num_bands)
        ],
        axis=1,
    )

    def sequential_scan(order, index_rows=()):
        """The py.rs loop: hash_tables = per-band dict band_hash -> [keys]."""
        tables = [dict() for _ in range(cfg.num_bands)]
        for key, row_bands in index_rows:  # pre-existing index entries
            for t, bh in zip(tables, row_bands):
                t.setdefault(int(bh), []).append(key)
        start_key = 10_000  # batch keys disjoint from index keys
        flags = [False] * len(order)
        for offset, row in enumerate(order):
            key = start_key + offset
            for t, bh in zip(tables, bands[row]):
                keys = t.setdefault(int(bh), [])
                if keys:
                    flags[offset] = True
                    first_key = keys[0]
                    if len(keys) == 1 and first_key >= start_key:
                        other = first_key - start_key
                        if other < offset:
                            flags[other] = True
                keys.append(key)
        return {order[i]: flags[i] for i in range(len(order))}

    # empty index, two different insert orders -> both equal dup_flags
    df = spark.createDataFrame(pdf[["image_id", "caption"]])
    engine = {
        r["key"]: r["is_dup"]
        for r in dup_flags(df, cfg, "image_id", "caption").collect()
    }
    ids = list(pdf["image_id"])
    n = len(ids)
    fwd = sequential_scan(list(range(n)))
    rng = np.random.default_rng(5)
    perm = list(rng.permutation(n))
    shuffled = sequential_scan(perm)
    for i in range(n):
        assert fwd[i] == shuffled[i] == engine[ids[i]], ids[i]

    # non-empty index: first 50 rows pre-inserted, the rest are the batch
    from rensa_spark.operators.lsh_index import LshIndex
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        idx = LshIndex(spark, cfg, d)
        idx.insert(
            spark.createDataFrame(
                pdf.iloc[:50][["image_id", "caption"]]
            ).selectExpr("image_id AS key", "caption AS text")
        )
        batch = pdf.iloc[50:]
        got = {
            r["key"]: r["is_dup"]
            for r in idx.one_shot_flags(
                spark.createDataFrame(batch[["image_id", "caption"]]),
                "image_id",
                "caption",
            ).collect()
        }
        index_rows = [(k, bands[k]) for k in range(50)]
        seq = sequential_scan(list(range(50, n)), index_rows)
        for i in range(50, n):
            assert seq[i] == got[ids[i]], ids[i]
