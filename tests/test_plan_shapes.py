"""Physical-plan regression guards: the scale properties PLANS.md claims are
asserted here so a refactor cannot silently reintroduce a scan of the image
bytes, an extra Python crossing, or a duplicated UDF.
"""

from __future__ import annotations

import re

import pytest

from rensa_spark.config import RensaConfig

CFG = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8, ngram_size=3)


def _formatted_plan(df) -> str:
    jdf = df._jdf
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def image_table(spark, tmp_path_factory):
    """An input_hint-shaped table (image_id, bytes, w, h, fmt, caption,
    phash) written to parquet so scan pruning is observable."""
    import pandas as pd

    from rensa_spark.sources.synthetic import generate_corpus

    pdf = generate_corpus(500, seed=3, with_images=True)
    path = str(tmp_path_factory.mktemp("plans") / "images.parquet")
    pd.DataFrame(pdf).to_parquet(path, index=False)
    return spark.read.parquet(path)


def test_flagship_plan_prunes_bytes_and_single_crossing(image_table):
    """dup_flags hot path, round-3 singleton-count shape: no image bytes at
    any scan, exactly one Python crossing, exactly TWO exchanges (the first
    fed by a map-side SortAggregate, since string ``min(key)`` has no
    HashAggregate form, so a partition-local Sort sits on each side of it;
    the second fed by a map-side HashAggregate), and NO window/join
    anywhere — the skew-proof replacement for the round-1 per-bucket window
    sort (PLANS.md round-3 flagship audit)."""
    from rensa_spark.operators.dedup import dup_flags

    plan = _formatted_plan(dup_flags(image_table, CFG, "image_id", "caption"))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(scans) == 2  # sketch side (key, caption) + keys seed (key)
    for line in scans:
        assert "bytes" not in line, line
    assert any("caption" in l for l in scans)
    keys_scan = [l for l in scans if "caption" not in l]
    assert len(keys_scan) == 1  # the seed side reads ONLY the key column
    assert len(re.findall(r"\) MapInPandas", plan)) == 1
    assert len(re.findall(r"\) ArrowEvalPython", plan)) == 0
    assert len(re.findall(r"\) Exchange", plan)) == 2
    assert len(re.findall(r"\) Window", plan)) == 0  # no per-bucket sort task
    assert len(re.findall(r"\) \w*Join", plan)) == 0
    # string keys push min(key) onto SortAggregate — those sorts are
    # partition-local (map-side, pre-exchange), never bucket-sized; the
    # skew-proof property is pinned by exchange count + no window/join


def test_ann_bucket_join_no_udf_duplication(spark, image_table):
    """bucketed_topk_join: exactly one bucket-UDF evaluation per side (an
    isnotnull pushdown on a nullable join key would duplicate the UDF if
    it fed the join directly). BOTH sides' sign-pattern projections feed a
    localCheckpoint (shared or not), so the served plan shows each side as
    one ExistingRDD scan and NO ArrowEvalPython node at all — the UDF runs
    exactly once per side inside its checkpoint lineage, and the
    pushdown-duplication shape is structurally impossible."""
    from rensa_spark.operators.similarity import bucketed_topk_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_q = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _formatted_plan(
        bucketed_topk_join(
            emb, "vec_id", "embedding", emb_q, "vec_id", "embedding",
            k=3, n_planes=4, dim=64,
        )
    )
    assert len(re.findall(r"\) ArrowEvalPython", plan)) == 0
    assert len(re.findall(r"Scan ExistingRDD", plan)) >= 2


def test_ann_bucket_join_self_join_single_crossing(spark):
    """Round 6: the self-join form (every row a query) computes the
    quantize+bucket projection ONCE — by the time the plan is served, both
    cogroup sides read the single materialized side checkpoint, so the
    served plan contains ZERO Python-UDF nodes besides the cogroup itself
    (one scan + one Arrow crossing total, shared by both sides)."""
    from rensa_spark.operators.similarity import bucketed_topk_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _formatted_plan(
        bucketed_topk_join(
            emb, "vec_id", "embedding", emb, "vec_id", "embedding",
            k=3, n_planes=4, dim=64,
        )
    )
    assert len(re.findall(r"\) ArrowEvalPython", plan)) == 0
    assert len(re.findall(r"\) MapInPandas", plan)) == 1  # the segment scan


def test_ann_bucket_join_scores_in_cogroup_not_per_pair(spark):
    """bucketed_topk_join: scoring happens inside ONE group-segment
    mapInPandas scan (round 6 — same per-(bucket, sub) matmul the round-5
    cogroup ran, minus its per-group Arrow/Python toll) — the candidate
    set must never materialize as join rows with a per-pair score
    expression (measured ~3 us/candidate however the expression is
    written). The plan shows the MapInPandas node, and no SortMergeJoin/
    ShuffledHashJoin sits ABOVE it (the only joins allowed are the tiny
    bucket-size joins feeding it)."""
    from rensa_spark.operators.similarity import bucketed_topk_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _formatted_plan(
        bucketed_topk_join(
            emb, "vec_id", "embedding", emb, "vec_id", "embedding",
            k=3, n_planes=4, dim=64,
        )
    )
    assert len(re.findall(r"\) MapInPandas", plan)) == 1
    cogroup_pos = plan.index("MapInPandas")
    above = plan[:cogroup_pos]
    # the section of the formatted tree printed above the cogroup node is
    # the post-scoring pipeline (window/rank/sort) — no join may reappear
    # there between scoring and the final top-k
    assert "Join" not in above.split("== Physical Plan ==")[-1], above[-500:]


def _walk_shuffle_keys(df) -> list[tuple[list[str], list[str]]]:
    """(sort keys, xxhash64 arguments) of every MapInPandas -> Sort ->
    Exchange chain in ``df``'s physical plan, attribute ids stripped."""

    def names(args: str) -> list[str]:
        return [re.sub(r"#\d+L?$", "", a.strip().split(" ")[0]) for a in args.split(",")]

    lines = df._jdf.queryExecution().executedPlan().treeString().splitlines()
    chains = []
    for n, line in enumerate(lines):
        if "MapInPandas" not in line:
            continue
        sort = re.search(r"Sort \[(.*)\], false", lines[n + 1])
        exch = re.search(r"Exchange hashpartitioning\(xxhash64\((.*), 42\), \d+\)", lines[n + 2])
        chains.append(
            (names(sort.group(1)) if sort else [], names(exch.group(1)) if exch else [])
        )
    return chains


def test_scan_lanes_score_in_one_map_in_pandas(spark):
    """Every sorted-run walk — the top-k scan (ivf_topk,
    bucketed_topk_join), the pair scan (ann_near_dup_pairs,
    embedding_near_dup_pairs), the candidate pairs' bucket walk and
    add_if_unique's component walk — scores its groups inside ONE
    mapInPandas walk: the served plan has exactly one MapInPandas node, no
    ArrowEvalPython node (no per-pair UDF) and no higher-order function (no
    per-pair zip_with / aggregate dot), so candidate pairs never become
    rows. The walk's sort sits on an Exchange partitioned on xxhash64 of
    the same group keys, the one co-location rule of every walk."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from rensa_spark.operators import similarity as S
    from rensa_spark.operators.dedup import add_if_unique
    from rensa_spark.operators.lsh import candidate_pairs_from_band_rows, explode_bands
    from rensa_spark.sources.synthetic import generate_corpus

    rng = np.random.default_rng(8)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(200, dtype=np.int64),
                "embedding": [v.tolist() for v in rng.normal(size=(200, 64)).astype(np.float32)],
                "label": rng.integers(0, 5, size=200).astype(np.int32),
            }
        )
    )
    docs = spark.createDataFrame(generate_corpus(200, seed=5, with_images=False)[["image_id", "caption"]])
    band_rows = explode_bands(
        spark.range(200).select(
            F.col("id").alias("key"), F.array(F.col("id") % 7, F.col("id") % 11).alias("bands")
        ),
        "key",
    )
    lanes = {
        "ivf_topk": (S.ivf_topk(emb, "vec_id", "embedding", k=3), ["c"]),
        "bucketed_topk_join": (
            S.bucketed_topk_join(
                emb, "vec_id", "embedding", emb, "vec_id", "embedding", k=3, n_planes=4, dim=64
            ),
            ["bucket", "sub"],
        ),
        "ann_near_dup_pairs": (
            S.ann_near_dup_pairs(emb, "vec_id", "embedding", min_cosine=0.3, n_planes=6, dim=64),
            ["bucket", "sub"],
        ),
        "embedding_near_dup_pairs": (
            S.embedding_near_dup_pairs(emb, "vec_id", "embedding", "label", min_cosine=0.3),
            ["blk", "dim"],
        ),
        "candidate_pairs_from_band_rows": (
            candidate_pairs_from_band_rows(band_rows, hot_bucket_cap=8),
            ["band_idx", "band_hash"],
        ),
        "add_if_unique": (add_if_unique(docs, CFG, "image_id", "caption"), ["comp"]),
    }
    for name, (df, group_keys) in lanes.items():
        plan = _formatted_plan(df)
        assert len(re.findall(r"\) MapInPandas", plan)) == 1, name
        assert len(re.findall(r"\) ArrowEvalPython", plan)) == 0, name
        assert "lambdafunction" not in plan, name
        assert _walk_shuffle_keys(df) == [(group_keys, group_keys)], (name, plan)


def test_multimodal_clusters_never_scan_bytes(spark, image_table):
    """The multimodal dedup hot path reads only (image_id, caption, phash)
    even though the table carries pixel payloads (north rule / SURVEY §7
    hard part 6). Asserted on the edge plan (the clusters operator runs CC
    internally, so its returned plan no longer exposes a scan) and on the
    plans of the SQL executions that building it ran: the build runs the
    caption collapse's checkpoint job, whose plan holds the sketch's scan.
    Those plans are read from the SQL status store, which runs no job."""
    from rensa_spark.operators.dedup import multimodal_dedup_edges

    sql = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs = sql.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = {e.executionId() for e in executions()}
    edges = multimodal_dedup_edges(image_table, CFG, "image_id", "caption", "phash")
    built = "\n".join(
        e.physicalPlanDescription() for e in executions() if e.executionId() not in before
    )
    built_scans = [l for l in built.splitlines() if "ReadSchema" in l]
    assert any("caption" in l for l in built_scans)  # the sketch's scan
    edge_scans = [l for l in _formatted_plan(edges).splitlines() if "ReadSchema" in l]
    for line in built_scans + edge_scans:
        assert "bytes" not in line, line


def test_exact_dedup_exchanges_carry_no_text(image_table):
    """exact_dup_flags (round-4 fix): both exchanges key on
    (xxhash64, length[, xxhash64-seed2]) — the document body must never
    enter a shuffle. At 100 TB the old groupBy(text)+join(text) plan moved
    the corpus through two exchanges; the hash keying moves ~24 bytes/row."""
    from rensa_spark.operators.dedup import exact_dup_flags

    plan = _formatted_plan(exact_dup_flags(image_table, "image_id", "caption"))
    assert len(re.findall(r"\) Exchange", plan)) >= 1
    # formatted explain lists each node's Input/Arguments in a details
    # section keyed by "(n) NodeName"; assert no Exchange block mentions
    # the text column
    blocks = re.split(r"\n\n", plan)
    exch = [b for b in blocks if b.startswith("(") and "Exchange" in b.splitlines()[0]]
    assert exch, plan
    for b in exch:
        assert "caption" not in b, b
    # and the hashes are computed BEFORE the exchange (project under scan)
    assert "xxhash64" in plan


def test_bucketed_stage_tables_join_without_shuffle(spark, tmp_path):
    """North-rule bucketing strategy, pinned: stage tables written with
    bucketBy(key) + sortBy(key) join on key with ZERO exchanges — the
    co-located join a real deployment uses for the signatures<->pairs and
    resume-time joins instead of reshuffling 10^12 rows per stage."""
    import pandas as pd

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pdf = pd.DataFrame(
            {"key": [f"k{i}" for i in range(500)], "v": list(range(500))}
        )
        for name in ("sigs_b", "flags_b"):
            (
                spark.createDataFrame(pdf)
                .write.mode("overwrite")
                .bucketBy(8, "key")
                .sortBy("key")
                .saveAsTable(name)
            )
        joined = spark.table("sigs_b").join(spark.table("flags_b"), "key")
        plan = _formatted_plan(joined)
        assert len(re.findall(r"\) Exchange", plan)) == 0, plan
        assert joined.count() == 500
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for name in ("sigs_b", "flags_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_verified_pairs_single_python_crossing(spark):
    """verified_pairs_from_band_rows verifies inside one bucket walk: the
    executed plan holds exactly one Python node (the MapInPandas walk) and
    no ArrowEvalPython (no per-pair Jaccard UDF), and the signature table
    is joined once (to member band rows), never per pair side."""
    from pyspark.sql import functions as F

    from rensa_spark.operators.dedup import sketch_rminhash, verified_pairs_from_band_rows
    from rensa_spark.sources.synthetic import generate_corpus

    pdf = generate_corpus(300, seed=4, with_images=False)
    base = spark.createDataFrame(pdf[["image_id", "caption"]]).select(
        F.col("image_id").alias("key"), F.col("caption").alias("text")
    )
    sk = sketch_rminhash(base, CFG, "key", "text").select("key", "sig", "bands").localCheckpoint()
    band_rows = sk.select("key", F.posexplode("bands").alias("band_idx", "band_hash"))
    pairs = verified_pairs_from_band_rows(band_rows, sk.select("key", "sig"), CFG)
    assert len(pairs.collect()) > 0  # executes this plan: AQE finalizes it
    plan = _formatted_plan(pairs)
    # the formatted tree prints the final plan, then the initial one
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert len(re.findall(r"MapInPandas \(", final)) == 1, final
    assert len(re.findall(r"ArrowEvalPython \(", final)) == 0, final
    # the bucket-size semi-join and the one signature join
    assert len(re.findall(r"Join[\w ]* \(\d+\)", final)) == 2, final
