"""The BASELINE metric: dup-pair recall >= 0.99 vs the reference semantics at
identical config (num_perm=128, bands=8, threshold=0.8, shingle n=3, fixed
seed) on the synthetic image+caption corpus (FIXTURES.md §1).

"Reference" here is the bit-exact pure-Python/numpy rensa oracle (proven
equivalent to the reference algorithms in test_kernels.py); the comparison
below exercises the full distributed pipeline end-to-end."""

from __future__ import annotations

import numpy as np
import pytest

from rensa_spark.config import RensaConfig
from rensa_spark.kernels.fxhash import band_hash_u64
from rensa_spark.kernels.prng import rminhash_permutations
from rensa_spark.kernels.rminhash import rminhash_matrix
from rensa_spark.kernels.shingle import shingle_hashes_batch
from rensa_spark.sources.synthetic import generate_corpus

CFG = RensaConfig(num_perm=128, seed=42, threshold=0.8, num_bands=8, ngram_size=3)
N_ROWS = 2000


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_ROWS, seed=42, with_images=False)


@pytest.fixture(scope="module")
def oracle_state(corpus):
    """Driver-side reference run: signatures, bands, verified pairs, clusters."""
    captions = list(corpus["caption"])
    flat, offsets = shingle_hashes_batch(captions, CFG.ngram_size)
    a, b = rminhash_permutations(CFG.num_perm, CFG.seed)
    sig = rminhash_matrix(flat, offsets, a, b)
    bands = np.stack(
        [
            band_hash_u64(sig[:, i * CFG.band_size : (i + 1) * CFG.band_size])
            for i in range(CFG.num_bands)
        ],
        axis=1,
    )
    # candidate pairs: same (band_idx, band_hash)
    cand = set()
    for bi in range(CFG.num_bands):
        buckets: dict[int, list[int]] = {}
        for row, h in enumerate(bands[:, bi]):
            buckets.setdefault(int(h), []).append(row)
        for members in buckets.values():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    cand.add((members[i], members[j]))
    verified = {
        (i, j) for (i, j) in cand if (sig[i] == sig[j]).mean() >= CFG.threshold
    }
    # union-find clusters over verified pairs
    parent = list(range(len(captions)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in verified:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    clusters = [find(i) for i in range(len(captions))]
    return {"sig": sig, "bands": bands, "verified": verified, "clusters": clusters}


def _cluster_pairs(labels: dict[str, str]) -> set[tuple[str, str]]:
    by_cluster: dict[str, list[str]] = {}
    for k, c in labels.items():
        by_cluster.setdefault(c, []).append(k)
    pairs = set()
    for members in by_cluster.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def test_dup_pair_recall_vs_reference_clusters(spark, corpus, oracle_state):
    """North-rule gate: recall >= 0.99 of reference duplicate pairs."""
    from rensa_spark.operators.dedup import dedup_clusters

    ids = list(corpus["image_id"])
    got = {
        r["key"]: r["cluster_id"]
        for r in dedup_clusters(
            spark.createDataFrame(corpus[["image_id", "caption"]]),
            CFG,
            "image_id",
            "caption",
        ).collect()
    }
    ref_labels = {ids[i]: ids[oracle_state["clusters"][i]] for i in range(len(ids))}
    ref_pairs = _cluster_pairs(ref_labels)
    got_pairs = _cluster_pairs(got)
    assert ref_pairs, "oracle produced no duplicate pairs — corpus broken"
    recall = len(ref_pairs & got_pairs) / len(ref_pairs)
    precision = len(ref_pairs & got_pairs) / max(len(got_pairs), 1)
    print(f"dup-pair recall={recall:.4f} precision={precision:.4f} ref_pairs={len(ref_pairs)}")
    assert recall >= 0.99, f"recall {recall} < 0.99"
    # bit-exact kernels + same candidate graph => expect exact agreement
    assert recall == 1.0 and precision == 1.0


def test_flag_recall_vs_reference_flags(spark, corpus, oracle_state):
    """One-shot flags (benchmark metric) agree exactly with the reference
    scan (src/lsh/one_shot.rs:294-332) — mismatch rate 0, versus the
    reference's own 0.0107 mismatch vs datasketch (README.md:30)."""
    from rensa_spark.oracle.pyrensa import one_shot_flags_simple_py
    from rensa_spark.operators.dedup import dup_flags

    want = one_shot_flags_simple_py(
        [list(map(int, row)) for row in oracle_state["sig"]],
        CFG.num_bands,
        CFG.band_size,
    )
    got = {
        r["key"]: r["is_dup"]
        for r in dup_flags(
            spark.createDataFrame(corpus[["image_id", "caption"]]),
            CFG,
            "image_id",
            "caption",
        ).collect()
    }
    ids = list(corpus["image_id"])
    mismatch = sum(1 for i, k in enumerate(ids) if got[k] != want[i])
    assert mismatch == 0, f"{mismatch}/{len(ids)} flag mismatches"


def test_verified_pairs_match_oracle(spark, corpus, oracle_state):
    from rensa_spark.operators.dedup import (
        sketch_rminhash,
        verified_pairs_from_band_rows,
    )
    from rensa_spark.operators.lsh import explode_bands

    ids = list(corpus["image_id"])
    sk = sketch_rminhash(
        spark.createDataFrame(corpus[["image_id", "caption"]]).withColumnRenamed(
            "image_id", "key"
        ),
        CFG,
        "key",
        "caption",
    )
    pairs = verified_pairs_from_band_rows(
        explode_bands(sk, "key"), sk.select("key", "sig"), CFG
    )
    got = {(r["a"], r["b"]) for r in pairs.select("a", "b").collect()}
    want = {(ids[i], ids[j]) for i, j in oracle_state["verified"]}
    assert got == want
