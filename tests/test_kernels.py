"""Kernel-parity tests: vectorized numpy kernels == pure-Python scalar oracle.

Mirrors the reference's dominant test pattern — every batch/SIMD path must
equal the scalar path bit-for-bit (/root/reference/tests/test_rensa.py:178-298,
555-637; Rust oracle tests at src/utils.rs:226-299)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from rensa_spark.config import RensaConfig
from rensa_spark.kernels import cminhash as kc
from rensa_spark.kernels import fxhash as kf
from rensa_spark.kernels import rho as kr
from rensa_spark.kernels import rminhash as km
from rensa_spark.kernels.prng import (
    Xoshiro256PlusPlus,
    cminhash_params,
    rminhash_permutations,
    splitmix64_np,
)
from rensa_spark.oracle import pyrensa as oracle

# boundary byte lengths from the reference hash oracle test (utils.rs:257-272)
BOUNDARY_LENGTHS = [0, 1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33, 36, 63, 64, 100]


def _rand_bytes(rng: random.Random, n: int) -> bytes:
    return bytes(rng.getrandbits(8) for _ in range(n))


def test_fxhash_boundary_lengths_match_oracle():
    rng = random.Random(42)
    tokens = [_rand_bytes(rng, n) for n in BOUNDARY_LENGTHS for _ in range(5)]
    got = kf.fxhash64(tokens)
    want = [oracle.fxhash64_py(t) for t in tokens]
    assert got.tolist() == want


def test_fxhash_utf8_strings():
    toks = ["", "a", "hello world", "naïve café ☃", "x" * 100, "the quick brown fox"]
    got = kf.fxhash64_strs(toks)
    want = [oracle.fxhash64_py(t) for t in toks]
    assert got.tolist() == want


def _ranges_match_oracle(blob: bytes, spans: list[tuple[int, int]]) -> None:
    starts = np.array([s for s, _ in spans], dtype=np.int64)
    lengths = np.array([n for _, n in spans], dtype=np.int64)
    got = kf.fxhash64_ranges(np.frombuffer(blob, dtype=np.uint8), starts, lengths)
    assert got.tolist() == [oracle.fxhash64_py(blob[s : s + n]) for s, n in spans]


def test_fxhash_ranges_token_at_blob_end():
    """Each length class read through the unaligned word views, with its last
    word ending at the blob's last byte."""
    rng = random.Random(5)
    blob = _rand_bytes(rng, 77)
    _ranges_match_oracle(blob, [(77 - n, n) for n in BOUNDARY_LENGTHS if n <= 77])
    _ranges_match_oracle(blob, [(0, 77), (1, 76), (60, 17), (61, 16), (69, 8), (70, 7), (73, 4), (74, 3)])


def test_fxhash_ranges_blob_shorter_than_a_word():
    for size in range(8):
        blob = bytes(range(1, size + 1))
        spans = [(s, n) for s in range(size + 1) for n in range(size - s + 1)]
        _ranges_match_oracle(blob, spans)


def test_fxhash_ranges_zero_length():
    _ranges_match_oracle(b"", [(0, 0), (0, 0)])
    _ranges_match_oracle(b"abcdefghijklmnopq", [(0, 0), (5, 0), (17, 0), (0, 17), (17, 0)])


def test_fxhash_ranges_multibyte_utf8():
    text = "naïve café ☃ 日本語テキスト 🦀🦀 ok"
    blob = text.encode("utf-8")
    spans, pos = [], 0
    for word in text.split(" "):
        n = len(word.encode("utf-8"))
        spans.append((pos, n))
        pos += n + 1
    spans.append((0, len(blob)))
    _ranges_match_oracle(blob, spans)


def test_splitmix64_np_matches_scalar():
    rng = random.Random(7)
    vals = np.array([rng.getrandbits(64) for _ in range(1000)], dtype=np.uint64)
    got = splitmix64_np(vals)
    want = [oracle.splitmix64_py(int(v)) for v in vals]
    assert got.tolist() == want


def test_xoshiro_stream_is_deterministic_and_seed_sensitive():
    a = Xoshiro256PlusPlus(42)
    b = Xoshiro256PlusPlus(42)
    c = Xoshiro256PlusPlus(12345)
    s_a = [a.next_u64() for _ in range(16)]
    s_b = [b.next_u64() for _ in range(16)]
    s_c = [c.next_u64() for _ in range(16)]
    assert s_a == s_b
    assert s_a != s_c
    assert all(0 <= v < (1 << 64) for v in s_a)


def test_band_hash_matches_oracle():
    rng = random.Random(3)
    for width in [1, 2, 3, 4, 5, 7, 8, 15, 16, 32]:
        bands = np.array(
            [[rng.getrandbits(32) for _ in range(width)] for _ in range(20)],
            dtype=np.uint32,
        )
        got = kf.band_hash_u64(bands)
        want = [oracle.band_hash_py(list(map(int, row))) for row in bands]
        assert got.tolist() == want, f"width={width}"


def _random_docs(rng: random.Random, n_docs: int) -> list[list[int]]:
    docs = []
    for _ in range(n_docs):
        cnt = rng.choice([0, 1, 2, 5, 31, 32, 33, 50, 97, 150])
        docs.append([rng.getrandbits(64) for _ in range(cnt)])
    return docs


def _flat(docs: list[list[int]]) -> tuple[np.ndarray, np.ndarray]:
    flat = np.array([h for d in docs for h in d], dtype=np.uint64)
    offsets = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offsets[1:])
    return flat, offsets


def test_rminhash_matrix_matches_oracle():
    rng = random.Random(11)
    docs = _random_docs(rng, 40)
    a, b = rminhash_permutations(16, 42)
    flat, offsets = _flat(docs)
    got = km.rminhash_matrix(flat, offsets, a, b)
    for i, d in enumerate(docs):
        want = oracle.rminhash_sig_py(d, [int(x) for x in a], [int(x) for x in b])
        assert got[i].tolist() == want, f"row {i}"


def _repetitive_doc(rng: random.Random, n_tokens: int, n_distinct: int) -> list[int]:
    """A row whose tokens repeat, so every chunk of it holds fewer distinct
    tokens than tokens and the distinct-token premap has work to do."""
    vocab = [rng.getrandbits(64) for _ in range(n_distinct)]
    return [rng.choice(vocab) for _ in range(n_tokens)]


def _both_oracles(docs: list[list[int]], num_perm: int):
    """(R-MinHash u32, C-MinHash u64) oracle signatures of each doc at seed 42."""
    a, b = rminhash_permutations(num_perm, 42)
    al, bl = [int(x) for x in a], [int(x) for x in b]
    sa, sb, pc, pd = cminhash_params(42)
    return [
        (oracle.rminhash_sig_py(d, al, bl), oracle.cminhash_sig64_py(d, sa, sb, pc, pd, num_perm))
        for d in docs
    ]


def _assert_both_match(docs: list[list[int]], num_perm: int, want, tag: str = "") -> None:
    a, b = rminhash_permutations(num_perm, 42)
    flat, offsets = _flat(docs)
    got_r = km.rminhash_matrix(flat, offsets, a, b)
    got_c = kc.cminhash_matrix64(flat, offsets, num_perm, 42)
    for i, (want_r, want_c) in enumerate(want):
        assert got_r[i].tolist() == want_r, f"{tag} R-MinHash row={i}"
        assert got_c[i].tolist() == want_c, f"{tag} C-MinHash row={i}"


def test_minhash_matrix_chunking_invariance():
    """Slab boundaries must not change R- or C-MinHash results (reference
    analogue: chunked pipeline == scalar, pipeline.rs:370-623). The rows hold
    ~21k tokens, so the slab caps fall on both sides of numpy's 8,192-element
    buffer; caps below a row's length send it through the chunked long-row
    path. Empty rows sit everywhere, so that slabs end in empty rows for some
    cap (regression: trailing-empty-row slab corruption of the previous
    row's segment), and one repetitive row makes the distinct-token premap
    fire wherever it is chunked. The work buffers hold from one slot per
    block to all 64, and some cut the slots into a ragged last block."""
    rng = random.Random(13)
    docs = []
    for d in _random_docs(rng, 450):
        docs.append(d)
        docs.append([])  # empty after every doc
    rep = _repetitive_doc(rng, 3000, 20)
    assert len(set(rep[:50])) < 50  # the premap shrinks even the smallest chunk
    docs.insert(101, rep)
    docs.append([])
    assert sum(map(len, docs)) > 2 * 8193
    want = _both_oracles(docs, 64)
    old = km._SLAB_TOKENS, km._WORK_ELEMS
    try:
        for slab, work in [
            (1, 1 << 17),
            (50, 1000),
            (1000, 1),
            (8191, 1 << 17),
            (8193, 100_000),
            (1 << 14, 1 << 17),
            (1 << 20, 1 << 17),
        ]:
            km._SLAB_TOKENS, km._WORK_ELEMS = slab, work
            _assert_both_match(docs, 64, want, f"slab={slab} work={work}")
    finally:
        km._SLAB_TOKENS, km._WORK_ELEMS = old


def test_minhash_row_longer_than_slabs_matches_oracle():
    """A row of three slabs plus one token, between short rows, through the
    chunked long-row path at the production slab size; its tokens repeat, so
    each chunk is premapped."""
    rng = random.Random(19)
    long_row = _repetitive_doc(rng, 3 * km._SLAB_TOKENS + 1, 500)
    docs = [[rng.getrandbits(64) for _ in range(7)], long_row, [], [rng.getrandbits(64)]]
    _assert_both_match(docs, 16, _both_oracles(docs, 16))


def test_minhash_long_row_memory_is_bounded():
    """A 400k-token row peaks under twice the work buffer, not at a
    (tokens, num_perm) matrix of its own (~400 MiB at num_perm=128)."""
    import tracemalloc

    num_perm = 128
    a, b = rminhash_permutations(num_perm, 42)
    flat = np.random.default_rng(5).integers(0, 1 << 63, 400_000, dtype=np.uint64)
    offsets = np.array([0, len(flat)], dtype=np.int64)
    work_bytes = km._WORK_ELEMS * 8
    for name, run in [
        ("R-MinHash", lambda: km.rminhash_matrix(flat, offsets, a, b)),
        ("C-MinHash", lambda: kc.cminhash_matrix64(flat, offsets, num_perm, 42)),
    ]:
        tracemalloc.start()
        try:
            run()
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 2 * work_bytes, f"{name} peak {peak} B"


def test_rminhash_empty_doc_is_all_max():
    a, b = rminhash_permutations(8, 42)
    got = km.rminhash_matrix(
        np.array([], dtype=np.uint64), np.array([0, 0, 0], dtype=np.int64), a, b
    )
    assert (got == 0xFFFFFFFF).all()


def test_rminhash_offsets_validation():
    a, b = rminhash_permutations(4, 42)
    with pytest.raises(ValueError):
        km.rminhash_matrix(
            np.array([1, 2], dtype=np.uint64), np.array([0, 1], dtype=np.int64), a, b
        )


def test_cminhash_matrix_matches_oracle():
    rng = random.Random(17)
    docs = _random_docs(rng, 25)
    flat, offsets = _flat(docs)
    sig64 = kc.cminhash_matrix64(flat, offsets, 16, 42)
    d32 = kc.cminhash_digest32(sig64)
    sa, sb, pc, pd = cminhash_params(42)
    for i, d in enumerate(docs):
        want64 = oracle.cminhash_sig64_py(d, sa, sb, pc, pd, 16)
        assert sig64[i].tolist() == want64, f"row {i}"
        assert d32[i].tolist() == oracle.cminhash_digest32_py(want64)


def test_midpoint_sampler_closed_form_matches_iterative():
    for total, limit in [(16, 15), (33, 15), (100, 15), (97, 64), (65, 64), (1000, 15), (4096, 64)]:
        want = oracle.midpoint_sample_indices_py(total, limit)
        row_rep, idx = kr._midpoint_indices(np.array([total]), limit)
        assert idx.tolist() == want, (total, limit)
        assert all(0 <= i < total for i in want)


def test_rho_matrix_matches_oracle():
    cfg = RensaConfig(num_perm=128, seed=42)
    rng = random.Random(23)
    docs = _random_docs(rng, 40)
    flat, offsets = _flat(docs)
    got = kr.rho_matrix(flat, offsets, cfg)
    for i, d in enumerate(docs):
        want = oracle.rho_row_py(d, cfg)
        assert got.digest[i].tolist() == want.digest, f"row {i} digest"
        assert int(got.non_empty[i]) == want.non_empty, f"row {i} non_empty"
        assert int(got.source_token_counts[i]) == want.source_token_count
        assert bool(got.sparse[i]) == want.sparse, f"row {i} sparse"
        if want.sparse and want.sparse_sig is not None:
            assert got.sparse_sigs[i].tolist() == want.sparse_sig, f"row {i} sv sig"


def test_rho_matrix_non_power_of_two_num_perm():
    cfg = RensaConfig(num_perm=96, seed=7, num_bands=8)
    rng = random.Random(29)
    docs = _random_docs(rng, 15)
    flat, offsets = _flat(docs)
    got = kr.rho_matrix(flat, offsets, cfg)
    for i, d in enumerate(docs):
        want = oracle.rho_row_py(d, cfg)
        assert got.digest[i].tolist() == want.digest, f"row {i}"


def test_rho_densify_parity():
    cfg = RensaConfig(num_perm=32, seed=5, num_bands=8, rho_densify=True)
    rng = random.Random(31)
    docs = [[rng.getrandbits(64) for _ in range(c)] for c in [0, 1, 2, 3, 10]]
    flat, offsets = _flat(docs)
    got = kr.rho_matrix(flat, offsets, cfg)
    for i, d in enumerate(docs):
        want = oracle.rho_row_py(d, cfg)
        assert got.digest[i].tolist() == want.digest, f"row {i}"


def test_config_validation_matrix():
    """LSH parameter rejection (src/lsh/config.rs:141-175,
    tests/test_rensa.py:655-670)."""
    with pytest.raises(ValueError):
        RensaConfig(num_perm=0)
    with pytest.raises(ValueError):
        RensaConfig(threshold=1.5)
    with pytest.raises(ValueError):
        RensaConfig(num_perm=8, num_bands=16)
    with pytest.raises(ValueError):
        RensaConfig(num_perm=100, num_bands=7)
    RensaConfig(num_perm=128, num_bands=8)  # valid


def test_jaccard_identical_and_disjoint():
    a, b = rminhash_permutations(64, 42)
    d1 = [1, 2, 3, 4, 5]
    d2 = list(range(1000, 1100))
    s1 = oracle.rminhash_sig_py(d1, [int(x) for x in a], [int(x) for x in b])
    s2 = oracle.rminhash_sig_py(d2, [int(x) for x in a], [int(x) for x in b])
    assert oracle.jaccard_py(s1, s1) == 1.0
    assert oracle.jaccard_py(s1, s2) < 0.2


def test_rho_densify_np_fuzz_vs_scalar():
    """Direct fuzz of the vectorized circular densify against the scalar
    oracle over random occupancy masks (incl. all-empty, all-full, single
    non-empty at every position)."""
    import numpy as np

    from rensa_spark.config import EMPTY_BUCKET
    from rensa_spark.kernels.rho import rho_densify_np
    from rensa_spark.oracle.pyrensa import rho_densify_py

    rng = np.random.default_rng(17)
    for n in (1, 2, 7, 32):
        rows = []
        rows.append(np.full(n, EMPTY_BUCKET, dtype=np.uint32))  # all empty
        rows.append(rng.integers(0, EMPTY_BUCKET, n, dtype=np.uint32))  # full
        for p in range(n):  # single survivor at each position
            r = np.full(n, EMPTY_BUCKET, dtype=np.uint32)
            r[p] = rng.integers(0, EMPTY_BUCKET, dtype=np.uint32)
            rows.append(r)
        for _ in range(40):  # random masks
            r = rng.integers(0, EMPTY_BUCKET, n, dtype=np.uint32)
            mask = rng.random(n) < rng.random()
            r[mask] = EMPTY_BUCKET
            rows.append(r)
        mat = np.stack(rows)
        for seed in (0, 5, 0xDEADBEEF):
            got = mat.copy()
            rho_densify_np(got, seed)
            for i in range(len(rows)):
                want = mat[i].tolist()
                rho_densify_py(want, seed)
                assert got[i].tolist() == want, (n, seed, i)


def _bucket_pairs_py(sigs, keys, bounds, exact_cap, threshold):
    """Scalar reference of verify_bucket_pairs: every pair of a bucket of
    <= exact_cap members; hub + (signed signature, key)-sorted ring above."""
    out = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        members = list(range(lo, hi))
        if hi - lo <= exact_cap:
            cands = [(u, v) for u in members for v in members if u < v]
        else:
            hub = min(members, key=lambda r: keys[r])
            ring = sorted(members, key=lambda r: (tuple(sigs[r]), keys[r]))
            cands = [(hub, r) for r in members] + list(zip(ring, ring[1:]))
        for u, v in cands:
            if keys[u] == keys[v]:
                continue
            sim = sum(x == y for x, y in zip(sigs[u], sigs[v])) / len(sigs[u])
            if sim >= threshold:
                out.append((min(keys[u], keys[v]), max(keys[u], keys[v]), sim))
    return sorted(out)


@pytest.mark.parametrize("key_kind", ["long", "string"])
@pytest.mark.parametrize("chunk_elems", [None, 96])
def test_verify_bucket_pairs_matches_scalar(key_kind, chunk_elems, monkeypatch):
    """The numpy bucket kernel == the scalar reference, bit for bit in
    ``sim``: bucket sizes 1-3, both sides of the flat/block boundary, a
    bucket above the exact bound (hub + ring), negative int32 slots (an
    unsigned sort would order the ring differently), string and long keys,
    and (chunk_elems=96) every comparison split into many chunks."""
    from rensa_spark.kernels import bucket_verify as kb

    if chunk_elems is not None:
        monkeypatch.setattr(kb, "_CHUNK_ELEMS", chunk_elems)
    rng = np.random.default_rng(23)
    perm = 16
    sizes = [2, 3, 1, 2, 5, kb.FLAT_MAX, kb.FLAT_MAX + 1, 3, 90, 2]
    sigs = []
    for s in sizes:
        # near-duplicate families: members copy a few family bases and
        # re-draw some slots from a small signed alphabet
        bases = rng.integers(-2**31, 2**31, size=(3, perm), dtype=np.int64)
        for _ in range(s):
            row = bases[rng.integers(3)].copy()
            redraw = rng.random(perm) < rng.uniform(0.0, 0.5)
            row[redraw] = rng.integers(-3, 3, size=redraw.sum())
            sigs.append(row)
    sig = np.stack(sigs).astype(np.int32)
    n = len(sig)
    if key_kind == "long":
        keys = rng.choice(np.arange(-(2**62), 2**62, 2**40, dtype=np.int64), n, replace=False)
        keys[1] = keys[0]  # a repeated key pairs with nothing
    else:
        keys = np.array([f"k{v:05d}" for v in rng.permutation(n * 7)[:n]], dtype=object)
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    sig_py = sig.tolist()
    keys_py = keys.tolist()
    for exact_cap, threshold in ((1 << 20, 0.5), (kb.FLAT_MAX, 0.5), (2, 0.75), (10, 0.0)):
        i, j, sim = kb.verify_bucket_pairs(sig, keys, bounds, exact_cap, threshold)
        assert sim.dtype == np.float64
        got = sorted(zip(keys[i].tolist(), keys[j].tolist(), sim.tolist()))
        want = _bucket_pairs_py(sig_py, keys_py, bounds.tolist(), exact_cap, threshold)
        assert got == want, (exact_cap, threshold)
        assert len(want) > 0


def test_min_equal_slots_matches_float_division():
    from rensa_spark.kernels.bucket_verify import min_equal_slots

    for perm in (1, 3, 7, 16, 128, 256):
        for thr in (0.0, 0.1, 0.3, 0.5, 0.8, 0.92, 1 / 3, 2 / 3, 1.0):
            need = min_equal_slots(thr, perm)
            assert all((c / perm >= thr) == (c >= need) for c in range(perm + 1))


def _sign_pattern_py(v, planes):
    """Scalar reference: bit j set iff the exact integer dot with plane j
    is strictly positive."""
    return sum(
        1 << j for j, p in enumerate(planes) if sum(a * b for a, b in zip(v, p)) > 0
    )


def test_sign_pattern_matches_scalar():
    """sign_pattern == the scalar reference: a dot of exactly 0 sets no
    bit, negative dots, the zero vector, magnitudes at the fixed-point
    bound (|component| just under 2^23, where dim-64 dots approach 2^52),
    and a stacked second bank lands above the first bank's bits."""
    from rensa_spark.kernels.ann import (
        QUANT_SCALE,
        quantize_vecs,
        quantized_hyperplanes,
        sign_pattern,
    )

    dim = 64
    big = 8 * QUANT_SCALE - 1  # floor((8 - 2^-20) * 2^20)
    assert quantize_vecs(np.array([[8 - 2.0**-20, -8.0]]))[0].tolist() == [big, -8 * QUANT_SCALE]
    planes = quantized_hyperplanes(dim, 10, 42)
    assert np.abs(planes).max() < 8 * QUANT_SCALE
    rng = np.random.default_rng(3)
    ones = np.ones(dim, dtype=np.int64)
    alt = np.tile(np.array([1, -1], dtype=np.int64), dim // 2)
    rows = [
        np.zeros(dim, dtype=np.int64),  # zero vector: every dot is 0
        alt,  # dot with the all-ones plane is exactly 0
        -alt,
        np.full(dim, big, dtype=np.int64),
        np.full(dim, -big, dtype=np.int64),
        alt * big,
        -planes[0],  # strictly negative dot with plane 0
    ]
    rows += list(rng.integers(-big, big + 1, size=(20, dim), dtype=np.int64))
    rows += list(quantize_vecs(rng.normal(size=(20, dim))))
    vq = np.stack(rows)
    bank = np.vstack([ones, alt, planes, np.full(dim, big, dtype=np.int64)])
    got = sign_pattern(vq, bank)
    assert got.dtype == np.int64
    want = [_sign_pattern_py(v, bank.tolist()) for v in vq.tolist()]
    assert got.tolist() == want
    assert got[0] == 0
    assert got[1] & 1 == 0 and got[2] & 1 == 0  # dot exactly 0 -> bit 0
    assert got[6] & (1 << 2) == 0  # plane 0 sits at bit 2 of the bank
    # two stacked banks: the first bank's pattern in the low bits, the
    # second's shifted above it
    lo, hi = bank[:5], bank[5:]
    assert (
        got == sign_pattern(vq, lo) | (sign_pattern(vq, hi) << len(lo))
    ).all()


def _topk_py(q, c, c_ids, k):
    """Scalar reference of quantized_topk: exact integer dots, score =
    dot / (sqrt(|q|^2) * sqrt(|c|^2)) (0.0 when either norm is 0), ranked
    by score desc then id asc."""
    import math

    out = []
    for qi, qv in enumerate(q):
        n2q = sum(x * x for x in qv)
        scored = []
        for cv, cid in zip(c, c_ids):
            n2c = sum(x * x for x in cv)
            dot = sum(a * b for a, b in zip(qv, cv))
            if n2q > 0 and n2c > 0:
                s = float(dot) / (math.sqrt(float(n2q)) * math.sqrt(float(n2c)))
            else:
                s = 0.0
            scored.append((-s, cid))
        scored.sort()
        out += [(qi, cid, -ns) for ns, cid in scored[:k]]
    return out


@pytest.mark.parametrize("id_kind", ["long", "string"])
@pytest.mark.parametrize("chunk", [None, 2])
def test_quantized_topk_matches_scalar(id_kind, chunk, monkeypatch):
    """quantized_topk == the scalar reference, bit for bit in the score:
    score ties broken by id (a candidate and its exact double score the
    same cosine), zero-norm queries and candidates scoring 0.0, k larger
    than the candidate count, long and string ids in non-sorted input
    order, and (chunk=2) queries split across several matmuls."""
    from rensa_spark.kernels import ann

    if chunk is not None:
        monkeypatch.setattr(ann, "_CHUNK_ELEMS", chunk)
    rng = np.random.default_rng(17)
    dim = 8
    base = ann.quantize_vecs(rng.normal(size=(6, dim)))
    c = np.vstack(
        [base, 2 * base[:3], np.zeros((1, dim), dtype=np.int64), -base[:2]]
    )
    q = np.vstack(
        [base[:2], np.zeros((1, dim), dtype=np.int64), ann.quantize_vecs(rng.normal(size=(2, dim)))]
    )
    raw = rng.permutation(len(c) * 5)[: len(c)]
    if id_kind == "long":
        c_ids = (raw.astype(np.int64) - 20) * (2**40)
    else:
        c_ids = np.array([f"n{v:03d}" for v in raw], dtype=object)
    for k in (1, 3, len(c), len(c) + 4):
        qi, nid, score = ann.quantized_topk(q, c, c_ids, k)
        assert score.dtype == np.float64
        got = list(zip(qi.tolist(), nid.tolist(), score.tolist()))
        want = _topk_py(q.tolist(), c.tolist(), c_ids.tolist(), k)
        assert got == want, k
    # the zero query scores 0.0 against everything and ranks by id alone
    qi, nid, score = ann.quantized_topk(q[2:3], c, c_ids, len(c))
    assert (score == 0.0).all() and nid.tolist() == sorted(c_ids.tolist())
    # exact ties: base[0] and 2*base[0] score the query identically
    qi, nid, score = ann.quantized_topk(q[:1], c, c_ids, 2)
    assert score[0] == score[1]
    assert nid.tolist() == sorted([c_ids[0], c_ids[6]])


def _l2_topk_py(q, c, c_ids, k):
    """Scalar reference of l2_topk: exact integer squared L2 distances,
    ranked by distance then id ascending."""
    out = []
    for qi, qv in enumerate(q):
        scored = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, cv)), cid) for cv, cid in zip(c, c_ids)
        )
        out += [(qi, cid, d) for d, cid in scored[:k]]
    return out


@pytest.mark.parametrize("id_kind", ["long", "string"])
@pytest.mark.parametrize("chunk", [None, 2])
def test_l2_topk_matches_scalar(id_kind, chunk, monkeypatch):
    """l2_topk == the scalar reference: distance ties broken by id (a
    repeated candidate vector, and candidates mirrored around a query),
    k larger than the candidate count, long and string ids in non-sorted
    input order, components at the fixed-point bound, and (chunk=2)
    queries split across several matmuls."""
    from rensa_spark.kernels import ann

    if chunk is not None:
        monkeypatch.setattr(ann, "_CHUNK_ELEMS", chunk)
    rng = np.random.default_rng(29)
    dim = 8
    big = 8 * ann.QUANT_SCALE - 1
    base = ann.quantize_vecs(rng.normal(size=(6, dim)))
    unit = np.zeros(dim, dtype=np.int64)
    unit[0] = 5
    c = np.vstack(
        [base, base[:2], base[0] + unit, base[0] - unit, np.full((1, dim), -big)]
    )
    q = np.vstack([base[:1], np.full((1, dim), big), ann.quantize_vecs(rng.normal(size=(3, dim)))])
    raw = rng.permutation(len(c) * 5)[: len(c)]
    if id_kind == "long":
        c_ids = (raw.astype(np.int64) - 20) * (2**40)
    else:
        c_ids = np.array([f"n{v:03d}" for v in raw], dtype=object)
    for k in (1, 3, len(c), len(c) + 4):
        qi, nid, d = ann.l2_topk(q, c, c_ids, k)
        assert d.dtype == np.int64
        got = list(zip(qi.tolist(), nid.tolist(), d.tolist()))
        assert got == _l2_topk_py(q.tolist(), c.tolist(), c_ids.tolist(), k), k
    # base[0] is candidates 0 and 6 (distance 0), and candidates 8 and 9
    # sit at the same distance on either side of it: both ties go by id
    qi, nid, d = ann.l2_topk(q[:1], c, c_ids, 4)
    assert d.tolist()[:2] == [0, 0] and d[2] == d[3] == 25
    assert nid.tolist() == sorted(c_ids[[0, 6]].tolist()) + sorted(c_ids[[8, 9]].tolist())


def test_topk_query_chunks_bound_scores(monkeypatch):
    """_topk sizes each query chunk from the candidate count: no chunk
    scores more than _CHUNK_ELEMS pairs (or one query against a larger
    candidate set), and chunking changes no output row."""
    from rensa_spark.kernels import ann

    rng = np.random.default_rng(41)
    q = ann.quantize_vecs(rng.normal(size=(50, 4)))
    for nc in (1, 10, 100):
        c = ann.quantize_vecs(rng.normal(size=(nc, 4)))
        ids = rng.permutation(nc).astype(np.int64)
        want = [a.tolist() for a in ann.l2_topk(q, c, ids, 3)]
        monkeypatch.setattr(ann, "_CHUNK_ELEMS", 64)
        seen = []

        def score(qc, cc):
            seen.append(len(qc))
            d = ((qc[:, None, :] - cc[None, :, :]) ** 2).sum(axis=2)
            return d, d

        got = [a.tolist() for a in ann._topk(q, c, ids, 3, score)]
        monkeypatch.undo()
        assert got == want, nc
        assert sum(seen) == len(q) and max(seen) * nc <= max(64, nc), (nc, seen)
        assert len(seen) == -(-len(q) // max(1, 64 // nc))  # 1, 7, 50 chunks


def _pairs_py(vecs, ids, min_cosine, cosine):
    """Pairs a < b with a score that is not below ``min_cosine`` (a NaN
    score passes, as SQL's ``NaN >= x``); None is no score."""
    out = []
    for u in range(len(vecs)):
        for v in range(u + 1, len(vecs)):
            if ids[u] == ids[v]:
                continue
            s = cosine(vecs[u], vecs[v])
            if s is not None and not s < min_cosine:
                out.append((min(ids[u], ids[v]), max(ids[u], ids[v]), s))
    return sorted(out)


def _nan_str(rows):
    """NaN never equals itself: compare it as a string."""
    return [tuple("nan" if x != x else x for x in r) for r in rows]


def _fixed_cosine_py(a, b):
    import math

    n2a, n2b = sum(x * x for x in a), sum(x * x for x in b)
    if n2a == 0 or n2b == 0:
        return 0.0
    dot = sum(x * y for x, y in zip(a, b))
    return float(dot) / (math.sqrt(float(n2a)) * math.sqrt(float(n2b)))


def _float_cosine_py(a, b):
    """Left-to-right float64 sums from 0.0, as Spark's aggregate and
    DuckDB's list_sum accumulate them; no cosine for a zero norm product."""
    import math

    def total(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    a, b = [float(x) for x in a], [float(x) for x in b]
    den = math.sqrt(total(x * x for x in a)) * math.sqrt(total(x * x for x in b))
    if den == 0:
        return None
    return total(x * y for x, y in zip(a, b)) / den


def _pair_ids(id_kind, n, rng):
    raw = rng.permutation(n * 5)[:n]
    if id_kind == "long":
        ids = (raw.astype(np.int64) - 2 * n) * (2**40)
    else:
        ids = np.array([f"v{x:03d}" for x in raw], dtype=object)
    ids[3] = ids[2]  # a repeated id pairs with nothing
    return ids


@pytest.mark.parametrize("id_kind", ["long", "string"])
@pytest.mark.parametrize("chunk_elems", [None, 7])
def test_cosine_pairs_matches_scalar(id_kind, chunk_elems, monkeypatch):
    """cosine_pairs == the scalar fixed-point reference, bit for bit:
    zero-norm rows score 0.0 (so they pair at a threshold <= 0 and never
    above it), a vector and its double score exactly 1.0, long and
    string ids (a repeated id pairs with nothing), and (chunk_elems=7)
    one row block per few rows."""
    from rensa_spark.kernels import ann

    if chunk_elems is not None:
        monkeypatch.setattr(ann, "_CHUNK_ELEMS", chunk_elems)
    rng = np.random.default_rng(31)
    dim = 6
    base = ann.quantize_vecs(rng.normal(size=(8, dim)))
    zero = np.zeros((2, dim), dtype=np.int64)
    vq = np.vstack([base[:4], zero[:1], 2 * base[:1], base[4:], zero[1:]])
    ids = _pair_ids(id_kind, len(vq), rng)
    for min_cosine in (-1.0, 0.0, 0.3, 1.0):
        i, j, s = ann.cosine_pairs(vq, ids, min_cosine)
        assert s.dtype == np.float64
        got = sorted(zip(ids[i].tolist(), ids[j].tolist(), s.tolist()))
        want = _pairs_py(vq.tolist(), ids.tolist(), min_cosine, _fixed_cosine_py)
        assert got == want, min_cosine
        assert len(want) > 0
    zero_ids = {ids[4], ids[-1]}
    i, j, s = ann.cosine_pairs(vq, ids, 0.0)
    assert any({a, b} & zero_ids for a, b in zip(ids[i], ids[j]))
    i, j, s = ann.cosine_pairs(vq, ids, 1e-9)
    assert not any({a, b} & zero_ids for a, b in zip(ids[i], ids[j]))


@pytest.mark.parametrize("id_kind", ["long", "string"])
@pytest.mark.parametrize("chunk_elems", [None, 7])
def test_float_cosine_pairs_matches_scalar(id_kind, chunk_elems, monkeypatch):
    """float_cosine_pairs == the left-to-right scalar reference, bit for
    bit, on float32 vectors whose products span many orders: there a
    pairwise or SIMD sum (np.dot, einsum, matmul, ndarray.sum) rounds
    differently, which the test checks it does for this data. Zero vectors
    never pair, at any threshold; a vector with a NaN component pairs with
    every other vector (a zero one too), with NaN cosine."""
    from rensa_spark.kernels import ann

    if chunk_elems is not None:
        monkeypatch.setattr(ann, "_CHUNK_ELEMS", chunk_elems)
    rng = np.random.default_rng(37)
    n, dim = 24, 67
    v = (rng.normal(size=(n, dim)) * 10.0 ** rng.uniform(-6, 6, size=(n, dim))).astype(
        np.float32
    )
    # a 2^60 product first, then small products each under half its ulp:
    # summed left to right they vanish, grouped first they do not
    v[:4] = rng.integers(8, 12, size=(4, dim))
    v[:4, 0] = 2.0**30
    v[3, 0] = -(2.0**30)
    v[5] = 0.0
    v[9] = 0.0
    v[7, 3] = np.nan
    ids = _pair_ids(id_kind, n, rng)
    v64 = v.astype(np.float64)
    ref = [[_float_cosine_py(a, b) for b in v.tolist()] for a in v.tolist()]
    with np.errstate(invalid="ignore"):
        nrm = np.sqrt(np.einsum("ij,ij->i", v64, v64))
        blas = (v64 @ v64.T) / np.outer(nrm, nrm)
    assert any(
        ref[a][b] is not None and ref[a][b] == ref[a][b] and ref[a][b] != blas[a, b]
        for a in range(n)
        for b in range(n)
    )
    for min_cosine in (-2.0, 0.0, 0.3):
        i, j, s = ann.float_cosine_pairs(v, ids, min_cosine)
        got = sorted(zip(ids[i].tolist(), ids[j].tolist(), s.tolist()))
        want = _pairs_py(v.tolist(), ids.tolist(), min_cosine, _float_cosine_py)
        assert _nan_str(got) == _nan_str(want), min_cosine
        assert len(want) > 0
        nan_pairs = [r for r in got if r[2] != r[2]]
        assert len(nan_pairs) == n - 1 - (ids[7] in (ids[2], ids[3]))
    i, j, s = ann.float_cosine_pairs(v, ids, -2.0)
    zero = np.isin(ids[i], ids[[5, 9]]) | np.isin(ids[j], ids[[5, 9]])
    assert np.isnan(s[zero]).all() and zero.sum() == 2


def test_complete_runs_yields_whole_runs():
    """complete_runs hands every run over whole and in order: a run split
    across several batches (including an empty batch between its parts),
    one-row runs, string keys, 2-D keys, and the final run."""
    import pandas as pd

    from rensa_spark.kernels.runs import complete_runs

    keys = ["a", "a", "b", "c", "c", "c", "c", "c", "d", "e", "e"]
    cuts = [0, 1, 3, 3, 5, 7, 8, 11]
    frame = pd.DataFrame({"k": keys, "n": [1] * 5 + [2] * 6, "v": range(len(keys))})
    batches = [frame.iloc[lo:hi] for lo, hi in zip(cuts[:-1], cuts[1:])]

    def walk(arrays_of):
        runs = []
        for (vals,), bounds in complete_runs(iter(batches), arrays_of):
            assert bounds[0] == 0 and bounds[-1] == len(vals)
            runs += [vals[lo:hi].tolist() for lo, hi in zip(bounds[:-1], bounds[1:])]
        return runs

    by_key = [[0, 1], [2], [3, 4, 5, 6, 7], [8], [9, 10]]
    assert walk(lambda p: (p["k"].to_numpy(), p["v"].to_numpy())) == by_key
    # (k, n) keys: "c" spans n=1 and n=2, so it is two runs
    two = lambda p: (np.stack([p["k"].to_numpy(), p["n"].to_numpy()], axis=1), p["v"].to_numpy())  # noqa: E731
    assert walk(two) == [[0, 1], [2], [3, 4], [5, 6, 7], [8], [9, 10]]
    assert list(complete_runs(iter([frame.iloc[:0]]), two)) == []


def _sequential_greedy(early, late, order):
    """add-if-unique one row at a time: ``order`` lists the nodes in
    processing order; a node is kept iff no kept node has an edge to it."""
    preds = {v: [] for v in order}
    for e, l in zip(early, late):
        preds[l].append(e)
    kept = {}
    for v in order:
        kept[v] = not any(kept[u] for u in preds[v])
    return np.array([kept[v] for v in range(len(order))])


def _ordered_dag(rng, order, n_edges):
    """Random edges that run forward in ``order`` (duplicates allowed)."""
    rank = {v: i for i, v in enumerate(order)}
    early, late = [], []
    for _ in range(n_edges):
        a, b = rng.sample(order, 2)
        if rank[a] > rank[b]:
            a, b = b, a
        early.append(a)
        late.append(b)
    return np.array(early, dtype=np.int64), np.array(late, dtype=np.int64)


def test_greedy_kept_matches_sequential_on_random_dags():
    from rensa_spark.kernels.greedy import greedy_kept

    rng = random.Random(11)
    for _ in range(2000):
        n = rng.randint(2, 40)
        order = list(range(n))
        rng.shuffle(order)
        early, late = _ordered_dag(rng, order, rng.randint(0, 3 * n))
        got = greedy_kept(early, late, n)
        assert got.tolist() == _sequential_greedy(early, late, order).tolist()
    assert greedy_kept(np.array([], np.int64), np.array([], np.int64), 3).all()


def test_greedy_kept_cliques_and_chains():
    """An identical-content clique keeps only its first member; a chain
    keeps every other node. Node labels are shuffled against the order."""
    from rensa_spark.kernels.greedy import greedy_kept

    rng = random.Random(5)
    for n in (2, 40, 1000):
        order = list(range(n))
        rng.shuffle(order)
        i, j = np.triu_indices(n, 1)
        early, late = np.array(order)[i], np.array(order)[j]
        got = greedy_kept(early, late, n)
        assert got.sum() == 1 and got[order[0]]
    n = 2000
    order = list(range(n))
    rng.shuffle(order)
    early, late = np.array(order[:-1]), np.array(order[1:])
    got = greedy_kept(early, late, n)
    assert got.tolist() == _sequential_greedy(early, late, order).tolist()
    assert got.sum() == n // 2


def test_greedy_kept_kept_and_undecided_predecessors():
    """A node whose predecessors include a kept one and an undecided one is
    a duplicate: node 3 has kept predecessor 0 and predecessor 2, which
    waits on 1 in the first round."""
    from rensa_spark.kernels.greedy import greedy_kept

    early, late = np.array([0, 1, 2]), np.array([3, 2, 3])
    got = greedy_kept(early, late, 4)
    assert got.tolist() == [True, True, False, False]
    assert got.tolist() == _sequential_greedy(early, late, [0, 1, 2, 3]).tolist()


def test_greedy_kept_cycle_raises():
    from rensa_spark.kernels.greedy import greedy_kept

    with pytest.raises(ValueError, match="cycle"):
        greedy_kept(np.array([0, 1, 2]), np.array([1, 2, 0]), 3)
    # a cycle behind a kept node is still reported
    with pytest.raises(ValueError, match="cycle"):
        greedy_kept(np.array([3, 0, 1, 2]), np.array([0, 1, 2, 1]), 4)
