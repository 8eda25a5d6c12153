"""R-MinHash digest-matrix kernel, vectorized over Arrow-batch layouts.

Reference semantics: sig[i] = min over token hashes h of
((a[i] * h + b[i]) mod 2^64) >> 32, as u32; empty rows stay u32::MAX
(/root/reference/src/utils.rs:188-191, src/rminhash.rs:296-371,
src/rminhash/pipeline.rs:370-623). The reference's chunking / worker-thread /
SIMD machinery is replaced by numpy broadcasting over the flat
(values, offsets) layout that pyarrow ListArrays already provide —
the exact layout its flat path validates at src/rminhash/pipeline.rs:273-292.
"""

from __future__ import annotations

import numpy as np

U32 = np.uint32
U64 = np.uint64
U32_MAX = np.uint32(0xFFFFFFFF)

# cap the (tokens x num_perm) intermediate per slab. 2^16 elems = 512 KiB
# of u64 (512 tokens at num_perm=128): re-measured in round 2 on clean
# best-of-3 sweeps over BOTH short-caption and long-document corpora —
# 2^16-2^17 ties for fastest, 2^18 is ~1.4x slower (the permuted slab falls
# out of L2), 2^20+ is ~2.8x slower. Output is slab-size-invariant
# (tests/test_kernels chunking invariance).
_SLAB_ELEMS = 1 << 16


def rminhash_matrix(
    flat_hashes: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(rows, num_perm) uint32 digest matrix from flat token hashes + offsets.

    offsets has rows+1 entries, starts at 0, non-decreasing, ends at
    len(flat_hashes) — same contract as the reference flat path
    (src/rminhash/py.rs:291-316).
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    flat = np.ascontiguousarray(flat_hashes, dtype=U64)
    rows = len(offsets) - 1
    num_perm = len(a)
    out = np.full((rows, num_perm), U32_MAX, dtype=U32)
    n = len(flat)
    if rows == 0 or n == 0:
        return out
    if offsets[0] != 0 or offsets[-1] != n or np.any(np.diff(offsets) < 0):
        raise ValueError(
            "row_offsets must start at 0, be non-decreasing, and end at token_hashes length"
        )

    # process row-ranges so the permuted slab stays in cache-friendly memory
    rows_per_slab_tokens = max(_SLAB_ELEMS // max(num_perm, 1), 1)
    row_start = 0
    while row_start < rows:
        row_end = row_start + 1
        while (
            row_end < rows
            and offsets[row_end + 1] - offsets[row_start] <= rows_per_slab_tokens
        ):
            row_end += 1
        t0, t1 = int(offsets[row_start]), int(offsets[row_end])
        if t1 > t0:
            h = flat[t0:t1]
            # distinct-token pre-map (the reference's adaptive permutation
            # cache, src/rminhash/permutation_cache.rs, as a slab-local
            # exact rewrite): when tokens repeat, permute each distinct hash
            # once and gather — identical output, multiply count drops from
            # n to u
            uniq, inverse = np.unique(h, return_inverse=True)
            use_premap = len(uniq) <= 0.7 * len(h)
            hh = uniq if use_premap else h
            with np.errstate(over="ignore"):
                # (a*h + b) with in-place ops; the >>32 and u32 cast happen
                # AFTER the segmented min — x >> 32 is monotonic
                # non-decreasing, so min(x) >> 32 == min(x >> 32). This
                # halves memory traffic over the big slab.
                permuted = np.multiply(a[None, :], hh[:, None])
                np.add(permuted, b[None, :], out=permuted)
            if use_premap:
                permuted = permuted[inverse]
            seg = offsets[row_start : row_end + 1] - t0
            starts = seg[:-1]
            valid = seg[1:] > starts  # rows with >=1 token
            # reduceat over NON-EMPTY rows only: empty rows occupy no token
            # positions, so consecutive valid starts delimit segments exactly
            # (clamping empty-row starts instead would corrupt the previous
            # row's segment when a slab ends with empty rows)
            mins = np.minimum.reduceat(permuted, starts[valid], axis=0)
            mins = (mins >> U64(32)).astype(U32)
            slab = out[row_start:row_end]
            slab[valid] = mins
        row_start = row_end
    return out
