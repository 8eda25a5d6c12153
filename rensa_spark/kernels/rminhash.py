"""R-MinHash digest-matrix kernel, vectorized over Arrow-batch layouts, and
the slab-min core it shares with C-MinHash (kernels/cminhash.py).

Reference semantics: sig[i] = min over token hashes h of
((a[i] * h + b[i]) mod 2^64) >> 32, as u32; empty rows stay u32::MAX
(/root/reference/src/utils.rs:188-191, src/rminhash.rs:296-371,
src/rminhash/pipeline.rs:370-623). The reference's chunking / worker-thread /
SIMD machinery is replaced by numpy broadcasting over the flat
(values, offsets) layout that pyarrow ListArrays already provide —
the exact layout its flat path validates at src/rminhash/pipeline.rs:273-292.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

U32 = np.uint32
U64 = np.uint64
U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)

# Slabs are (slots, tokens) blocks of permuted values, so the inner axis is
# the token axis. numpy's broadcast u64 multiply+add costs ~1.8 ns/element
# while the inner axis is shorter than np.getbufsize() (8,192) and ~0.82
# from 8,192 to 32k tokens (128 slots, 4-core host, numpy 1.26). Slabs are
# cut at row boundaries, so _SLAB_TOKENS sits far enough above 8,192 that
# packed slabs stay above it. A block holds as many slots as fill
# _WORK_ELEMS, the one work buffer: 1 MiB fits a core's 2 MiB L2 (8 slots
# at 16k tokens) and holds its rate under four concurrent processes, as
# Spark's Python workers run; all 128 slots at once (16 MiB, past L2) ran
# at 40-95k rows/s under four processes. Sweep, R-MinHash rows/s over 20k
# captions in one process / 5k in each of four (min of 7; the quieter of
# two passes; the tools/kernel_floor.py corpus): tokens 2^13, any buffer:
# 55-67k / 46-64k; tokens 12k-32k with buffer 2^16: 104-119k / 108-117k,
# 2^17: 127-131k / 121-129k, 2^18: 96-111k / 98-104k, 2^19: 96-102k /
# 92-100k. Output is invariant to both constants (tests/test_kernels
# chunking invariance).
_SLAB_TOKENS = 1 << 14
_WORK_ELEMS = 1 << 17


def slab_min(
    flat_hashes: np.ndarray,
    offsets: np.ndarray,
    add: np.ndarray,
    mul: np.ndarray | None = None,
    pre: Callable[[np.ndarray], np.ndarray] | None = None,
) -> np.ndarray:
    """(rows, len(add)) uint64: for each row and slot p, the min over the
    row's token hashes h of the affine map ``mul[p] * x + add[p]`` of
    ``x = pre(h)`` (``mul`` None: 1; ``pre`` None: identity), wrapping u64;
    rows without tokens stay u64::MAX.

    offsets has rows+1 entries, starts at 0, non-decreasing, ends at
    len(flat_hashes) — same contract as the reference flat path
    (src/rminhash/py.rs:291-316).
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    flat = np.ascontiguousarray(flat_hashes, dtype=U64)
    add = np.asarray(add, dtype=U64)[:, None]
    mul = None if mul is None else np.asarray(mul, dtype=U64)[:, None]
    rows = len(offsets) - 1
    num_perm = len(add)
    out = np.full((rows, num_perm), U64_MAX, dtype=U64)
    n = len(flat)
    if rows == 0 or n == 0:
        return out
    if offsets[0] != 0 or offsets[-1] != n or np.any(np.diff(offsets) < 0):
        raise ValueError(
            "row_offsets must start at 0, be non-decreasing, and end at token_hashes length"
        )

    cap = _SLAB_TOKENS
    m = min(cap, n)
    work = np.empty(max(min(_WORK_ELEMS, num_perm * m), m), dtype=U64)

    def blocks(h: np.ndarray):
        """(first slot, (slots, len(h)) permuted values) blocks of tokens h,
        each block as many slots as fill the work buffer."""
        x = h if pre is None else pre(h)
        k = min(num_perm, len(work) // len(x))
        for p in range(0, num_perm, k):
            kk = min(k, num_perm - p)
            w = work[: kk * len(x)].reshape(kk, len(x))
            if mul is None:
                np.add(add[p : p + kk], x[None, :], out=w)
            else:
                np.multiply(mul[p : p + kk], x[None, :], out=w)
                np.add(w, add[p : p + kk], out=w)
            yield p, w

    r0 = 0
    with np.errstate(over="ignore"):
        while r0 < rows:
            t0 = int(offsets[r0])
            # the rows [r0, r1) whose tokens fit in one slab
            r1 = int(np.searchsorted(offsets, t0 + cap, side="right")) - 1
            if r1 == r0:
                # one row longer than a slab: min-combine its token chunks,
                # so memory stays at the work buffer however long the row.
                # Distinct-token premap (the reference's adaptive
                # permutation cache, src/rminhash/permutation_cache.rs, as
                # an exact rewrite): one row's min over a chunk is the min
                # over the chunk's distinct tokens, so repeated tokens are
                # permuted once. Only here can it pay; caption slabs never
                # repeat enough to cover np.unique's sort.
                t1 = int(offsets[r0 + 1])
                row = out[r0]
                for c0 in range(t0, t1, cap):
                    for p, w in blocks(np.unique(flat[c0 : min(c0 + cap, t1)])):
                        blk = row[p : p + len(w)]
                        np.minimum(blk, w.min(axis=1), out=blk)
                r0 += 1
                continue
            t1 = int(offsets[r1])
            if t1 > t0:
                seg = offsets[r0 : r1 + 1] - t0
                starts = seg[:-1]
                valid = seg[1:] > starts  # rows with >=1 token
                # reduceat over NON-EMPTY rows only: empty rows occupy no
                # token positions, so consecutive valid starts delimit
                # segments exactly (clamping empty-row starts instead would
                # corrupt the previous row's segment when a slab ends with
                # empty rows)
                starts = starts[valid]
                slab_rows = np.arange(r0, r1)[valid]
                for p, w in blocks(flat[t0:t1]):
                    mins = np.minimum.reduceat(w, starts, axis=1)
                    out[slab_rows, p : p + len(w)] = mins.T
            r0 = r1
    return out


def rminhash_matrix(
    flat_hashes: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(rows, num_perm) uint32 digest matrix from flat token hashes + offsets
    (the ``slab_min`` contract)."""
    # the >>32 comes after the min: x >> 32 is monotonic non-decreasing, so
    # min(x) >> 32 == min(x >> 32), and u64::MAX >> 32 is u32::MAX
    sig = slab_min(flat_hashes, offsets, b, a)
    np.right_shift(sig, U64(32), out=sig)
    return sig.astype(U32)
