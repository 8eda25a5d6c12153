"""Verified pairs inside LSH band buckets, vectorized over an Arrow batch.

Input is a run of bucket members laid out contiguously (bucket ``k`` holds
rows ``bounds[k]:bounds[k + 1]``). A pair is a candidate when its two
members share a bucket; it is verified when the fraction of equal signature
slots reaches the threshold (src/rminhash.rs:266-294). Buckets with at most
``exact_cap`` members check every pair. A larger bucket checks only hub
edges (its minimum key to every member) plus a ring over its members sorted
by (signature, key): near-identical members sort next to each other, so
transitive near-duplicate chains keep their verified edges with O(n)
candidates.
"""

from __future__ import annotations

import numpy as np

# buckets up to this size enumerate their pairs as flat index arrays, all
# buckets of one size in one step (a batch of small buckets is a handful of
# numpy calls); larger exact buckets compare a block of rows against the
# whole bucket instead, which never materializes the O(n^2) index arrays
FLAT_MAX = 64

# bound on the elements of one comparison temporary (pairs x slots, or
# block rows x bucket size): 2^20 elements = 1 MiB of bools
_CHUNK_ELEMS = 1 << 20


def min_equal_slots(threshold: float, num_perm: int) -> int:
    """Smallest equal-slot count c with c / num_perm >= threshold in float64
    (num_perm + 1 when no count qualifies)."""
    ok = np.arange(num_perm + 1, dtype=np.float64) / num_perm >= threshold
    return int(np.argmax(ok)) if ok.any() else num_perm + 1


def _verify(sig, i, j, need):
    """Candidate index pairs -> (i, j, equal-slot count) with count >= need."""
    step = max(1, _CHUNK_ELEMS // max(sig.shape[1], 1))
    out_i, out_j, out_c = [], [], []
    for lo in range(0, len(i), step):
        ii, jj = i[lo : lo + step], j[lo : lo + step]
        cnt = np.count_nonzero(sig[ii] == sig[jj], axis=1)
        keep = cnt >= need
        out_i.append(ii[keep])
        out_j.append(jj[keep])
        out_c.append(cnt[keep])
    return out_i, out_j, out_c


def _block_pairs(sig, lo, hi, need):
    """Every pair of rows lo:hi (one bucket) with equal-slot count >= need,
    one block of rows against the whole bucket at a time."""
    n = hi - lo
    cols = np.ascontiguousarray(sig[lo:hi].T)  # (slots, n)
    rows = max(1, _CHUNK_ELEMS // n)
    out_i, out_j, out_c = [], [], []
    for r0 in range(0, n, rows):
        r1 = min(n, r0 + rows)
        cnt = np.zeros((r1 - r0, n), dtype=np.int32)
        for col in cols:
            cnt += col[r0:r1, None] == col[None, :]
        ii, jj = np.nonzero(cnt >= need)
        ii += r0
        upper = ii < jj
        ii, jj = ii[upper], jj[upper]
        out_i.append(ii + lo)
        out_j.append(jj + lo)
        out_c.append(cnt[ii - r0, jj])
    return out_i, out_j, out_c


def _hub_ring(sig, rank, lo, hi):
    """Hub + (signature, key)-sorted ring candidates of rows lo:hi. Slots
    sort in the matrix's own signed dtype, the order Spark uses for
    ``array<int>`` / ``array<bigint>``."""
    hub = lo + int(np.argmin(rank[lo:hi]))
    members = np.arange(lo, hi)
    order = np.lexsort((rank[lo:hi],) + tuple(sig[lo:hi, ::-1].T))
    ring = members[order]
    return (
        np.concatenate([np.full(hi - lo, hub), ring[:-1]]),
        np.concatenate([members, ring[1:]]),
    )


def verify_bucket_pairs(sig, keys, bounds, exact_cap, threshold):
    """Verified pairs of the buckets ``bounds`` delimits.

    ``sig``: (rows, num_perm) signed integer signatures; ``keys``: (rows,)
    integer or string keys; ``bounds``: (buckets + 1,) non-decreasing row
    offsets from 0 to rows. Returns row-index arrays ``(i, j)`` with
    ``keys[i] < keys[j]`` and ``sim`` = equal slots / num_perm (float64,
    ``>= threshold``). A pair repeats when its members share several
    buckets; pairs of equal keys are dropped.
    """
    num_perm = sig.shape[1]
    need = min_equal_slots(threshold, num_perm)
    if keys.dtype.kind in "iu":
        rank = keys
    else:  # string keys: codes in sorted order compare like the keys
        rank = np.unique(keys, return_inverse=True)[1]
    bounds = np.asarray(bounds, dtype=np.int64)
    starts, sizes = bounds[:-1], np.diff(bounds)
    parts_i, parts_j, parts_c = [], [], []

    def add(parts):
        parts_i.extend(parts[0])
        parts_j.extend(parts[1])
        parts_c.extend(parts[2])

    flat = (sizes >= 2) & (sizes <= min(exact_cap, FLAT_MAX))
    for s in np.unique(sizes[flat]):
        iu, ju = np.triu_indices(int(s), 1)
        st = starts[flat & (sizes == s)][:, None]
        add(_verify(sig, (st + iu).ravel(), (st + ju).ravel(), need))
    for k in np.nonzero((sizes > FLAT_MAX) & (sizes <= exact_cap))[0]:
        add(_block_pairs(sig, int(starts[k]), int(bounds[k + 1]), need))
    for k in np.nonzero((sizes >= 2) & (sizes > exact_cap))[0]:
        add(_verify(sig, *_hub_ring(sig, rank, int(starts[k]), int(bounds[k + 1])), need))

    if not parts_i:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.empty(0, dtype=np.float64)
    i, j, cnt = (np.concatenate(p) for p in (parts_i, parts_j, parts_c))
    distinct = rank[i] != rank[j]
    i, j, cnt = i[distinct], j[distinct], cnt[distinct]
    swap = rank[j] < rank[i]
    i, j = np.where(swap, j, i), np.where(swap, i, j)
    return i, j, cnt / num_perm
