"""ANN core: int64 fixed-point quantization, sign-pattern buckets, and the
numpy kernels that score one bucket: top-k by fixed-point cosine or squared
L2, and near-duplicate pairs by fixed-point or float64 cosine.

The hyperplane lanes bucket vectors by the signs of their dot products
with random hyperplanes and re-rank candidates by cosine (IVF by squared
L2). Both steps run on int64 fixed-point vectors (``floor(v * 2^20)``), so
each sign decision is an exact integer comparison and each score is a
fixed-shape float expression over exact integers: the results replicate
bit for bit in Spark, numpy and the DuckDB oracles. The one float kernel,
:func:`float_cosine_pairs`, replicates the oracle by summing in its order.
"""

from __future__ import annotations

import numpy as np

from rensa_spark.kernels.prng import Xoshiro256PlusPlus

# fixed-point scale for hyperplane/vector quantization: 2^20 keeps every
# intermediate exact — |component| < 2^23 after scaling, dot products < 2^53,
# so int64 never overflows and int->double conversions are lossless
QUANT_SCALE = 1 << 20

# bound on the scores of one block of rows in every scoring kernel (top-k:
# a query chunk x the candidates; pairs: a row block x the run): 2^20
# doubles = 8 MiB per temporary
_CHUNK_ELEMS = 1 << 20


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic gaussian-ish hyperplanes from Xoshiro bits (Box-Muller
    over uniform u64 draws) — no np.random state dependence."""
    rng = Xoshiro256PlusPlus(seed)
    n = dim * n_planes
    u = np.array([rng.next_u64() for _ in range(n * 2)], dtype=np.uint64)
    u1 = (u[0::2] >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u2 = (u[1::2] >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u1 = np.clip(u1, 1e-12, 1.0)
    g = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    return g[:n].reshape(n_planes, dim)


def quantized_hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """int64 hyperplanes = floor(gaussian * 2^20). Quantizing the planes (and
    the vectors, see :func:`quantize_vecs`) makes every bucket sign decision
    EXACT int64 arithmetic — bit-reproducible across Spark, numpy and the
    DuckDB oracle (no float sign decisions)."""
    return np.floor(_hyperplanes(dim, n_planes, seed) * QUANT_SCALE).astype(
        np.int64
    )


def quantize_vecs(m: np.ndarray) -> np.ndarray:
    """float -> int64 fixed-point: floor(v * 2^20). float32 inputs widen to
    float64 exactly and the power-of-two scaling is exact, so floor is the
    only (deterministic, engine-independent) rounding step."""
    return np.floor(m.astype(np.float64) * QUANT_SCALE).astype(np.int64)


def sign_pattern(vq: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(rows,) int64 sign pattern: bit j = (vq . planes[j]) > 0, exact int64.

    A dot of exactly 0 (the zero vector, or a vector on a plane) sets no
    bit. Stacking a second plane bank under the first yields the bucket in
    the low bits and the hot-bucket sub-pattern above it, from one matmul.
    At most 63 planes, so the pattern stays a non-negative int64."""
    signs = (vq @ planes.T) > 0
    return signs.astype(np.int64) @ (1 << np.arange(len(planes), dtype=np.int64))


def _fixed_cosine(dots, n2a, n2b):
    """(rows, cols) doubles dot / (sqrt(|a|^2) * sqrt(|b|^2)) from exact
    int64 dots and float64 squared norms, 0.0 when a norm is 0. Dots and
    norms are exact integers < 2^53 and sqrt, mul and div each round once,
    so the doubles are bit-identical to the SQL oracles."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(
            (n2a[:, None] > 0) & (n2b[None, :] > 0),
            dots.astype(np.float64) / (np.sqrt(n2a)[:, None] * np.sqrt(n2b)[None, :]),
            0.0,
        )


def _sq_norms(v):
    return (v * v).sum(axis=1).astype(np.float64)


def _topk(q, c, c_ids, k, score):
    """Top-k of each query (nq >= 1) over candidates ``c`` (nc, dim): flat
    arrays (query row index, candidate id, score), ``min(k, nc)`` rows per
    query, queries in input order. ``score(qc, c)`` returns a query chunk's
    scores against the id-sorted candidates and the rank key (lower
    first); the stable argsort keeps ties in id order. Each chunk of
    queries holds at most ``_CHUNK_ELEMS`` scores (or one query), so the
    temporaries stay bounded however large the candidate set is."""
    order = np.argsort(c_ids, kind="stable")
    c, c_ids = c[order], c_ids[order]
    top = min(k, len(c_ids))
    step = max(1, _CHUNK_ELEMS // max(len(c), 1))
    out_q, out_n, out_s = [], [], []
    for lo in range(0, len(q), step):
        s, key = score(q[lo : lo + step], c)
        best = np.argsort(key, axis=1, kind="stable")[:, :top]
        out_q.append(np.repeat(np.arange(lo, lo + len(s)), top))
        out_n.append(c_ids[best].reshape(-1))
        out_s.append(np.take_along_axis(s, best, axis=1).reshape(-1))
    return np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_s)


def quantized_topk(q: np.ndarray, c: np.ndarray, c_ids: np.ndarray, k: int):
    """:func:`_topk` of int64 fixed-point vectors by :func:`_fixed_cosine`,
    best first, ties by candidate id ascending."""

    def score(qc, c):
        s = _fixed_cosine(qc @ c.T, _sq_norms(qc), _sq_norms(c))
        return s, -s

    return _topk(q, c, c_ids, k, score)


def l2_topk(q: np.ndarray, c: np.ndarray, c_ids: np.ndarray, k: int):
    """:func:`_topk` of int64 fixed-point vectors by int64 squared L2
    distance, nearest first, ties by candidate id ascending.
    |q|^2 + |c|^2 - 2 q.c is the exact sum of squared differences while no
    term overflows (components < 2^23: any dim < 2^16)."""

    def score(qc, c):
        d = (qc * qc).sum(axis=1)[:, None] + (c * c).sum(axis=1)[None, :] - 2 * (qc @ c.T)
        return d, d

    return _topk(q, c, c_ids, k, score)


def _run_pairs(ids, min_score, block):
    """(i, j, score) for the rows of one run with score >= ``min_score``
    and ``ids[i] < ids[j]`` (equal ids never pair). ``block(r0, r1)``
    scores rows r0:r1 against rows r0:n, at most ``_CHUNK_ELEMS`` scores
    (or one row) at a time. A NaN score passes, as SQL's ``NaN >= x``
    does; -inf marks a pair with no score, which never passes."""
    n = len(ids)
    rank = ids if ids.dtype.kind in "iu" else np.unique(ids, return_inverse=True)[1]
    step = max(1, _CHUNK_ELEMS // max(n, 1))
    empty = np.empty(0, dtype=np.int64)
    out_i, out_j, out_s = [empty], [empty], [np.empty(0)]
    for r0 in range(0, n - 1, step):
        r1 = min(n - 1, r0 + step)
        s = block(r0, r1)
        keep = (np.isnan(s) | ((s >= min_score) & (s > -np.inf))) & (
            np.arange(n - r0)[None, :] > np.arange(r1 - r0)[:, None]
        )
        ii, jj = np.nonzero(keep)
        out_i.append(ii + r0)
        out_j.append(jj + r0)
        out_s.append(s[ii, jj])
    i, j, s = (np.concatenate(p) for p in (out_i, out_j, out_s))
    distinct = rank[i] != rank[j]
    i, j, s = i[distinct], j[distinct], s[distinct]
    swap = rank[j] < rank[i]
    return np.where(swap, j, i), np.where(swap, i, j), s


def cosine_pairs(vq: np.ndarray, ids: np.ndarray, min_cosine: float):
    """:func:`_run_pairs` of int64 fixed-point vectors by
    :func:`_fixed_cosine` (a zero-norm side scores 0.0)."""
    n2 = _sq_norms(vq)
    return _run_pairs(
        ids,
        min_cosine,
        lambda r0, r1: _fixed_cosine(vq[r0:r1] @ vq[r0:].T, n2[r0:r1], n2[r0:]),
    )


def float_cosine_pairs(v: np.ndarray, ids: np.ndarray, min_cosine: float):
    """:func:`_run_pairs` of float vectors by float64 dot / (|a| * |b|),
    every sum of products accumulated left to right from 0.0 (the order of
    Spark's ``aggregate`` and DuckDB's ``list_sum``; pairwise or SIMD sums
    round differently) over components widened to float64. A pair whose
    norm product is 0 has no cosine and never pairs; a NaN component makes
    a NaN cosine, which pairs."""
    vt = np.ascontiguousarray(v.T, dtype=np.float64)  # (dim, n)
    n2 = np.zeros(vt.shape[1])
    for col in vt:
        n2 += col * col
    nrm = np.sqrt(n2)

    def block(r0, r1):
        dot = np.zeros((r1 - r0, vt.shape[1] - r0))
        prod = np.empty_like(dot)
        for col in vt:
            np.multiply(col[r0:r1, None], col[None, r0:], out=prod)
            dot += prod
        den = nrm[r0:r1, None] * nrm[None, r0:]
        with np.errstate(divide="ignore", invalid="ignore"):
            s = dot / den
        s[den == 0] = -np.inf
        return s

    return _run_pairs(ids, min_cosine, block)
