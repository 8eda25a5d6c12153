"""Hyperplane ANN core: int64 fixed-point quantization, sign-pattern
buckets and the exact quantized top-k scorer.

Every ANN lane buckets vectors by the signs of their dot products with
random hyperplanes and re-ranks candidates by cosine. Both steps run here,
on int64 fixed-point vectors (``floor(v * 2^20)``), so each sign decision
is an exact integer comparison and each score is a fixed-shape float
expression over exact integers: the results replicate bit for bit in
Spark, numpy and the DuckDB oracles.
"""

from __future__ import annotations

import numpy as np

from rensa_spark.kernels.prng import Xoshiro256PlusPlus

# fixed-point scale for hyperplane/vector quantization: 2^20 keeps every
# intermediate exact — |component| < 2^23 after scaling, dot products < 2^53,
# so int64 never overflows and int->double conversions are lossless
QUANT_SCALE = 1 << 20

# queries scored per matmul in quantized_topk: bounds the score temporary
# at QUERY_CHUNK x candidates doubles
QUERY_CHUNK = 4096


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


def quantized_topk(
    q: np.ndarray, c: np.ndarray, c_ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-k candidates of each query by exact fixed-point cosine.

    ``q`` (nq >= 1, dim) and ``c`` (nc, dim) are int64 fixed-point vectors.
    Score = dot / (sqrt(|q|^2) * sqrt(|c|^2)), 0.0 when either norm is 0:
    the int64 dot and squared norms are exact integers < 2^53, and sqrt,
    mul and div are each correctly rounded once, so the doubles are
    bit-identical to the SQL oracles. Ties rank by candidate id ascending.

    Returns ``min(k, nc)`` rows per query as flat arrays (query row index,
    candidate id, score), queries in input order, each query's rows best
    first. Queries are scored ``QUERY_CHUNK`` rows per matmul.
    """
    order = np.argsort(c_ids, kind="stable")  # the id tie-break order
    c, c_ids = c[order], c_ids[order]
    top = min(k, len(c_ids))
    n2c = (c * c).sum(axis=1).astype(np.float64)
    out_q, out_n, out_s = [], [], []
    for lo in range(0, len(q), QUERY_CHUNK):
        qc = q[lo : lo + QUERY_CHUNK]
        n2q = (qc * qc).sum(axis=1).astype(np.float64)
        dots = (qc @ c.T).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(
                (n2q[:, None] > 0) & (n2c[None, :] > 0),
                dots / (np.sqrt(n2q)[:, None] * np.sqrt(n2c)[None, :]),
                0.0,
            )
        # columns are in id order, so one stable argsort on -score per row
        # keeps the id tie-break
        best = np.argsort(-s, axis=1, kind="stable")[:, :top]
        out_q.append(np.repeat(np.arange(lo, lo + len(qc)), top))
        out_n.append(c_ids[best].reshape(-1))
        out_s.append(np.take_along_axis(s, best, axis=1).reshape(-1))
    return np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_s)
