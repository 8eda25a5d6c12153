"""Reference decisions, computed once per (workload, seed) on the driver
with the numpy kernels from ``rensa_spark.kernels`` and no Spark.

- flags: a row is a duplicate iff one of its band hashes is shared with
  another row (band-bucket counts).
- pipeline: rows with identical signatures collapse onto their min key; the
  remaining representatives pair up when they share a band and their
  signature Jaccard clears the threshold; union-find over both edge sets
  gives cluster_id = min key of the component.
- stream: sequential add-if-unique in key order (which is (batch, key)
  order): a row is kept iff no earlier kept row shares a band with it at
  Jaccard >= threshold.

:func:`spot_check` re-derives a sample of signatures and band hashes with
the pure-Python oracle in ``rensa_spark.oracle.pyrensa`` so the reference
itself is checked against rensa's scalar semantics.
"""

from __future__ import annotations

import numpy as np


def sketch(texts: list[str], cfg) -> tuple[np.ndarray, np.ndarray]:
    """(rows, num_perm) uint32 signatures and (rows, num_bands) uint64 bands."""
    from rensa_spark.kernels.fxhash import band_hash_u64
    from rensa_spark.kernels.prng import rminhash_permutations
    from rensa_spark.kernels.rminhash import rminhash_matrix
    from rensa_spark.kernels.shingle import shingle_hashes_batch

    flat, offs = shingle_hashes_batch(texts, cfg.ngram_size)
    a, b = rminhash_permutations(cfg.num_perm, cfg.seed)
    sig = rminhash_matrix(flat, offs, a, b)
    bs = cfg.band_size
    bands = np.stack(
        [band_hash_u64(sig[:, i * bs : (i + 1) * bs]) for i in range(cfg.num_bands)], axis=1
    )
    return sig, bands


def _similar(sig: np.ndarray, a: np.ndarray, b: np.ndarray, threshold: float) -> np.ndarray:
    # same expression as the engine's jaccard UDF: equal-slot fraction
    return (sig[a] == sig[b]).mean(axis=1) >= threshold


def flags(bands: np.ndarray) -> np.ndarray:
    dup = np.zeros(len(bands), dtype=bool)
    for j in range(bands.shape[1]):
        _, inv, counts = np.unique(bands[:, j], return_inverse=True, return_counts=True)
        dup |= counts[inv] >= 2
    return dup


def _band_pairs(bands: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """Distinct (a, b) row pairs, a < b, among ``rows`` sharing a band."""
    n_all = int(rows.max()) + 1 if len(rows) else 1
    codes = []
    for j in range(bands.shape[1]):
        h = bands[rows, j]
        order = np.argsort(h, kind="stable")
        hs, rs = h[order], rows[order]
        cuts = np.flatnonzero(np.diff(hs)) + 1
        for grp in np.split(rs, cuts):
            if len(grp) < 2:
                continue
            ia, ib = np.triu_indices(len(grp), 1)
            lo = np.minimum(grp[ia], grp[ib])
            hi = np.maximum(grp[ia], grp[ib])
            codes.append(lo.astype(np.int64) * n_all + hi)
    if not codes:
        return np.empty((0, 2), dtype=np.int64)
    u = np.unique(np.concatenate(codes))
    return np.stack([u // n_all, u % n_all], axis=1)


def _components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Min row index of each row's connected component."""
    lab = np.arange(n)
    while True:
        m = np.minimum(lab[a], lab[b])
        new = lab.copy()
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]
        if np.array_equal(new, lab):
            return lab
        lab = new


def clusters(sig: np.ndarray, bands: np.ndarray, threshold: float) -> dict:
    n = len(sig)
    idx = np.arange(n)
    rowbytes = np.ascontiguousarray(sig).view(np.dtype((np.void, sig.shape[1] * 4))).ravel()
    _, inv = np.unique(rowbytes, return_inverse=True)
    rep = np.full(inv.max() + 1, n)
    np.minimum.at(rep, inv, idx)
    rep_of = rep[inv]
    collapsed = rep_of != idx
    reps = idx[~collapsed]
    cand = _band_pairs(bands, reps)
    ok = _similar(sig, cand[:, 0], cand[:, 1], threshold) if len(cand) else np.zeros(0, bool)
    ver = cand[ok]
    a = np.concatenate([rep_of[collapsed], ver[:, 0]])
    b = np.concatenate([idx[collapsed], ver[:, 1]])
    return {
        "cluster": _components(n, a, b),
        "identical_collapsed_rows": int(collapsed.sum()),
        "candidate_pairs": len(cand),
        "verified_pairs": int(ok.sum()),
    }


def add_if_unique(sig: np.ndarray, bands: np.ndarray, threshold: float) -> np.ndarray:
    n, nb = bands.shape
    kept = np.zeros(n, dtype=bool)
    index: list[dict] = [dict() for _ in range(nb)]
    rows_b = bands.tolist()
    for i in range(n):
        cands = set()
        for j in range(nb):
            cands.update(index[j].get(rows_b[i][j], ()))
        if cands:
            c = np.fromiter(cands, dtype=np.int64)
            if _similar(sig, np.full(len(c), i), c, threshold).any():
                continue
        kept[i] = True
        for j in range(nb):
            index[j].setdefault(rows_b[i][j], []).append(i)
    return kept


def spot_check(texts: list[str], sig: np.ndarray, bands: np.ndarray, cfg, rng, k: int = 12) -> list[int]:
    """Rows (out of a seeded sample of ``k``) whose numpy signature or band
    hashes disagree with the pure-Python oracle."""
    from rensa_spark.kernels.prng import rminhash_permutations
    from rensa_spark.oracle.pyrensa import band_hash_py, fxhash64_py, rminhash_sig_py

    a, b = (list(map(int, x)) for x in rminhash_permutations(cfg.num_perm, cfg.seed))
    bad = []
    for i in rng.choice(len(texts), size=min(k, len(texts)), replace=False):
        tokens = texts[i].lower().split() if texts[i] else []
        n = cfg.ngram_size
        shingles = (
            tokens if n <= 1 or len(tokens) < n
            else [" ".join(tokens[s : s + n]) for s in range(len(tokens) - n + 1)]
        )
        want = rminhash_sig_py([fxhash64_py(s) for s in shingles], a, b)
        bs = cfg.band_size
        want_bands = [band_hash_py(want[j * bs : (j + 1) * bs]) for j in range(cfg.num_bands)]
        if want != sig[i].tolist() or want_bands != bands[i].tolist():
            bad.append(int(i))
    return bad
