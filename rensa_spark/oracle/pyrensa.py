"""Clean-room pure-Python scalar reimplementation of rensa's algorithms.

Every function cites the reference behavior it reproduces
(file:line into /root/reference). This module is intentionally slow and
simple — it is the ground truth the vectorized kernels and the distributed
Spark operators are tested against.
"""

from __future__ import annotations

from dataclasses import dataclass

from rensa_spark.config import RensaConfig

MASK64 = (1 << 64) - 1
MASK32 = (1 << 32) - 1

K = 0xF1357AEA2E62A9C5
ROTATE = 26
SEED1 = 0x243F6A8885A308D3
SEED2 = 0x13198A2E03707344
PTZC = 0xA4093822299F31D0
EMPTY_BUCKET = MASK32

RHO_SALTS = (
    0x517CC1B727220A95,
    0x6EED0E9DA4D94A4F,
    0x9E3779B97F4A7C15,
    0xBF58476D1CE4E5B9,
)  # src/rminhash/rho.rs:517-522


def _rotl(x: int, k: int) -> int:
    return ((x << k) | (x >> (64 - k))) & MASK64


def _mm(x: int, y: int) -> int:
    """multiply_mix (utils.rs:55-66): lo64 ^ hi64 of the 128-bit product."""
    full = x * y
    return (full & MASK64) ^ (full >> 64)


def _u64le(b: bytes, off: int) -> int:
    return int.from_bytes(b[off : off + 8], "little")


def _u32le(b: bytes, off: int) -> int:
    return int.from_bytes(b[off : off + 4], "little")


def hash_bytes_py(b: bytes) -> int:
    """hash_bytes (utils.rs:129-165)."""
    n = len(b)
    s0, s1 = SEED1, SEED2
    if n <= 16:
        if n >= 8:
            s0 ^= _u64le(b, 0)
            s1 ^= _u64le(b, n - 8)
        elif n >= 4:
            s0 ^= _u32le(b, 0)
            s1 ^= _u32le(b, n - 4)
        elif n > 0:
            s0 ^= b[0]
            s1 ^= (b[n - 1] << 8) | b[n // 2]
    else:
        off = 0
        while off < n - 16:
            x = _u64le(b, off)
            y = _u64le(b, off + 8)
            t = _mm(s0 ^ x, PTZC ^ y)
            s0, s1 = s1, t
            off += 16
        s0 ^= _u64le(b, n - 16)
        s1 ^= _u64le(b, n - 8)
    return _mm(s0, s1) ^ n


def fxhash64_py(data: bytes | str) -> int:
    """calculate_hash_fast (utils.rs:168-178)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    return _rotl((hash_bytes_py(data) * K) & MASK64, ROTATE)


def splitmix64_py(v: int) -> int:
    """splitmix64 (rho.rs:34-39)."""
    v = (v + 0x9E3779B97F4A7C15) & MASK64
    v = ((v ^ (v >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    v = ((v ^ (v >> 27)) * 0x94D049BB133111EB) & MASK64
    return v ^ (v >> 31)


def mix_u32_py(v: int) -> int:
    """mix_u32 (rho.rs:42-49)."""
    v &= MASK32
    v ^= v >> 16
    v = (v * 0x7FEB352D) & MASK32
    v ^= v >> 15
    v = (v * 0x846CA68B) & MASK32
    return v ^ (v >> 16)


def band_hash_py(band: list[int]) -> int:
    """calculate_band_hash (utils.rs:194-223)."""
    h = 0
    i = 0
    n = len(band)
    while i + 4 <= n:
        val1 = band[i] | (band[i + 1] << 32)
        val2 = band[i + 2] | (band[i + 3] << 32)
        h = ((h + val1) * K) & MASK64
        h = ((h + val2) * K) & MASK64
        i += 4
    while i < n:
        h = ((h + band[i]) * K) & MASK64
        i += 1
    return _rotl(h, ROTATE)


# ---------------------------------------------------------------- R-MinHash
def rminhash_sig_py(token_hashes: list[int], a: list[int], b: list[int]) -> list[int]:
    """RMinHash signature: sig[i] = min over tokens of (a[i]*h + b[i]) >> 32.

    src/utils.rs:188-191 (permute_hash) + src/rminhash.rs:296-371 (min-fold).
    Empty input leaves the signature at u32::MAX (src/rminhash/py.rs:109-115).
    """
    num_perm = len(a)
    sig = [MASK32] * num_perm
    for h in token_hashes:
        for i in range(num_perm):
            v = ((a[i] * h + b[i]) & MASK64) >> 32
            if v < sig[i]:
                sig[i] = v
    return sig


def jaccard_py(sig_a: list[int], sig_b: list[int]) -> float:
    """Fraction of equal slots (src/rminhash.rs:266-294)."""
    if not sig_a:
        return 0.0
    eq = sum(1 for x, y in zip(sig_a, sig_b) if x == y)
    return eq / len(sig_a)


# ---------------------------------------------------------------- C-MinHash
def cminhash_sig64_py(
    token_hashes: list[int], sigma_a: int, sigma_b: int, pi_c: int, pi_d: int, num_perm: int
) -> list[int]:
    """C-MinHash (arXiv:2109.03337 scheme as in src/cminhash/core.rs:38-46,103-106):
    sigma(h) = sigma_a*h + sigma_b; slot k = min over tokens of
    pi_c*sigma(h) + (pi_c*k + pi_d), all wrapping u64."""
    pi_pre = [((pi_c * k + pi_d) & MASK64) for k in range(num_perm)]
    sig = [MASK64] * num_perm
    for h in token_hashes:
        sigma = (sigma_a * h + sigma_b) & MASK64
        base = (pi_c * sigma) & MASK64
        for k in range(num_perm):
            v = (base + pi_pre[k]) & MASK64
            if v < sig[k]:
                sig[k] = v
    return sig


def cminhash_digest32_py(sig64: list[int]) -> list[int]:
    """digest(): top 32 bits (src/cminhash/py.rs:156-160)."""
    return [v >> 32 for v in sig64]


# ---------------------------------------------------------------- Rho sketch
def midpoint_sample_indices_py(total: int, limit: int) -> list[int]:
    """MidpointSampler (rho.rs:297-341): deterministic evenly-spaced indices."""
    denom = limit * 2
    total_div = total // limit
    total_rem = total - total_div * limit
    q = total_div // 2
    r = total_rem if (total_div % 2 == 0) else limit + total_rem
    step_div = total_div
    step_mod = total_rem * 2
    out = []
    for _ in range(limit):
        out.append(q)
        r += step_mod
        q += step_div
        if r >= denom:
            r -= denom
            q += 1
    return out


def rho_apply_probes_py(row: list[int], token_hash: int, seed: int, probes: int) -> None:
    """apply_rho_probes_to_row (rho.rs:509-533)."""
    num_perm = len(row)
    mixed = splitmix64_py(token_hash ^ seed ^ RHO_SALTS[0])
    for probe in range(probes):
        bucket = mixed % num_perm
        v = mixed >> 32
        if v < row[bucket]:
            row[bucket] = v
        if probe + 1 < probes:
            mixed = splitmix64_py(mixed ^ RHO_SALTS[(probe + 1) & 3])


def rho_densify_py(row: list[int], seed: int) -> None:
    """densify_rho_row (rho.rs:535-577): circular next-non-empty fill."""
    n = len(row)
    if n == 0 or all(v == EMPTY_BUCKET for v in row):
        return
    next_non_empty = [n] * n
    nxt = n
    for rev in range(2 * n - 1, -1, -1):
        idx = rev % n
        if row[idx] != EMPTY_BUCKET:
            nxt = idx
        if rev < n:
            next_non_empty[idx] = nxt
    for idx in range(n):
        if row[idx] != EMPTY_BUCKET:
            continue
        cand = next_non_empty[idx]
        if cand < n:
            value = row[cand]
            probe = cand - idx if cand >= idx else n - idx + cand
            index_mix = (idx * 0x9E3779B9) & MASK32
            probe_mix = (probe * 0x85EBCA6B) & MASK32
            seed_mix = ((seed & MASK32) * 0xC2B2AE35) & MASK32
            row[idx] = mix_u32_py(value ^ index_mix ^ probe_mix ^ seed_mix)
        else:
            row[idx] = mix_u32_py((seed & MASK32) ^ ((idx * 0x27D4EB2D) & MASK32))


def sparse_verify_signature_py(token_hashes: list[int], seed: int, perm: int) -> list[int]:
    """compute_sparse_verify_signature_into (rho.rs:587-613)."""
    sig = [MASK32] * perm
    if not token_hashes:
        return sig
    for i in range(perm):
        perm_seed = splitmix64_py(seed ^ SEED1 ^ ((i * 0x9E3779B97F4A7C15) & MASK64))
        m = MASK32
        for h in token_hashes:
            v = splitmix64_py(h ^ perm_seed) >> 32
            if v < m:
                m = v
        sig[i] = m
    return sig


@dataclass
class RhoRow:
    digest: list[int]
    non_empty: int
    source_token_count: int  # saturated to u16 (rho.rs:96-98)
    sparse: bool
    sparse_sig: list[int] | None


def rho_row_py(token_hashes: list[int], cfg: RensaConfig) -> RhoRow:
    """Full Rho row build, mirroring the streaming path (rho.rs:1055-1149):
    adaptive budget -> midpoint-sampled token subset -> probes scatter ->
    (optional densify) -> non-empty count -> sparse sidecar over the SAMPLED
    hashes."""
    source_count = len(token_hashes)
    budget = cfg.row_token_budget(source_count)
    sampled = token_hashes
    if budget is not None and budget > 0 and source_count > budget:
        idx = midpoint_sample_indices_py(source_count, budget)
        sampled = [token_hashes[i] for i in idx]
    probes = cfg.effective_probes(source_count)
    row = [EMPTY_BUCKET] * cfg.num_perm
    for h in sampled:
        rho_apply_probes_py(row, h, cfg.seed, probes)
    if cfg.rho_densify:
        rho_densify_py(row, cfg.seed)
    non_empty = sum(1 for v in row if v != EMPTY_BUCKET)
    sparse = non_empty < cfg.sparse_occupancy_threshold
    sig = None
    if cfg.sparse_verify_perm_clamped > 0 and sparse:
        sig = sparse_verify_signature_py(sampled, cfg.seed, cfg.sparse_verify_perm_clamped)
    return RhoRow(
        digest=row,
        non_empty=min(non_empty, 0xFFFF),
        source_token_count=min(source_count, 0xFFFF),
        sparse=sparse,
        sparse_sig=sig,
    )


# ---------------------------------------------------------------- one-shot LSH
def sparse_verify_similarity_py(a: list[int], b: list[int]) -> float:
    """src/lsh/config.rs:126-139."""
    if not a or len(a) != len(b):
        return 0.0
    return sum(1 for x, y in zip(a, b) if x == y) / len(a)


def one_shot_flags_simple_py(rows: list[list[int]], num_bands: int, band_size: int) -> list[bool]:
    """simple_one_shot_flags (src/lsh/one_shot.rs:294-332), empty index case:
    flag every row sharing >=1 band hash with another row."""
    n = len(rows)
    flags = [False] * n
    for band_idx in range(num_bands):
        first: dict[int, int] = {}
        for i in range(n):
            start = band_idx * band_size
            bh = band_hash_py(rows[i][start : start + band_size])
            if bh in first:
                flags[i] = True
                flags[first[bh]] = True
            else:
                first[bh] = i
    return flags


def one_shot_flags_rho_py(rho_rows: list[RhoRow], cfg: RensaConfig) -> list[bool]:
    """Refined one-shot path for rho matrices with empty index
    (src/lsh/one_shot.rs:78-185 control flow):
    band folding + sparse gating + sparse verify + recall rescue."""
    n = len(rho_rows)
    fold = cfg.effective_band_fold(rho_sidecar_present=True, has_existing_entries=False)
    eff_bands = cfg.num_bands // fold
    eff_size = cfg.band_size * fold

    required = [
        cfg.rho_sparse_required_band_matches
        if r.non_empty < cfg.sparse_occupancy_threshold
        else 1
        for r in rho_rows
    ]
    any_sparse = any(req > 1 for req in required)
    sv_enabled = cfg.rho_sparse_verify_enabled and cfg.sparse_verify_perm_clamped > 0
    rescue_enabled = cfg.rho_recall_rescue_enabled and fold > 1

    if not any_sparse and not sv_enabled and not rescue_enabled:
        return one_shot_flags_simple_py([r.digest for r in rho_rows], eff_bands, eff_size)

    counts = [0] * n
    for band_idx in range(eff_bands):
        first: dict[int, int] = {}
        collisions: dict[int, list[int]] = {}
        for i in range(n):
            start = band_idx * eff_size
            bh = band_hash_py(rho_rows[i].digest[start : start + eff_size])
            if bh in first:
                collisions.setdefault(bh, [first[bh]]).append(i)
            else:
                first[bh] = i
        for members in collisions.values():
            if len(members) < 2:
                continue
            for i in members:
                i_sparse = required[i] > 1
                checked = 0
                matched = False
                for j in members:
                    if j == i:
                        continue
                    j_sparse = required[j] > 1
                    needs_verify = sv_enabled and (i_sparse or j_sparse)
                    if not needs_verify:
                        matched = True
                        break
                    if checked >= cfg.rho_sparse_verify_max_candidates:
                        break
                    checked += 1
                    sa, sb = rho_rows[i].sparse_sig, rho_rows[j].sparse_sig
                    if sa is None or sb is None:
                        matched = True  # one_shot.rs:433-451: missing sig -> pass
                        break
                    if sparse_verify_similarity_py(sa, sb) >= cfg.rho_sparse_verify_threshold:
                        matched = True
                        break
                if matched:
                    counts[i] += 1

    if rescue_enabled:
        rescue_mask = [
            counts[i] == 0
            and required[i] == 1
            and cfg.rho_recall_rescue_min_tokens
            <= rho_rows[i].source_token_count
            <= cfg.rho_recall_rescue_max_tokens
            for i in range(n)
        ]
        if any(rescue_mask):
            rescue_counts = [0] * n
            for band_idx in range(cfg.num_bands):
                bucket: dict[int, tuple[int, bool]] = {}  # hash -> (first_row, collided)
                for i in range(n):
                    start = band_idx * cfg.band_size
                    bh = band_hash_py(rho_rows[i].digest[start : start + cfg.band_size])
                    if bh in bucket:
                        first_row, collided = bucket[bh]
                        if not collided:
                            bucket[bh] = (first_row, True)
                            if rescue_mask[first_row]:
                                rescue_counts[first_row] += 1
                        if rescue_mask[i]:
                            rescue_counts[i] += 1
                    else:
                        bucket[bh] = (i, False)
            for i in range(n):
                if rescue_mask[i] and rescue_counts[i] >= cfg.rho_recall_rescue_required_band_matches:
                    counts[i] = required[i]

    return [counts[i] >= required[i] for i in range(n)]
