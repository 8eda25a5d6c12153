"""Arrow-batched pandas UDFs wrapping the numpy kernels.

These are the only Python↔JVM crossings in the engine. Each UDF factory
captures a frozen RensaConfig; permutation tables are derived lazily once per
executor process and memoized (the Spark analogue of the reference's
broadcast-once permutation SoA, src/rminhash.rs:138-150 /
src/simd/dispatch.rs:44-67).

Storage conventions (documented in FIXTURES.md §3):
- u32 signature slots   -> IntegerType, int32 bit-pattern (``.view(np.int32)``)
- u64 hashes/band hashes -> LongType, int64 bit-pattern (``.view(np.int64)``)
Bit-patterns survive the round-trip exactly; comparisons/joins only ever test
equality, which is bit-pattern-safe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from rensa_spark.config import RensaConfig
from rensa_spark.kernels.cminhash import cminhash_digest32, cminhash_matrix64
from rensa_spark.kernels.fxhash import band_hash_u64, fxhash64
from rensa_spark.kernels.rho import rho_matrix
from rensa_spark.kernels.rminhash import rminhash_matrix
from rensa_spark.kernels.shingle import shingle_hashes_batch

_PERM_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _perms(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    key = (num_perm, seed)
    if key not in _PERM_CACHE:
        from rensa_spark.kernels.prng import rminhash_permutations

        _PERM_CACHE[key] = rminhash_permutations(num_perm, seed)
    return _PERM_CACHE[key]


def _flat_from_series(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series of int64-lists (token hashes) -> (flat uint64, offsets)."""
    arrays = [np.asarray(v, dtype=np.int64) if v is not None else np.empty(0, np.int64) for v in series]
    lens = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
    offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = (
        np.concatenate(arrays).view(np.uint64) if offsets[-1] else np.empty(0, np.uint64)
    )
    return flat, offsets


def _flat_from_byte_series(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series of binary-token lists (array<binary> columns) -> (flat uint64
    fxhash64 hashes, offsets). Raw bytes are hashed exactly like the
    reference's bytes-token input path (src/py_input.rs:11-18 — PyBytes
    tokens feed calculate_hash_fast unchanged; kernels/fxhash.fxhash64)."""
    rows = len(series)
    all_tokens: list[bytes] = []
    lens = np.empty(rows, dtype=np.int64)
    for i, v in enumerate(series):
        toks = [] if v is None else [bytes(t) for t in v]
        lens[i] = len(toks)
        all_tokens.extend(toks)
    offsets = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return fxhash64(all_tokens), offsets


_TOKEN_KINDS = ("text", "hashes", "bytes")


def _check_tokens(tokens: str) -> None:
    if tokens not in _TOKEN_KINDS:
        raise ValueError(f"tokens must be one of {_TOKEN_KINDS}, got {tokens!r}")


def _flat_for(col: pd.Series, cfg: RensaConfig, tokens: str):
    """Dispatch the three reference input forms (``"text"``: token strings
    via shingling, ``"hashes"``: pre-hashed u64 tokens, ``"bytes"``: raw
    byte tokens) to one flat layout."""
    if tokens == "hashes":
        return _flat_from_series(col)
    if tokens == "bytes":
        return _flat_from_byte_series(col)
    _check_tokens(tokens)
    return shingle_hashes_batch(col, cfg.ngram_size)


def rminhash_batch(col: pd.Series, cfg: RensaConfig, tokens: str = "text") -> np.ndarray:
    """(rows, num_perm) uint32 R-MinHash signatures of one Arrow batch — the
    one sketch every R-MinHash UDF and band-row generator calls, so the
    per-call cost (permutation lookup, token dispatch) is paid once per
    batch. Null and empty rows get the all-u32::MAX signature."""
    a, b = _perms(cfg.num_perm, cfg.seed)
    flat, offsets = _flat_for(col, cfg, tokens)
    return rminhash_matrix(flat, offsets, a, b)


def _sig_matrix_from_series(series: pd.Series, num_perm: int) -> np.ndarray:
    """Series of int32-lists (signatures) -> (rows, num_perm) uint32."""
    rows = len(series)
    out = np.empty((rows, num_perm), dtype=np.uint32)
    for i, v in enumerate(series):
        out[i] = np.asarray(v, dtype=np.int32).view(np.uint32)
    return out


def _as_list_series(matrix: np.ndarray, view: type) -> pd.Series:
    return pd.Series(list(matrix.view(view)))


def _band_hash_matrix(sig: np.ndarray, num_bands: int, fold: int) -> np.ndarray:
    """(rows, num_bands//fold) uint64 effective band hashes.

    Fold-by-widening is exact: see band_hash_u64 docstring (the reference's
    folded-hash algebra src/lsh.rs:107-123 equals hashing the wider slice)."""
    num_perm = sig.shape[1]
    eff_bands = num_bands // fold
    eff_size = (num_perm // num_bands) * fold
    out = np.empty((sig.shape[0], eff_bands), dtype=np.uint64)
    for i in range(eff_bands):
        out[:, i] = band_hash_u64(sig[:, i * eff_size : (i + 1) * eff_size])
    return out


# ------------------------------------------------------------------ factories
def shingle_hashes_udf(cfg: RensaConfig):
    """text -> array<bigint> of shingle token hashes (reusable pre-hash stage,
    mirror of RMinHash.hash_token_sets, src/rminhash/py.rs:175-182)."""

    @pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        flat, offsets = shingle_hashes_batch(texts, cfg.ngram_size)
        signed = flat.view(np.int64)
        return pd.Series([signed[offsets[i] : offsets[i + 1]] for i in range(len(texts))])

    return _udf


def rminhash_sig_udf(cfg: RensaConfig, tokens: str = "text"):
    """text (or token-hash array, or binary-token array) -> array<int>
    R-MinHash signature. ``tokens="bytes"`` accepts array<binary> token
    columns (digest_matrix_from_token_byte_sets, src/rminhash/py.rs bytes
    path)."""
    _check_tokens(tokens)

    @pandas_udf(ArrayType(IntegerType()))
    def _udf(col: pd.Series) -> pd.Series:
        return _as_list_series(rminhash_batch(col, cfg, tokens), np.int32)

    return _udf


SIG_BANDS_SCHEMA = StructType(
    [
        StructField("sig", ArrayType(IntegerType())),
        StructField("bands", ArrayType(LongType())),
    ]
)


def rminhash_sig_bands_udf(cfg: RensaConfig, tokens: str = "text"):
    """Fused text -> struct(sig, bands): ONE shingle+MinHash pass feeding
    both the signature and its band hashes (band hashing is a pure
    function of the signature, so fusing is bit-identical to hashing the
    signature separately). Bands are unfolded: ``cfg.num_bands`` per row."""
    _check_tokens(tokens)

    @pandas_udf(SIG_BANDS_SCHEMA)
    def _udf(col: pd.Series) -> pd.DataFrame:
        sig = rminhash_batch(col, cfg, tokens)
        bands = _band_hash_matrix(sig, cfg.num_bands, 1)
        return pd.DataFrame(
            {
                "sig": list(sig.view(np.int32)),
                "bands": list(bands.view(np.int64)),
            }
        )

    return _udf


def cminhash_sig_udf(cfg: RensaConfig, bits: int = 32, tokens: str = "text"):
    """text -> C-MinHash signature; bits=32 -> array<int> (digest()),
    bits=64 -> array<bigint> (digest_u64()). ``tokens`` as for
    :func:`rminhash_sig_udf`."""
    ret = ArrayType(IntegerType()) if bits == 32 else ArrayType(LongType())
    _check_tokens(tokens)

    @pandas_udf(ret)
    def _udf(col: pd.Series) -> pd.Series:
        flat, offsets = _flat_for(col, cfg, tokens)
        sig64 = cminhash_matrix64(flat, offsets, cfg.num_perm, cfg.seed)
        if bits == 32:
            return _as_list_series(cminhash_digest32(sig64), np.int32)
        return _as_list_series(sig64, np.int64)

    return _udf


RHO_SKETCH_SCHEMA = StructType(
    [
        StructField("sig", ArrayType(IntegerType())),
        StructField("non_empty", IntegerType()),
        StructField("token_count", IntegerType()),
        StructField("is_sparse", BooleanType()),
        StructField("sparse_sig", ArrayType(IntegerType())),
        StructField("bands", ArrayType(LongType())),  # effective (folded) bands
        StructField("rescue_bands", ArrayType(LongType())),  # unfolded bands
    ]
)


def rho_sketch_udf(cfg: RensaConfig, tokens: str = "text"):
    """text -> full Rho sketch struct: digest + sidecar columns + both band
    granularities (effective folded bands for the main scan, unfolded bands
    for recall rescue — src/lsh/one_shot.rs:492-577). ``tokens`` as for
    :func:`rminhash_sig_udf`."""
    fold = cfg.effective_band_fold(rho_sidecar_present=True, has_existing_entries=False)
    _check_tokens(tokens)

    @pandas_udf(RHO_SKETCH_SCHEMA)
    def _udf(col: pd.Series) -> pd.DataFrame:
        flat, offsets = _flat_for(col, cfg, tokens)
        m = rho_matrix(flat, offsets, cfg)
        bands = _band_hash_matrix(m.digest, cfg.num_bands, fold)
        rescue = (
            _band_hash_matrix(m.digest, cfg.num_bands, 1) if fold > 1 else bands
        )
        sparse_sig = [
            m.sparse_sigs[i].view(np.int32) if m.sparse[i] else None
            for i in range(len(m.sparse))
        ]
        return pd.DataFrame(
            {
                "sig": list(m.digest.view(np.int32)),
                "non_empty": m.non_empty.astype(np.int32),
                "token_count": m.source_token_counts.astype(np.int32),
                "is_sparse": m.sparse,
                "sparse_sig": sparse_sig,
                "bands": list(bands.view(np.int64)),
                "rescue_bands": list(rescue.view(np.int64)),
            }
        )

    return _udf


def jaccard_udf(cfg: RensaConfig):
    """(sig_a, sig_b) -> equal-slot fraction (src/rminhash.rs:266-294)."""

    @pandas_udf(DoubleType())
    def _udf(sig_a: pd.Series, sig_b: pd.Series) -> pd.Series:
        a = _sig_matrix_from_series(sig_a, cfg.num_perm)
        b = _sig_matrix_from_series(sig_b, cfg.num_perm)
        return pd.Series((a == b).mean(axis=1))

    return _udf
