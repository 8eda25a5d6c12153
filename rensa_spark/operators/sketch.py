"""Sketch stages that emit band rows directly from Arrow batches.

``mapInPandas`` producing the already-exploded (key, band_idx, band_hash)
layout measured ~10x faster than pandas_udf(array) + posexplode (the
Generate node row-converts each array element); it also keeps the signature
matrix entirely inside the executor worker — the Spark analogue of the
reference's fused one-shot pass (src/lsh/one_shot.rs folds sketch+band+scan
into one matrix traversal).

Both generators emit exactly ``cfg.num_bands`` rows per key: only the Rho
path folds bands (``rho_sketch_udf``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rensa_spark.config import RensaConfig
from rensa_spark.functions.udfs import _band_hash_matrix, rminhash_batch
from rensa_spark.kernels.cminhash import cminhash_digest32, cminhash_matrix64
from rensa_spark.kernels.shingle import shingle_hashes_batch


def band_rows_frame(keys: np.ndarray, bands: np.ndarray) -> pd.DataFrame:
    """(key, band_idx, band_hash) rows, key-major, from one batch's keys and
    its (rows, bands) uint64 band-hash matrix."""
    n, nb = bands.shape
    return pd.DataFrame(
        {
            "key": np.repeat(keys, nb),
            "band_idx": np.tile(np.arange(nb, dtype=np.int32), n),
            "band_hash": bands.view(np.int64).reshape(-1),
        }
    )


def _band_rows(df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str, sketch) -> DataFrame:
    """mapInPandas of ``sketch`` (text batch -> (rows, num_perm) uint32
    digest matrix) into band rows; the key column keeps its input type."""
    key_type = df.schema[key_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            bands = _band_hash_matrix(sketch(pdf[text_col]), cfg.num_bands, 1)
            yield band_rows_frame(pdf[key_col].values, bands)

    return df.select(key_col, text_col).mapInPandas(
        gen, f"key {key_type}, band_idx int, band_hash long"
    )


def rminhash_band_rows(df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str) -> DataFrame:
    """text -> one (key, band_idx, band_hash) row per R-MinHash band."""
    return _band_rows(df, cfg, key_col, text_col, lambda col: rminhash_batch(col, cfg))


def cminhash_band_rows(df: DataFrame, cfg: RensaConfig, key_col: str, text_col: str) -> DataFrame:
    """text -> (key, band_idx, band_hash) over the C-MinHash 32-bit digest
    (the LSH-over-CMinHash path: insert_matrix accepts any digest matrix,
    src/lsh/py.rs:94-108; digest = sig64 >> 32, src/cminhash/py.rs:156-160)."""

    def sketch(col: pd.Series) -> np.ndarray:
        flat, offs = shingle_hashes_batch(col, cfg.ngram_size)
        return cminhash_digest32(cminhash_matrix64(flat, offs, cfg.num_perm, cfg.seed))

    return _band_rows(df, cfg, key_col, text_col, sketch)
