"""Ergonomic facade mirroring the reference's public class surface
(/root/reference/src/lib.rs:35-43 registers RMinHash, RMinHashDigestMatrix,
CMinHash, RMinHashLSH, RMinHashDeduplicator, CMinHashDeduplicator).

A rensa user migrates like this:

| rensa (per-process, in-memory)                  | rensa_spark (tables)     |
|-------------------------------------------------|--------------------------|
| `RMinHash.from_token_sets(sets, p, s)`          | `RMinHashEngine(cfg).signatures(df, key, text)` |
| `RMinHash.digest_matrix_from_*`                 | same (input form auto)   |
| `m.jaccard(other)`                              | `RMinHashEngine.jaccard(df, "sig_a", "sig_b")` |
| `CMinHash...`                                   | `CMinHashEngine(...)`    |
| `RMinHashLSH(...)` insert/query/remove/flags    | `operators.lsh_index.LshIndex` |
| `lsh.query_duplicate_flags_matrix_one_shot(m)`  | `RMinHashEngine.dup_flags(df, key, text)` |
| `RMinHashDeduplicator.add_pairs(entries)`       | `RMinHashEngine.add_if_unique(df, key, text)` |
| `CMinHashDeduplicator` (brute force)            | `...add_if_unique(df, key, text, use_lsh=False)` |
| README pairwise-dedup recipe (keep min id)      | `RMinHashEngine.dedup_clusters(df, key, text)` |
| pickle state                                    | `plans.pipeline.DedupPipeline` checkpoints |
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rensa_spark.config import RensaConfig


class RMinHashEngine:
    def __init__(self, cfg: RensaConfig | None = None, **kwargs) -> None:
        self.cfg = cfg or RensaConfig(**kwargs)

    def signatures(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from rensa_spark.functions.udfs import rminhash_sig_udf

        return df.select(
            F.col(key_col).alias("key"),
            rminhash_sig_udf(self.cfg)(F.col(text_col)).alias("sig"),
        )

    def signatures_from_token_hashes(
        self, df: DataFrame, key_col: str, hashes_col: str
    ) -> DataFrame:
        from rensa_spark.functions.udfs import rminhash_sig_udf

        return df.select(
            F.col(key_col).alias("key"),
            rminhash_sig_udf(self.cfg, tokens="hashes")(F.col(hashes_col)).alias("sig"),
        )

    def band_rows(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from rensa_spark.operators.sketch import rminhash_band_rows

        return rminhash_band_rows(df, self.cfg, key_col, text_col)

    def dup_flags(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from rensa_spark.operators.dedup import dup_flags

        return dup_flags(df, self.cfg, key_col, text_col)

    def dedup_clusters(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from rensa_spark.operators.dedup import dedup_clusters

        return dedup_clusters(df, self.cfg, key_col, text_col)

    def add_if_unique(
        self, df: DataFrame, key_col: str, text_col: str, use_lsh: bool = True
    ) -> DataFrame:
        from rensa_spark.operators.dedup import add_if_unique

        return add_if_unique(df, self.cfg, key_col, text_col, use_lsh=use_lsh)

    def jaccard(self, df: DataFrame, sig_a: str, sig_b: str) -> DataFrame:
        from rensa_spark.functions.udfs import jaccard_udf

        return df.withColumn("jaccard", jaccard_udf(self.cfg)(sig_a, sig_b))

    def is_similar(self, df: DataFrame, sig_a: str, sig_b: str) -> DataFrame:
        return self.jaccard(df, sig_a, sig_b).withColumn(
            "is_similar", F.col("jaccard") >= self.cfg.threshold
        )


class CMinHashEngine:
    def __init__(self, cfg: RensaConfig | None = None, **kwargs) -> None:
        self.cfg = cfg or RensaConfig(**kwargs)

    def signatures(
        self, df: DataFrame, key_col: str, text_col: str, bits: int = 32
    ) -> DataFrame:
        from rensa_spark.functions.udfs import cminhash_sig_udf

        return df.select(
            F.col(key_col).alias("key"),
            cminhash_sig_udf(self.cfg, bits=bits)(F.col(text_col)).alias("sig"),
        )


class RhoEngine:
    def __init__(self, cfg: RensaConfig | None = None, **kwargs) -> None:
        self.cfg = cfg or RensaConfig(**kwargs)

    def sketch(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from rensa_spark.operators.dedup import sketch_rho

        return sketch_rho(df, self.cfg, key_col, text_col)

    def dup_flags(self, df: DataFrame, key_col: str, text_col: str) -> DataFrame:
        from rensa_spark.operators.lsh import one_shot_dup_flags_rho

        return one_shot_dup_flags_rho(self.sketch(df, key_col, text_col), self.cfg, key_col)
