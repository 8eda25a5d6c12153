"""No-Spark floor of the sketch kernels: rows/s of shingle, R-MinHash,
C-MinHash and band hash run alone in this process, min time of N.

Two corpora:

- ``captions``: ``generate_corpus`` captions (short rows, few repeated
  shingles), the rows the caption benchmarks sketch;
- ``long``: long repetitive documents (a short passage repeated until the
  row holds ``--long-words`` words), where most shingles of a row repeat.

Each kernel is timed on its own input (MinHash on the shingle pass's
output, band hash on the R-MinHash signatures), so one kernel's time holds
none of another's. Prints one JSON line.

Usage: python tools/kernel_floor.py [--rows 20000] [--seed 42] [--reps 5]
           [--long-rows 16] [--long-words 40000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from rensa_spark.config import RensaConfig  # noqa: E402
from rensa_spark.kernels.cminhash import cminhash_matrix64  # noqa: E402
from rensa_spark.kernels.fxhash import band_hash_u64  # noqa: E402
from rensa_spark.kernels.prng import rminhash_permutations  # noqa: E402
from rensa_spark.kernels.rminhash import rminhash_matrix  # noqa: E402
from rensa_spark.kernels.shingle import shingle_hashes_batch  # noqa: E402


def _captions(rows: int, seed: int) -> list[str]:
    from rensa_spark.sources.synthetic import generate_corpus

    return list(generate_corpus(rows, seed=seed, with_images=False)["caption"])


def _long_docs(rows: int, words: int, seed: int) -> list[str]:
    """Each row: a 200-word passage over a 500-word vocabulary, repeated
    (with one word changed per repeat) until it holds ``words`` words."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(500)]
    docs = []
    for _ in range(rows):
        passage = list(rng.choice(vocab, 200))
        out: list[str] = []
        while len(out) < words:
            passage[int(rng.integers(200))] = vocab[int(rng.integers(500))]
            out.extend(passage)
        docs.append(" ".join(out[:words]))
    return docs


def _min_time(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def floor(texts: list[str], cfg: RensaConfig, reps: int) -> dict:
    a, b = rminhash_permutations(cfg.num_perm, cfg.seed)
    bs = cfg.band_size
    flat, offs = shingle_hashes_batch(texts, cfg.ngram_size)
    sig = rminhash_matrix(flat, offs, a, b)

    def bands():
        np.stack([band_hash_u64(sig[:, i * bs : (i + 1) * bs]) for i in range(cfg.num_bands)], axis=1)

    t = {
        "shingle": _min_time(lambda: shingle_hashes_batch(texts, cfg.ngram_size), reps),
        "rminhash": _min_time(lambda: rminhash_matrix(flat, offs, a, b), reps),
        "cminhash": _min_time(lambda: cminhash_matrix64(flat, offs, cfg.num_perm, cfg.seed), reps),
        "band": _min_time(bands, reps),
    }
    out = {"rows": len(texts), "tokens": int(len(flat))}
    out.update({f"{k}_rows_per_s": round(len(texts) / v, 1) for k, v in t.items()})
    return out


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--rows", type=int, default=20_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--long-rows", type=int, default=16)
    p.add_argument("--long-words", type=int, default=40_000)
    args = p.parse_args(argv)
    cfg = RensaConfig()
    print(
        json.dumps(
            {
                "reps": args.reps,
                "captions": floor(_captions(args.rows, args.seed), cfg, args.reps),
                "long": floor(_long_docs(args.long_rows, args.long_words, args.seed), cfg, args.reps),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
