"""Seeded input tables for the three workloads.

Every table is (key, text) with ``key = doc-%08d`` in row order, so key
order, row order and stream order are the same thing. The engine only ever
sees the table, written as one parquet file before any timing starts.

- flags / stream: ``rensa_spark.sources.synthetic.generate_corpus`` captions
  (planted exact dups, 1-3-token near dups, empty captions, hot shingles).
- pipeline: the same captions plus large near-duplicate families: each family
  is a chain of edits (every member is 1-3 token edits away from the member
  before it), so candidate pairs, verification and connected components carry
  the work instead of the sketch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# rows / families / chain length / micro-batch size per workload and size
SIZES = {
    "flags_captions": {
        "full": {"rows": 20_000},
        "smoke": {"rows": 2_000},
    },
    "pipeline_captions": {
        "full": {"rows": 3_000, "families": 40, "chain": 25},
        "smoke": {"rows": 1_500, "families": 10, "chain": 8},
    },
    "stream_captions": {
        "full": {"rows": 10_000, "batch": 1_000},
        "smoke": {"rows": 1_200, "batch": 300},
    },
}


def _edit_chain(rng: np.random.Generator, tokens: list[str], vocab: np.ndarray, length: int) -> list[str]:
    out, cur = [], list(tokens)
    for _ in range(length):
        for _ in range(int(rng.integers(1, 4))):
            pos = int(rng.integers(len(cur)))
            op = int(rng.integers(3))
            word = str(vocab[rng.integers(len(vocab))])
            if op == 0 and len(cur) > 8:
                cur.pop(pos)
            elif op == 1:
                cur[pos] = word
            else:
                cur.insert(pos, word)
        out.append(" ".join(cur))
    return out


def make_table(workload: str, seed: int, size: str = "full") -> pd.DataFrame:
    from rensa_spark.sources.synthetic import generate_corpus

    p = SIZES[workload][size]
    texts = list(generate_corpus(p["rows"], seed=seed, with_images=False)["caption"])
    if "families" in p:
        rng = np.random.default_rng([seed, 1])
        vocab = np.unique(np.concatenate([np.array(t.split()) for t in texts[:500] if t]))
        sources = [t.split() for t in texts if len(t.split()) >= 24]
        picks = rng.choice(len(sources), size=p["families"], replace=False)
        for i in picks:
            texts.extend(_edit_chain(rng, sources[i], vocab, p["chain"]))
        texts = [texts[i] for i in rng.permutation(len(texts))]
    return pd.DataFrame(
        {"key": [f"doc-{i:08d}" for i in range(len(texts))], "text": texts}
    )


def batch_size(workload: str, size: str) -> int | None:
    return SIZES[workload][size].get("batch")
