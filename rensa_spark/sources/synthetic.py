"""Deterministic synthetic image+caption corpus (FIXTURES.md §1).

Matches BASELINE.json ``input_hint`` exactly:
(image_id string, bytes binary, w int32, h int32, fmt string,
 caption string, phash int64) — plus a harness-only ``gt_cluster`` column.

Planted duplicate structure (drives the recall>=0.99 harness):
~70% unique rows, ~15% exact duplicates (same caption + same pixels, new
image_id), ~10% near-duplicates (1-3 token edits, Jaccard of 3-gram sets
straddling the 0.8 threshold from both sides; pixel noise kept under the
PSNR>=40dB bound), ~5% adversarial (empty/1-4-token captions -> Rho sparse
rows; repeated hot shingles -> hot-band skew).

Images are tiny PPM (P6) buffers — decodable with numpy alone, no external
imaging libs; ``phash`` is a deterministic hash of the decoded pixels so
identical pixels => identical phash. Everything derives from
numpy.default_rng(seed); no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rensa_spark.kernels.fxhash import fxhash64

_VOCAB_SIZE = 500


def _vocab(rng: np.random.Generator) -> list[str]:
    consonants = "bcdfghjklmnpqrstvwz"
    vowels = "aeiou"
    words = set()
    while len(words) < _VOCAB_SIZE:
        n_syll = rng.integers(1, 4)
        w = "".join(
            consonants[rng.integers(len(consonants))] + vowels[rng.integers(len(vowels))]
            for _ in range(n_syll)
        )
        words.add(w)
    return sorted(words)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary PPM (P6)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    """binary PPM (P6) -> (h, w, 3) uint8."""
    parts = data.split(b"\n", 3)
    assert parts[0] == b"P6", "not a P6 PPM"
    w, h = map(int, parts[1].split())
    return np.frombuffer(parts[3], dtype=np.uint8, count=h * w * 3).reshape(h, w, 3)


def phash_of_pixels(pixels: np.ndarray) -> int:
    """Deterministic content hash of decoded pixels (int64 bit-pattern)."""
    return int(fxhash64([pixels.tobytes()])[0].view(np.int64))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def _random_pixels(rng: np.random.Generator) -> np.ndarray:
    side = int(rng.choice([8, 16, 24, 32]))
    base = rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)
    return base


def _near_dup_pixels(rng: np.random.Generator, pixels: np.ndarray) -> np.ndarray:
    """+-1 noise on ~25% of pixels: PSNR ~= 54dB >> 40dB bound."""
    noise = rng.integers(-1, 2, size=pixels.shape).astype(np.int16)
    mask = rng.random(pixels.shape) < 0.25
    out = pixels.astype(np.int16) + np.where(mask, noise, 0)
    return np.clip(out, 0, 255).astype(np.uint8)


def _caption(rng: np.random.Generator, vocab: list[str], lo: int = 4, hi: int = 120) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(vocab[rng.integers(len(vocab))] for _ in range(n))


def _edit_caption(rng: np.random.Generator, vocab: list[str], caption: str, edits: int) -> str:
    tokens = caption.split()
    for _ in range(edits):
        op = rng.integers(3)
        pos = int(rng.integers(len(tokens)))
        word = vocab[rng.integers(len(vocab))]
        if op == 0 and len(tokens) > 2:
            tokens.pop(pos)
        elif op == 1:
            tokens[pos] = word
        else:
            tokens.insert(pos, word)
    return " ".join(tokens)


def generate_corpus(n_rows: int, seed: int = 42, with_images: bool = True) -> pd.DataFrame:
    """Deterministic corpus with planted duplicate clusters.

    ``gt_cluster``: ground-truth duplicate cluster id (harness-only; equals
    the row index of the cluster's source row)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    hot_shingle = "qozu vexi ruba"  # repeated trigram -> hot band skew
    rows: list[dict] = []
    i = 0
    while i < n_rows:
        r = rng.random()
        caption = None
        if r < 0.70 or not rows:
            caption = _caption(rng, vocab)
            pixels = _random_pixels(rng) if with_images else None
            gt = i
        elif r < 0.85:  # exact duplicate of a previous source row
            src = rows[int(rng.integers(len(rows)))]
            caption = src["caption"]
            pixels = (
                decode_ppm(src["bytes"]) if (with_images and src["bytes"]) else None
            )
            gt = src["gt_cluster"]
        elif r < 0.95:  # near duplicate: 1-3 token edits + sub-bound pixel noise
            src = rows[int(rng.integers(len(rows)))]
            if not src["caption"]:
                continue
            caption = _edit_caption(rng, vocab, src["caption"], int(rng.integers(1, 4)))
            pixels = (
                _near_dup_pixels(rng, decode_ppm(src["bytes"]))
                if (with_images and src["bytes"])
                else None
            )
            gt = src["gt_cluster"]
        else:  # adversarial: empty/short captions, hot shingles
            kind = rng.integers(3)
            if kind == 0:
                caption = ""
            elif kind == 1:
                caption = _caption(rng, vocab, 1, 4)
            else:
                caption = hot_shingle + " " + _caption(rng, vocab, 2, 10)
            pixels = _random_pixels(rng) if with_images else None
            gt = i
        if pixels is not None:
            data = encode_ppm(pixels)
            h, w = pixels.shape[:2]
            ph = phash_of_pixels(pixels)
        else:
            data, h, w, ph = None, 0, 0, 0
        rows.append(
            {
                "image_id": f"img-{i:08d}",
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": "ppm",
                "caption": caption,
                "phash": ph,
                "gt_cluster": gt,
            }
        )
        i += 1
    df = pd.DataFrame(rows)
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    df["phash"] = df["phash"].astype("int64")
    df["gt_cluster"] = df["gt_cluster"].astype("int64")
    return df
