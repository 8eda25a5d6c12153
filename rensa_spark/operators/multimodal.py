"""Multimodal (image) column plumbing.

Images are opaque ``binary`` columns with typed metadata (w, h, fmt) per the
BASELINE input_hint schema. The Spark-side plumbing — schema, partition
hygiene, Arrow batch shape, UDF signatures — is real and tested. Codecs:

- PPM (pure numpy), BMP (24-bit BI_RGB, bottom-up, row padding) and PNG
  (8-bit RGB/RGBA non-interlaced, all five row filters, stdlib zlib) decode
  FOR REAL — no imaging library needed; PNG/BMP/PPM encoders round-trip.
- Baseline JPEG (operators/jpeg_codec): SOF0 4:4:4 with the standard
  Annex-K tables, full encoder + decoder in pure numpy/stdlib; round-trip
  PSNR > 50 dB at the default quality (north-rule invariant is >= 40 dB).

Audio and video are out of scope: rensa sketches token sets, and the
corpus holds image+caption pairs.

Scale rule (SURVEY.md §7 hard part 6): the dedup hot path never touches
``bytes`` — it reads only caption/phash (column pruning keeps the scan
narrow); pixel work happens in a separate sampled verification pass.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rensa_spark.sources.synthetic import decode_ppm, psnr

# ----------------------------------------------------------- BMP (24-bit)


def decode_bmp(data: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from an uncompressed 24-bit BI_RGB BMP
    (BITMAPINFOHEADER, the format every tool can write). Handles the 4-byte
    row padding, BGR channel order, and both bottom-up (positive height)
    and top-down (negative height) row layouts."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload (missing BM magic)")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs not supported")
    w, h_signed = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    raw = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=pix_off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(px: np.ndarray) -> bytes:
    """24-bit BI_RGB bottom-up BMP from (h, w, 3) uint8."""
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # RGB -> BGR, flip
    pix = body.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + pix


# ------------------------------------------------------------- PNG (zlib)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG row filters (spec §9: None/Sub/Up/Average/Paeth). Sub/
    Average/Paeth recurrences depend on the reconstructed left neighbor, so
    those rows loop per byte — fine for the sampled verification pass; the
    dedup hot path never decodes pixels."""
    out = np.zeros((h, stride), dtype=np.uint8)
    rowlen = stride + 1
    for y in range(h):
        ftype = int(raw[y * rowlen])
        line = raw[y * rowlen + 1 : (y + 1) * rowlen].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            rec = line
        elif ftype == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ftype == 1:  # Sub
            rec = line.copy()
            for i in range(bpp, stride):
                rec[i] = (rec[i] + rec[i - bpp]) & 0xFF
        elif ftype == 3:  # Average
            rec = line.copy()
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            rec = line.copy()
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (rec[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out


def decode_png(data: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from an 8-bit truecolor PNG (color type 2/RGB or
    6/RGBA — alpha dropped), non-interlaced. Pure stdlib zlib + numpy; all
    five row filters supported (pinned by the per-filter round-trip test)."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in (2, 6) or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"only 8-bit RGB/RGBA non-interlaced PNG supported "
            f"(depth={depth}, color={color})"
        )
    if interlace != 0:
        raise NotImplementedError("Adam7 interlacing not supported")
    ch = 3 if color == 2 else 4
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if len(raw) != h * (w * ch + 1):
        raise ValueError("PNG scanline payload size mismatch")
    px = _png_unfilter(raw, h, w * ch, ch).reshape(h, w, ch)
    return px[:, :, :3].copy()


def encode_png(px: np.ndarray) -> bytes:
    """8-bit RGB non-interlaced PNG (filter 0 rows) from (h, w, 3) uint8."""
    h, w, _ = px.shape

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    scan = np.zeros((h, w * 3 + 1), dtype=np.uint8)
    scan[:, 1:] = px.reshape(h, w * 3)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def decode_pixels(data: bytes | None, fmt: str) -> np.ndarray | None:
    """Decode one image payload to (h, w, 3) uint8. PPM, BMP (24-bit),
    PNG (8-bit RGB/RGBA) and baseline JPEG (SOF0 4:4:4, operators/jpeg_codec)
    decode for real; any other fmt raises NotImplementedError."""
    if data is None:
        return None
    data = bytes(data)
    if fmt == "ppm":
        return decode_ppm(data)
    if fmt == "bmp":
        return decode_bmp(data)
    if fmt == "png":
        return decode_png(data)
    if fmt in ("jpeg", "jpg"):
        from rensa_spark.operators.jpeg_codec import decode_jpeg

        return decode_jpeg(data)
    raise NotImplementedError(
        f"decoder for fmt={fmt!r} requires an imaging library not present in "
        "this container; the Spark plumbing (schema/batching) is format-agnostic"
    )


def image_stats(df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt") -> DataFrame:
    """Per-image decoded statistics via mapInPandas (Arrow binary batches):
    adds mean_px, px_hash_ok (decoded pixel hash == stored phash)."""
    from rensa_spark.sources.synthetic import phash_of_pixels

    out_schema = (
        df.schema.simpleString()[7:-1] + ",mean_px double,px_phash long"
    )

    def gen(batches):
        for pdf in batches:
            means, phashes = [], []
            for data, fmt in zip(pdf[bytes_col], pdf[fmt_col]):
                px = decode_pixels(data, fmt)
                if px is None:
                    means.append(None)
                    phashes.append(None)
                else:
                    means.append(float(px.mean()))
                    phashes.append(phash_of_pixels(px))
            pdf = pdf.copy()
            pdf["mean_px"] = means
            pdf["px_phash"] = phashes
            yield pdf

    return df.mapInPandas(gen, out_schema)


def verify_payload_invariants(
    before: DataFrame, after: DataFrame, key_col: str = "image_id", sample: float = 0.1
) -> pd.DataFrame:
    """Per-row invariant check on a sample: caption equality + decoded-pixel
    PSNR (>=40dB for lossy, infinite for lossless passthrough). Driver-side
    on the sampled rows only — never a full-scan pixel shuffle."""
    cols = [key_col, "bytes", "fmt", "caption"]
    b = before.select(cols).sample(sample, seed=42).toPandas().set_index(key_col)
    if not len(b):
        b = before.select(cols).limit(50).toPandas().set_index(key_col)
    a = (
        after.select(cols)
        .join(
            before.select(F.col(key_col)).sample(sample, seed=42),
            key_col,
            "leftsemi",
        )
        .toPandas()
        .set_index(key_col)
    )
    rows = []
    for key in b.index.intersection(a.index):
        pb = decode_pixels(b.loc[key, "bytes"], b.loc[key, "fmt"])
        pa = decode_pixels(a.loc[key, "bytes"], a.loc[key, "fmt"])
        rows.append(
            {
                "key": key,
                "caption_equal": b.loc[key, "caption"] == a.loc[key, "caption"],
                "psnr": float("inf")
                if (pb is None and pa is None)
                else psnr(pb, pa),
            }
        )
    return pd.DataFrame(rows)
