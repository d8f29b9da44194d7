"""Multimodal columns: images/audio/video as opaque ``binary`` + typed
metadata, with the Spark-side plumbing (schema, batching, partitioning)
fully real and the codec step standard-library only.

Image decode has one chain, the same on every host: a real PNG decode
and real JPEG dimensions with ``struct`` + ``zlib``, and a deterministic
stub (a pure function of the bytes) for every other format.  Resize and
frame sampling are deterministic stubs, so the plumbing — Arrow batch
shapes, UDF signatures, schema evolution, partition sizing — is testable
end-to-end.  No output depends on which packages are importable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.BinaryType(), True),
    ]
)


def _decode_image_stub(payload: bytes) -> dict:
    """STUB decode: deterministic fake dimensions + perceptual hash derived
    from the payload bytes.  Raises on empty payloads to exercise the
    per-row error channel."""
    if not payload:
        raise NotImplementedError("empty payload (real decoder would raise too)")
    h = hashlib.blake2b(payload, digest_size=16).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "phash": int.from_bytes(h[2:10], "big", signed=True),
    }


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_image_png_stdlib(payload: bytes) -> dict:
    """REAL PNG decode with the standard library only (struct + zlib):
    IHDR dimensions, IDAT inflate, per-row filter reversal, then an 8x8
    average-hash over the luminance.  Supports the common 8-bit color
    types (gray / gray+alpha / RGB / RGBA / palette), non-interlaced."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, idat, plte = 8, b"", b""
    w = h = bitd = ctype = interlace = None
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack(">I4s", payload[pos : pos + 8])
        pos += 8
        data = payload[pos : pos + ln]
        pos += ln + 4  # skip CRC
        if typ == b"IHDR":
            w, h, bitd, ctype, _, _, interlace = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("truncated PNG")
    if interlace or bitd != 8:
        raise ValueError(f"unsupported PNG (bitdepth={bitd}, interlace={interlace})")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(idat)
    stride = w * nch
    rows: list[bytearray] = []
    prev = bytearray(stride)
    p = 0
    for _ in range(h):
        f = raw[p]
        line = bytearray(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        if f == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                b, c = prev[i], (prev[i - nch] if i >= nch else 0)
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        rows.append(line)
        prev = line

    def luma(x: int, y: int) -> int:
        px = rows[y][x * nch : (x + 1) * nch]
        if ctype == 3:  # palette index -> RGB
            px = plte[px[0] * 3 : px[0] * 3 + 3] or b"\0\0\0"
            return (299 * px[0] + 587 * px[1] + 114 * px[2]) // 1000
        if ctype in (0, 4):  # gray (+alpha)
            return px[0]
        return (299 * px[0] + 587 * px[1] + 114 * px[2]) // 1000

    # 8x8 average hash over a nearest-neighbor downsample
    grid = [luma(min(gx * w // 8, w - 1), min(gy * h // 8, h - 1))
            for gy in range(8) for gx in range(8)]
    avg = sum(grid) / 64.0
    bits = 0
    for i, v in enumerate(grid):
        if v >= avg:
            bits |= 1 << i
    if bits >= 1 << 63:
        bits -= 1 << 64
    return {"width": w, "height": h, "phash": bits}


_JPEG_MAGIC = b"\xff\xd8"
# every SOF marker (baseline C0, extended C1, progressive C2, lossless C3,
# differential/arithmetic C5-C7, C9-CB, CD-CF); C4=DHT, C8=JPG, CC=DAC are
# not frame headers
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _jpeg_dimensions(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from a JPEG's SOF frame header — the
    web's dominant image format, parsed with the standard library only.
    Walks the marker segments (skipping APPn/DQT/DHT/...) to the first
    SOFn; no entropy decode (that needs a codec), but the dimensions are
    REAL, for baseline and progressive files alike."""
    import struct

    if payload[:2] != _JPEG_MAGIC:
        raise ValueError("not a JPEG")
    pos, n = 2, len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        pos += 1
        while pos < n and payload[pos] == 0xFF:  # fill bytes
            pos += 1
        if pos >= n:
            break
        marker = payload[pos]
        pos += 1
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone markers
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: past the headers
            break
        if pos + 2 > n:
            break
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        if marker in _JPEG_SOF:
            if pos + 8 > n:
                break
            _prec, h, w, ncomp = struct.unpack(">BHHB", payload[pos + 2 : pos + 8])
            return w, h, ncomp
        pos += seglen
    raise ValueError("no SOF marker found (truncated JPEG)")


def _decode_image_stdlib(payload: bytes) -> dict:
    """The default decoder: REAL decode for PNG payloads via
    ``_decode_image_png_stdlib``; REAL dimensions for JPEG via the SOF
    header parse (phash falls back to the deterministic payload hash —
    a perceptual hash needs the full pixel decode); deterministic stub
    for everything else (webp/... need codecs)."""
    if payload[:8] == _PNG_MAGIC:
        return _decode_image_png_stdlib(payload)
    if payload[:2] == _JPEG_MAGIC:
        w, h, _ = _jpeg_dimensions(payload)
        return {"width": w, "height": h, "phash": _decode_image_stub(payload)["phash"]}
    return _decode_image_stub(payload)


def image_features(media: DataFrame, decoder: str = "stdlib") -> DataFrame:
    """Decode + feature-extract images: Arrow-batched mapInPandas, one
    output row per input row, errors captured per row (never fail the
    task — the 100 TB rule: one corrupt jpeg must not kill a partition).

    ``decoder``: "stdlib" (real PNG decode and JPEG dimensions, stub for
    other formats) or "stub" (the payload-hash stub for every format;
    the oracle-checked driver query pins it)."""
    decode = {"stdlib": _decode_image_stdlib, "stub": _decode_image_stub}[decoder]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height", "n_bytes", "phash", "decode_error")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                b = bytes(payload) if payload is not None else b""
                out["n_bytes"].append(len(b))
                try:
                    f = decode(b)
                    out["width"].append(f["width"])
                    out["height"].append(f["height"])
                    out["phash"].append(f["phash"])
                    out["decode_error"].append(None)
                except Exception as e:  # corrupt media -> row-level error
                    out["width"].append(None)
                    out["height"].append(None)
                    out["phash"].append(None)
                    out["decode_error"].append(str(e))
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        run, schema=IMAGE_FEATURES_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("resized", T.BinaryType(), True),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("resize_error", T.StringType(), True),
    ]
)


def resize_images(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Resize plumbing: one resized binary per image row, Arrow-batched,
    per-row error channel.  STUB kernel: the payload bytes repeated or
    truncated to a deterministic size, so the batch shapes and schema are
    testable end-to-end."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height // 64  # stub: deterministic output size

        def kernel(b: bytes) -> bytes:
            if not b:
                raise NotImplementedError("empty payload")
            return (b * (target // max(len(b), 1) + 1))[:target]

        for pdf in batches:
            out = {k: [] for k in ("media_id", "resized", "out_w", "out_h", "resize_error")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                b = bytes(payload) if payload is not None else b""
                try:
                    rb = kernel(b)
                    out["resized"].append(rb)
                    out["out_w"].append(width)
                    out["out_h"].append(height)
                    out["resize_error"].append(None)
                except Exception as e:
                    out["resized"].append(None)
                    out["out_w"].append(None)
                    out["out_h"].append(None)
                    out["resize_error"].append(str(e))
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def sample_frames(media: DataFrame, every_n: int = 10, max_frames: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video (1 -> N rows).  STUB: 'frames'
    are deterministic byte slices; a real implementation calls the codec
    inside the same mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n = min(max_frames, max(len(b) // every_n, 0))
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[i * every_n : (i + 1) * every_n])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame_bytes": frames})

    return media.filter(F.col("kind") == "video").select("media_id", "payload").mapInPandas(
        run, schema=FRAME_SAMPLE_SCHEMA
    )


def gen_media(spark, n: int = 100) -> DataFrame:
    """Deterministic synthetic media table for tests."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = ["image", "audio", "video"][i % 3]
                payload = None if i % 17 == 9 else (f"media-{i}-".encode() * (1 + i % 7))
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "mime": {"image": "image/jpeg", "audio": "audio/ogg", "video": "video/mp4"}[kind],
                        "meta": {"src": f"s{i % 5}"},
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)
