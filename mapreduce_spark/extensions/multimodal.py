"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Pandas-UDF decode/feature plumbing.

Decode realism is tiered by what the container can support:

- **Real, dependency-free codecs run here**: binary PPM (P6) images
  and RIFF/PCM16 WAV audio are parsed for real (header grammar, chunk
  walk, numpy pixel/sample arrays) in ``decode_ppm`` / ``decode_wav``,
  and their feature extractors are oracle-checked end to end — the
  fixture media bytes are synthesized deterministically from the
  documents table, so DuckDB can recompute the decoded features from
  first principles.
- **Library-backed decoders stay import-gated** (``decode_image`` for
  PIL formats, ``sample_frames`` for video): the container has no
  imaging/codec libraries, so those raise ``NotImplementedError`` with
  the Arrow plumbing around them real and tested — on a cluster with
  pillow/pyav installed they light up unchanged.

At 100 TB the binary column dominates I/O: keep media in its own
parquet files (column pruning means metadata-only queries never touch
the bytes), and size ``spark.sql.files.maxPartitionBytes`` so one task
holds a few hundred MB of payload.  Feature extraction is a narrow map
— repartition ONLY to right-size batches for accelerator feeders,
never for correctness.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("meta", T.StructType([
            T.StructField("mime", T.StringType(), True),
            T.StructField("n_bytes", T.LongType(), True),
        ]), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_sum_mod", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Demo media table: the text payload as a binary column.  Stands
    in for real image/audio bytes so the binary plumbing is testable
    with the shipped fixtures.

    No ``spread`` of the one-file fixture scan: it measured a loss
    here (plans/sizing.py)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("modality"),
        F.encode("text", "UTF-8").alias("data"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias(
                "n_bytes"
            ),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# real dependency-free codecs: PPM (P6) and WAV (RIFF/PCM16)
# ---------------------------------------------------------------------------

def decode_ppm(data: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a binary PPM (P6) image → (width, height, HxWx3 uint8).

    Real netpbm grammar: magic, then whitespace-separated width /
    height / maxval tokens with ``#`` comments allowed, one whitespace
    byte, then ``w·h·3`` raw RGB bytes.  No libraries involved.
    """
    if data[:2] != b"P6":
        raise ValueError("not a binary PPM (P6 magic missing)")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = w * h * 3
    body = data[pos:pos + need]
    if len(body) != need:
        raise ValueError(f"truncated PPM body: {len(body)} < {need}")
    return w, h, np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(pixels: "np.ndarray") -> bytes:
    """HxWx3 uint8 → binary PPM bytes (the inverse of decode_ppm)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(
        np.uint8
    ).tobytes()


def resize_ppm(pixels: "np.ndarray", factor: int) -> "np.ndarray":
    """Integer-factor box-filter downsample (the classic thumbnail
    resize), pure numpy: mean over factor×factor blocks per channel."""
    h, w, c = pixels.shape
    h2, w2 = h // factor, w // factor
    crop = pixels[: h2 * factor, : w2 * factor].astype(np.float64)
    return (
        crop.reshape(h2, factor, w2, factor, c).mean(axis=(1, 3))
    )


def decode_wav(data: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a RIFF/WAVE PCM16 file → (sample_rate, n_channels,
    int16 sample array).  Real chunk walk: RIFF header, then chunks
    scanned for ``fmt `` (must be PCM, 16-bit) and ``data``."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, bits, payload = 12, None, None, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt != 1 or bits != 16:
                raise ValueError("only PCM16 WAV is supported")
        elif cid == b"data":
            payload = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or payload is None:
        raise ValueError("missing fmt/data chunk")
    return rate, channels, np.frombuffer(payload, dtype="<i2")


def encode_wav(samples: "np.ndarray", rate: int = 8000,
               channels: int = 1) -> bytes:
    """int16 samples → minimal RIFF/WAVE PCM16 bytes."""
    payload = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a PNG → (width, height, HxWxC uint8) with no imaging
    library: real chunk walk (length/type/data/CRC), IHDR grammar,
    zlib-inflated IDAT stream, and the five scanline filters
    (None/Sub/Up/Average/Paeth) unfiltered per the spec.  Supports
    the 8-bit non-interlaced color types a training pipeline actually
    stores: 0 (gray), 2 (RGB), 6 (RGBA).  CRCs are verified —
    corrupt media must fail loud, not feed garbage features.
    """
    import zlib

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG (signature missing)")
    pos, meta, idat = 8, None, []
    while pos + 8 <= len(data):
        (size,) = struct.unpack(">I", data[pos:pos + 4])
        cid = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + size]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + size:pos + 12 + size]
        )
        if zlib.crc32(cid + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {cid!r} CRC mismatch")
        if cid == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or comp != 0 or filt != 0:
                raise ValueError(
                    "only 8-bit depth, deflate, filter-method 0 PNGs "
                    "are supported"
                )
            if inter != 0:
                raise ValueError("interlaced (Adam7) PNG unsupported")
            if ctype not in (0, 2, 6):
                raise ValueError(
                    f"PNG color type {ctype} unsupported (gray/RGB/"
                    "RGBA only; palette needs a PLTE decoder)"
                )
            meta = (w, h, {0: 1, 2: 3, 6: 4}[ctype])
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 12 + size
    if meta is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, ch = meta
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel stream size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    p = 0
    for y in range(h):
        ftype = raw[p]
        row = np.frombuffer(
            raw[p + 1:p + 1 + stride], dtype=np.uint8
        ).astype(np.int32)
        p += 1 + stride
        if ftype == 0:  # None
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) & 0xFF
        else:
            # Sub/Average/Paeth need the in-row left neighbor —
            # sequential per pixel-group (vector math per element;
            # fixture rasters are small, real clusters decode via
            # accelerated libs on this same plumbing)
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0    # left
                b = prev[x]                          # up
                if ftype == 1:    # Sub
                    v = row[x] + a
                elif ftype == 3:  # Average
                    v = row[x] + ((a + b) >> 1)
                elif ftype == 4:  # Paeth
                    c = prev[x - ch] if x >= ch else 0
                    pa, pb, pc = (
                        abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    )
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                    v = row[x] + pred
                else:
                    raise ValueError(f"bad PNG filter type {ftype}")
                cur[x] = v & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    return w, h, out.reshape(h, w, ch)


def encode_png(pixels: "np.ndarray") -> bytes:
    """HxW (gray), HxWx3 (RGB) or HxWx4 (RGBA) uint8 → PNG bytes
    (filter 0 scanlines, one IDAT) — the inverse of decode_png."""
    import zlib

    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]
    body = b"".join(
        b"\x00" + pixels[y].astype(np.uint8).tobytes()
        for y in range(h)
    )

    def chunk(cid: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + cid + data
            + struct.pack(">I", zlib.crc32(cid + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


def decode_image(data: bytes):
    """Format-sniffing image decode: PNG and PPM decode natively
    (dependency-free, above); anything else needs an imaging
    library."""
    if data[:8] == PNG_SIG:
        return decode_png(data)
    if data[:2] == b"P6":
        return decode_ppm(data)
    try:
        import PIL.Image  # noqa: F401
        import io
        return PIL.Image.open(io.BytesIO(data))
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "only PNG/PPM decode natively; other formats need PIL — "
            "install pillow on the cluster and this path lights up "
            "unchanged"
        ) from exc


def sample_frames(data: bytes, every_n: int = 30):
    """Video frame sampling — stubbed (no codec libs in container)."""
    raise NotImplementedError(
        "frame sampling needs pyav/ffmpeg; the Spark-side plumbing "
        "(mapInPandas over binary, FEATURE_SCHEMA out) is what this "
        "module tests"
    )


def _fake_features(data: bytes, width: int = 4) -> list[float]:
    """Deterministic stand-in for a real encoder: leading-byte
    aggregates.  Replaced by a model forward pass on a real cluster;
    the Arrow batch shape is identical."""
    if not data:
        return [0.0] * width
    return [
        float(len(data)),
        float(sum(data[:64]) % 9973),
        float(data[0]),
        float(data[-1]),
    ][:width]


# fixture-media geometry: small enough that the byte plumbing stays
# cheap, power-of-two pixel/sample counts so channel means are exact
# in float64 (sum of ints / 2^k) and the DuckDB oracle can recompute
# them from the source text bytes with no image/audio code at all
PPM_W, PPM_H = 8, 4
WAV_N, WAV_RATE = 64, 8000

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_r", T.DoubleType(), False),
        T.StructField("mean_g", T.DoubleType(), False),
        T.StructField("mean_b", T.DoubleType(), False),
        T.StructField("luma", T.DoubleType(), False),
    ]
)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("mean_amp", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def documents_as_ppm(docs: DataFrame) -> DataFrame:
    """Deterministic PPM fixture media: each doc's text bytes, cycled
    to fill an 8×4 RGB raster, wrapped in a REAL P6 container — built
    JVM-side (repeat/substring/encode), so an oracle can derive the
    expected pixels from the text without any image code."""
    need = PPM_W * PPM_H * 3
    body = F.expr(
        f"substring(repeat(text, CAST({need} / length(text) AS INT) + 1),"
        f" 1, {need})"
    )
    header = f"P6\n{PPM_W} {PPM_H}\n255\n"
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode(F.concat(F.lit(header), body), "UTF-8").alias("data"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(len(header) + need).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def documents_as_wav(docs: DataFrame) -> DataFrame:
    """Deterministic WAV fixture media: the first 64 cycled text bytes
    as centered PCM16 samples ((byte − 128)·256) in a real RIFF/WAVE
    container (built via encode_wav in an Arrow-batched UDF)."""

    @F.pandas_udf(T.BinaryType())
    def to_wav(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = t.encode("utf-8")
            reps = WAV_N // len(raw) + 1
            cyc = (raw * reps)[:WAV_N]
            samples = (
                np.frombuffer(cyc, dtype=np.uint8).astype(np.int16)
                - 128
            ) * 256
            out.append(encode_wav(samples, WAV_RATE, 1))
        return pd.Series(out)

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("modality"),
        to_wav(F.col("text")).alias("data"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(44 + WAV_N * 2).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def documents_as_png(docs: DataFrame) -> DataFrame:
    """Deterministic PNG fixture media: the SAME 8×4 RGB raster as
    :func:`documents_as_ppm` (text bytes cycled), but wrapped in a
    real zlib-compressed PNG container via encode_png — so PNG
    features must equal PPM features row-for-row (metamorphic
    contract), and the DuckDB oracle for the ppm tag covers the PNG
    decode path too."""
    need = PPM_W * PPM_H * 3

    @F.pandas_udf(T.BinaryType())
    def to_png(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = t.encode("utf-8")
            cyc = (raw * (need // len(raw) + 1))[:need]
            px = np.frombuffer(cyc, dtype=np.uint8).reshape(
                PPM_H, PPM_W, 3
            )
            out.append(encode_png(px))
        return pd.Series(out)

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        to_png(F.col("text")).alias("data"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(0).cast("long").alias("n_bytes"),  # varies (zlib)
        ).alias("meta"),
    )


def extract_image_features(media: DataFrame) -> DataFrame:
    """REAL decode path: sniff each container's magic (PNG or PPM),
    decode it for real, then per-channel means + luma off the pixel
    array.  Same mapInPandas batch shape a CLIP-style encoder would
    use."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                b = bytes(data)
                w, h, px = (
                    decode_png(b) if b[:8] == PNG_SIG
                    else decode_ppm(b)
                )
                if px.shape[2] == 1:  # gray → replicate channels
                    px = np.repeat(px, 3, axis=2)
                elif px.shape[2] == 4:  # drop alpha for the means
                    px = px[:, :, :3]
                means = px.astype(np.float64).mean(axis=(0, 1))
                mr, mg, mb = (float(x) for x in means)
                out.append(
                    {
                        "media_id": int(mid),
                        "width": w,
                        "height": h,
                        # channel means are exact binary fractions
                        # (sum of ints / 2^5) — emitted unrounded so
                        # no engine-specific tie-break can differ
                        "mean_r": mr,
                        "mean_g": mg,
                        "mean_b": mb,
                        # same IEEE-754 expression the oracle runs
                        # → bit-identical, no rounding needed
                        "luma": 0.299 * mr + 0.587 * mg + 0.114 * mb,
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in IMAGE_FEATURE_SCHEMA]
            )

    return media.select("media_id", "data").mapInPandas(
        run, IMAGE_FEATURE_SCHEMA
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL decode path: chunk-walk each WAV (decode_wav), then mean
    amplitude + RMS off the sample array."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                rate, _ch, samples = decode_wav(bytes(data))
                v = samples.astype(np.float64)
                out.append(
                    {
                        "media_id": int(mid),
                        "sample_rate": rate,
                        "n_samples": len(v),
                        "mean_amp": round(float(v.mean()), 4),
                        "rms": round(
                            float(np.sqrt((v * v).mean())), 4
                        ),
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_FEATURE_SCHEMA]
            )

    return media.select("media_id", "data").mapInPandas(
        run, AUDIO_FEATURE_SCHEMA
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Binary → fixed-width feature vectors via mapInPandas.

    One Arrow batch of (media_id, data) in, FEATURE_SCHEMA out.  The
    inner loop is where a real encoder (CLIP/whisper/…) would run;
    ``byte_sum_mod`` is the deterministic fake so tests and oracles
    can check the full pipeline end-to-end.
    """
    src = media.select("media_id", "data")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data) if data is not None else b""
                feats = _fake_features(raw)
                out.append(
                    {
                        "media_id": int(mid),
                        "n_bytes": len(raw),
                        "byte_sum_mod": int(sum(raw) % 9973),
                        "features": feats,
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in FEATURE_SCHEMA.fields]
            )

    return src.mapInPandas(run, FEATURE_SCHEMA)
