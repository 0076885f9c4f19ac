"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata. The Spark-side plumbing — schema, partitioning, Arrow UDF
signatures, batch shapes — is real and tested.

Decode support without external libraries (pure numpy):
- BMP, uncompressed 24-bit BI_RGB (the format every OS screenshotter and
  ffmpeg can emit) — full header parse, bottom-up rows, 4-byte row padding.
- PPM (P6 binary), the netpbm interchange format.
- Y4M (yuv4mpeg2), ffmpeg's uncompressed video interchange format —
  header tag parse, FRAME markers, planar C444 and C420 (chroma
  upsampled) — completing the modality set: every kind has at least one
  REAL decoder with an oracled end-to-end query.
Compressed formats (PNG/JPEG/H.264) need codec libraries the package
does not depend on: the decoders raise NotImplementedError for those
magics.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 HxWx3 (RGB) -> uncompressed 24-bit BI_RGB BMP bytes (for
    fixtures and sinks; the inverse of _decode_bmp)."""
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    # BMP stores rows bottom-up, pixels as BGR
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    data = body.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def _decode_bmp(blob: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP -> float32 HxWx3 RGB in [0, 1]."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack_from("<I", blob, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", blob, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", blob, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp},"
            f" compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.frombuffer(blob, dtype=np.uint8, count=h * row_bytes, offset=offset)
    rows = rows.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return (rows[:, :, ::-1].astype(np.float32)) / 255.0  # BGR -> RGB


def _decode_ppm(blob: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval 255) -> float32 HxWx3 RGB in [0, 1]."""
    if blob[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header: magic, width, height, maxval — whitespace/comment separated
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            pos = blob.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"maxval {maxval} != 255")
    px = np.frombuffer(blob, dtype=np.uint8, count=h * w * 3, offset=pos)
    return px.reshape(h, w, 3).astype(np.float32) / 255.0


def _resize_nearest(img: np.ndarray, out_hw: tuple[int, int]) -> np.ndarray:
    """Deterministic nearest-neighbor resize (pixel-center sampling)."""
    h, w = img.shape[:2]
    oh, ow = out_hw
    ri = np.minimum(((np.arange(oh) + 0.5) * h / oh).astype(np.int64), h - 1)
    ci = np.minimum(((np.arange(ow) + 0.5) * w / ow).astype(np.int64), w - 1)
    return img[ri][:, ci]


def decode_image(blob: bytes, out_hw: tuple[int, int] = (32, 32)):
    """Decode a BMP/PPM blob to float32 out_hw[0] x out_hw[1] x 3 RGB in
    [0, 1] (nearest-neighbor resize)."""
    if blob[:2] == b"BM":
        return _resize_nearest(_decode_bmp(blob), out_hw)
    if blob[:2] == b"P6":
        return _resize_nearest(_decode_ppm(blob), out_hw)
    raise NotImplementedError(
        "compressed image formats (PNG/JPEG/...) need codec libraries this"
        " package does not depend on; supply 24-bit BMP or P6 PPM"
    )


def image_features(
    df: DataFrame,
    *,
    blob_col: str = "media",
    id_col: str = "media_id",
    out_hw: tuple[int, int] = (32, 32),
) -> DataFrame:
    """Decode + resize + mean-pool features per image via mapInPandas —
    Arrow-batched, one numpy decode per row, no driver involvement. At
    cluster scale the input is repartitioned by size so decode work
    balances across executors."""
    n_feat = 3

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for blob in pdf[blob_col]:
                img = decode_image(bytes(blob), out_hw)
                feats.append(img.mean(axis=(0, 1)).astype(np.float32).tolist())
            yield pd.DataFrame(
                {id_col: pdf[id_col], "features": feats}
            )

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("features", ArrayType(FloatType()), False),
        ]
    )
    return df.mapInPandas(fn, schema=schema)


def encode_y4m(
    frames: np.ndarray, fps: tuple[int, int] = (25, 1)
) -> bytes:
    """uint8 (n, h, w, 3) planar-YUV frames -> yuv4mpeg2 (C444) bytes —
    fixtures and sinks; the inverse of decode_y4m."""
    n, h, w, _ = frames.shape
    parts = [f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C444\n".encode()]
    fr = frames.astype(np.uint8)
    for i in range(n):
        parts.append(b"FRAME\n")
        # planar: full Y plane, then U, then V
        parts.append(fr[i, :, :, 0].tobytes())
        parts.append(fr[i, :, :, 1].tobytes())
        parts.append(fr[i, :, :, 2].tobytes())
    return b"".join(parts)


def decode_y4m(blob: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """yuv4mpeg2 -> (uint8 (n, h, w, 3) YUV frames, (fps_num, fps_den)).
    Supports planar C444 and C420* (chroma nearest-upsampled to full
    resolution); other colorspaces raise NotImplementedError."""
    if not blob.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = blob.index(b"\n")
    w = h = None
    fps = (25, 1)
    cs = "C420jpeg"  # the spec's default when no C tag is present
    for p in blob[9:nl].split():
        tag, val = p[:1], p[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            a, b = val.split(b":")
            fps = (int(a), int(b))
        elif tag == b"C":
            cs = p.decode()
    if w is None or h is None:
        raise ValueError("missing W/H header tags")
    if cs.startswith("C444"):
        sub = 1
    elif cs.startswith("C420"):
        sub = 2
    else:
        raise NotImplementedError(
            f"colorspace {cs} unsupported (planar C444/C420* only)"
        )
    ysz = w * h
    csz = (w // sub) * (h // sub)
    frame_sz = ysz + 2 * csz
    pos = nl + 1
    frames = []
    while pos < len(blob):
        if blob[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at offset {pos}")
        pos = blob.index(b"\n", pos) + 1  # frame params (if any) ignored
        buf = np.frombuffer(blob, np.uint8, frame_sz, pos)
        y = buf[:ysz].reshape(h, w)
        u = buf[ysz : ysz + csz].reshape(h // sub, w // sub)
        v = buf[ysz + csz :].reshape(h // sub, w // sub)
        if sub != 1:
            u = u.repeat(sub, 0).repeat(sub, 1)
            v = v.repeat(sub, 0).repeat(sub, 1)
        frames.append(np.stack([y, u, v], axis=-1))
        pos += frame_sz
    if not frames:
        # a header-only stream is legal Y4M (zero frames); np.stack([])
        # would raise an unrelated ValueError from numpy internals
        return np.empty((0, h, w, 3), dtype=np.uint8), fps
    return np.stack(frames), fps


def video_frame_features(
    df: DataFrame,
    *,
    blob_col: str = "media",
    id_col: str = "media_id",
    every_ms: int | None = None,
) -> DataFrame:
    """Decode Y4M videos and emit per-sampled-frame plane sums via
    mapInPandas — the video twin of image_features/audio_features, with
    a REAL decoder on the default path. ``every_ms`` samples the frame
    nearest each grid point (None = every frame); the distribution plan
    is the one frame_sample_plan describes, with the decode step live."""
    from pyspark.sql.types import LongType

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulators: pd.DataFrame from a list of row
            # tuples re-infers per cell; five flat lists build the
            # Arrow batch directly (r7)
            ids_o, fi_o, sy, su, sv = [], [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                frames, (fn_, fd_) = decode_y4m(bytes(blob))
                n = len(frames)
                if n == 0:
                    continue  # legal zero-frame stream: no rows
                if every_ms is None:
                    idxs = range(n)
                else:
                    dur_ms = int(n * 1000 * fd_ / fn_)
                    idxs = sorted(
                        {
                            min(int(t * fn_ / (1000 * fd_)), n - 1)
                            for t in range(0, dur_ms + 1, every_ms)
                        }
                    )
                sums = frames.astype(np.int64).sum(axis=(1, 2))
                for i in idxs:
                    ids_o.append(mid)
                    fi_o.append(int(i))
                    sy.append(int(sums[i, 0]))
                    su.append(int(sums[i, 1]))
                    sv.append(int(sums[i, 2]))
            yield pd.DataFrame(
                {
                    id_col: ids_o,
                    "frame_idx": fi_o,
                    "sum_y": sy,
                    "sum_u": su,
                    "sum_v": sv,
                }
            )

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("frame_idx", LongType(), False),
            StructField("sum_y", LongType(), False),
            StructField("sum_u", LongType(), False),
            StructField("sum_v", LongType(), False),
        ]
    )
    return df.mapInPandas(fn, schema=schema)


def frame_sample_plan(
    df: DataFrame,
    *,
    every_ms: int = 1000,
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Expand each video row into (media_id, frame_ts_ms) sample points —
    pure JVM-side sequence/explode: the distribution plan (explode ->
    repartition -> decode UDF) a per-frame decode runs over at scale."""
    return df.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col(duration_col), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 mono PCM samples -> RIFF/WAVE bytes (fixtures and sinks;
    the inverse of decode_wav)."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    out = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(out)) + out


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 mono -> (float32 samples in [-1, 1], sample_rate).
    Walks the chunk list, so extra chunks (LIST/INFO) are tolerated."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", blob, body
            )
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 mono supported (fmt={audio_fmt},"
                    f" ch={channels}, bits={bits})"
                )
        elif cid == b"data":
            data = np.frombuffer(blob, dtype="<i2", count=size // 2, offset=body)
        pos = body + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data.astype(np.float32) / 32768.0, rate


def audio_features(
    df: DataFrame,
    *,
    blob_col: str = "media",
    id_col: str = "media_id",
) -> DataFrame:
    """Decode + featurize per clip via mapInPandas: duration, RMS energy,
    zero-crossing count — the audio twin of image_features."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                x, rate = decode_wav(bytes(blob))
                rows.append(
                    (
                        mid,
                        len(x) / rate,
                        float(np.sqrt(np.mean(np.square(x, dtype=np.float64)))),
                        int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1]))),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "duration_s", "rms", "zero_crossings"]
            )

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("duration_s", DoubleType(), False),
            StructField("rms", DoubleType(), False),
            StructField("zero_crossings", LongType(), False),
        ]
    )
    return df.mapInPandas(fn, schema=schema)
