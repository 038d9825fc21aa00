"""Multimodal columns (SURVEY.md §2.9): image/audio/video as opaque

``binary`` payloads plus typed metadata (schemas.MEDIA). The Spark-side
plumbing — schema, partition sizing, Arrow batch shape through
``mapInPandas`` — is real and tested, and the codec step has REAL
execution paths too: uncompressed 24-bit BMP decodes/encodes in pure
numpy (``codec="bmp"``), so ``extract_features`` computes genuine pixel
statistics and ``resize_images`` does a genuine nearest-neighbor
resample, pixel-verified in tests with zero external libraries; mono
16-bit PCM WAV decodes the same way (``codec="wav"``) into a real
duration/RMS/ZCR/spectral-band descriptor, sample-verified in tests.
Compressed formats (JPEG/PNG/MP3/video) need PIL/librosa/ffmpeg —
absent in this container — so those raise ``NotImplementedError``
unless ``deterministic_fake=True``, which produces seeded fake features
(SQL-oracle-replayable) so pipelines exercise end-to-end.

Scale notes: payloads never pass through a shuffle unless the caller asks
for one — feature extraction is a narrow ``mapInPandas`` over the scan;
binary-heavy tables should set ``spark.sql.files.maxPartitionBytes`` low
enough that one Arrow batch of payloads fits executor memory.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineer_spark.operators.preparation import _POLY_MOD

IMAGE_FEATURE_DIM = 16

_FEATURE_SCHEMA = (
    "media_id long, kind string, feature array<float>, feat_norm double"
)


def _fake_feature(payload: bytes | None, dim: int) -> np.ndarray:
    """Deterministic stand-in for a decoder+encoder: poly-hash the first

    64 chars of the payload's UTF-8 decode (the same ``(acc*31 + cp) %
    1_000_003`` fold as ``preparation._poly_hash_sql``), then expand
    to ``dim`` values by per-dim affine transforms mod the same prime.
    Engine-portable by construction — for valid-UTF-8 payloads a SQL
    oracle replays the fold and the affine expansion bit-for-bit, so the
    multimodal plumbing is hash-verifiable end to end, not rows-only."""
    if payload is None:
        return np.zeros(dim, dtype=np.float32)
    h = 0
    for ch in bytes(payload).decode("utf-8", "replace")[:64]:
        h = (h * 31 + ord(ch)) % _POLY_MOD
    vals = [((h * (2 * i + 3) + 97 * i) % _POLY_MOD) / float(_POLY_MOD) for i in range(dim)]
    return np.array(vals, dtype=np.float32)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an uncompressed 24-bit
    BMP (BITMAPINFOHEADER, bottom-up, BGR, 4-byte row padding) — the
    real on-disk format the ``codec="bmp"`` path round-trips; also the
    test fixture generator."""
    import struct

    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_bmp: (H, W, 3) uint8 RGB expected")
    stride = (w * 3 + 3) & ~3
    img_size = stride * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP to an (H, W, 3) uint8 RGB
    array — pure numpy, no codec library. Supports the common
    BITMAPINFOHEADER layout (positive height = bottom-up) produced by
    :func:`encode_bmp` and stock image tools saving uncompressed."""
    import struct

    b = bytes(payload)
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("decode_bmp: not a BMP payload")
    (data_off,) = struct.unpack_from("<I", b, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", b, 14)
    _planes, bpp, compression = struct.unpack_from("<HHI", b, 26)
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(
            "decode_bmp: only uncompressed 24-bit BITMAPINFOHEADER BMPs "
            "are numpy-decodable; use PIL for compressed formats"
        )
    if w <= 0 or h == 0:
        # a zero/negative-width or zero-height header would reach the
        # feature stage as an empty array (NaN means, w/h division) —
        # fail here with the codec's own error instead
        raise ValueError("decode_bmp: non-positive image dimensions")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def _bmp_feature(payload: bytes | None, dim: int) -> np.ndarray:
    """REAL image feature from a decoded BMP: per-channel means and
    stds (6), a 3×3 grid of mean luminances (9), and the aspect ratio
    (1) = the 16-dim content descriptor. Deterministic float32."""
    if payload is None:
        return np.zeros(dim, dtype=np.float32)
    px = decode_bmp(payload).astype(np.float64)
    h, w, _ = px.shape
    feats = list(px.reshape(-1, 3).mean(axis=0) / 255.0)
    feats += list(px.reshape(-1, 3).std(axis=0) / 255.0)
    lum = px @ np.array([0.299, 0.587, 0.114])
    for gy in range(3):
        for gx in range(3):
            cell = lum[
                gy * h // 3 : max((gy + 1) * h // 3, gy * h // 3 + 1),
                gx * w // 3 : max((gx + 1) * w // 3, gx * w // 3 + 1),
            ]
            feats.append(cell.mean() / 255.0)
    feats.append(w / h)
    out = np.array(feats, dtype=np.float32)
    if len(out) < dim:
        out = np.pad(out, (0, dim - len(out)))
    return out[:dim]


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Encode a 1-D int16 array as a mono 16-bit PCM RIFF/WAVE payload
    (the real audio format the ``codec="wav"`` path consumes; also the
    test fixture generator)."""
    import struct

    if samples.ndim != 1 or samples.dtype != np.int16:
        raise ValueError("encode_wav: 1-D int16 samples expected")
    data = samples.tobytes()
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    body = b"WAVE" + fmt + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a mono 16-bit PCM RIFF/WAVE payload to (int16 samples,
    sample_rate) — pure numpy/struct, no audio library. Walks the RIFF
    chunk list, so extra chunks (LIST/INFO) are tolerated."""
    import struct

    b = bytes(payload)
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = struct.unpack_from("<4sI", b, pos)
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack_from("<HHI", b, pos + 8)
            (bits,) = struct.unpack_from("<H", b, pos + 22)
            if fmt_tag != 1 or channels != 1 or bits != 16:
                raise ValueError(
                    "decode_wav: only mono 16-bit PCM is numpy-decodable; "
                    "use librosa/ffmpeg for compressed or multi-channel audio"
                )
        elif cid == b"data":
            data = np.frombuffer(b, dtype="<i2", count=size // 2, offset=pos + 8)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or rate <= 0 or data is None:
        raise ValueError("decode_wav: missing or invalid fmt/data chunk")
    return data, rate


def _wav_feature(payload: bytes | None, dim: int) -> np.ndarray:
    """REAL audio feature from decoded PCM: duration (s), RMS, peak,
    zero-crossing rate (4) + 12 log-energy bands of the magnitude
    spectrum = the 16-dim content descriptor. Deterministic float32."""
    if payload is None:
        return np.zeros(dim, dtype=np.float32)
    samples, rate = decode_wav(payload)
    x = samples.astype(np.float64) / 32768.0
    n = len(x)
    feats = [n / rate]
    if n == 0:
        feats += [0.0, 0.0, 0.0] + [0.0] * 12
    else:
        feats.append(math.sqrt(float((x * x).mean())))
        feats.append(float(np.abs(x).max()))
        feats.append(float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if n > 1 else 0.0)
        mag = np.abs(np.fft.rfft(x))
        bands = np.array_split(mag, 12)
        feats += [float(np.log1p((b * b).sum())) for b in bands]
    out = np.array(feats, dtype=np.float32)
    if len(out) < dim:
        out = np.pad(out, (0, dim - len(out)))
    return out[:dim]


def encode_y4m(
    frames: np.ndarray, fps: int = 25
) -> bytes:
    """Encode (N, H, W) uint8 luma-only frames as YUV4MPEG2 (C420,
    chroma planes zeroed) — the real raw-video container the
    ``codec="y4m"`` frame sampler consumes; also the fixture
    generator. H and W must be even (4:2:0 chroma subsampling)."""
    n, h, w = frames.shape
    if frames.dtype != np.uint8 or h % 2 or w % 2:
        raise ValueError("encode_y4m: (N, H, W) uint8 with even H/W expected")
    head = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()
    chroma = bytes((h // 2) * (w // 2) * 2)
    return head + b"".join(
        b"FRAME\n" + f.tobytes() + chroma for f in frames
    )


def decode_y4m(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a YUV4MPEG2 (C420) payload to ((N, H, W) uint8 luma
    frames, (fps_num, fps_den)) — pure numpy/bytes parsing, no ffmpeg;
    the frame rate stays an exact rational (NTSC 30000:1001 must not
    floor). Chroma planes are skipped (the sampler's features are
    luma-based)."""
    b = bytes(payload)
    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        raise ValueError("decode_y4m: not a YUV4MPEG2 payload")
    w = h = fps = None
    for tok in b[:nl].split()[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"F":
            n_, d_ = tok[1:].split(b":")
            fps = (int(n_), max(int(d_), 1))  # exact rational — NTSC
            # rates like F30000:1001 must not floor to 29 fps (a 3.2%
            # drift that de-syncs sampling over a minute of video)
        elif tok[:1] == b"C" and tok != b"C420":
            raise ValueError(
                "decode_y4m: only C420 is numpy-decodable; use ffmpeg "
                "for other chroma layouts"
            )
    if not (w and h and fps and fps[0] > 0):
        raise ValueError("decode_y4m: missing W/H/F header fields")
    luma, chroma = h * w, (h // 2) * (w // 2) * 2
    frames, pos = [], nl + 1
    while pos < len(b):
        fnl = b.find(b"\n", pos)
        if fnl < 0 or b[pos : pos + 5] != b"FRAME":
            raise ValueError("decode_y4m: malformed FRAME marker")
        start = fnl + 1
        frames.append(
            np.frombuffer(b, dtype=np.uint8, count=luma, offset=start).reshape(h, w)
        )
        pos = start + luma + chroma
    return np.stack(frames) if frames else np.zeros((0, h, w), np.uint8), fps


def _feat_norm(f: np.ndarray) -> float:
    """L2 norm as an explicit double left fold (float32 inputs widened
    per element) — the float-op order a SQL oracle can reproduce."""
    acc = 0.0
    for x in f:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def extract_features(
    media: DataFrame,
    deterministic_fake: bool = False,
    dim: int = IMAGE_FEATURE_DIM,
    codec: str | None = None,
) -> DataFrame:
    """Decode payloads → feature vectors via ``mapInPandas``.

    ``codec="bmp"`` runs the REAL pure-numpy image decode +
    pixel-statistics feature (:func:`_bmp_feature`); ``codec="wav"``
    the real mono-PCM audio decode + spectral feature
    (:func:`_wav_feature`); further decoders (PIL/librosa/ffmpeg)
    plug in the same way.  With neither a codec nor
    ``deterministic_fake``, raises — never silently fakes.
    """
    if codec not in (None, "bmp", "wav"):
        raise NotImplementedError(f"codec {codec!r} not available here")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if codec == "bmp":
                feats = [_bmp_feature(p, dim) for p in pdf["payload"]]
            elif codec == "wav":
                feats = [_wav_feature(p, dim) for p in pdf["payload"]]
            elif deterministic_fake:
                feats = [_fake_feature(p, dim) for p in pdf["payload"]]
            else:
                raise NotImplementedError(
                    "compressed-media codecs not available in this "
                    "environment; pass codec='bmp' for uncompressed BMP, "
                    "deterministic_fake=True, or install decoders"
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [f.tolist() for f in feats],
                    "feat_norm": [_feat_norm(f) for f in feats],
                }
            )

    return media.mapInPandas(run, schema=_FEATURE_SCHEMA)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    deterministic_fake: bool = False,
    codec: str | None = None,
) -> DataFrame:
    """Image resize: binary in → binary out, metadata updated.

    ``codec="bmp"`` performs a REAL nearest-neighbor resample (decode →
    numpy index-map → re-encode), pixel-verified in tests.  The fake
    'resize' truncates/pads the payload to width·height bytes so batch
    shapes and schema behavior are exercised without any codec.
    """
    if codec not in (None, "bmp"):
        raise NotImplementedError(f"codec {codec!r} not available here")
    target = width * height

    def _nn_resize(payload):
        if payload is None:
            return None
        px = decode_bmp(payload)
        h, w, _ = px.shape
        yi = (np.arange(height) * h) // height
        xi = (np.arange(width) * w) // width
        return encode_bmp(px[yi][:, xi])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if codec == "bmp":
                payloads = [_nn_resize(p) for p in pdf["payload"]]
            elif deterministic_fake:
                payloads = [
                    None if p is None else bytes(p)[:target].ljust(target, b"\0")
                    for p in pdf["payload"]
                ]
            else:
                raise NotImplementedError(
                    "image codecs not available; see docstring"
                )
            out = pdf.copy()
            out["payload"] = payloads
            out["width"] = width
            out["height"] = height
            yield out

    return media.mapInPandas(run, schema=media.schema)


def sample_frames(
    media: DataFrame,
    every_ms: int,
    deterministic_fake: bool = False,
    codec: str | None = None,
) -> DataFrame:
    """Video frame sampling: one row in → N frame rows out

    (``mapInPandas`` lets output cardinality differ from input).
    ``codec="y4m"`` REALLY decodes YUV4MPEG2 raw video and emits the
    luma plane of the frame whose display interval COVERS each
    ``every_ms`` boundary (floor semantics — the frame on screen at
    that instant; frame bytes out, true timestamps from the
    container's exact rational fps) — frame-exact in tests, no
    ffmpeg.  Fake frames slice the payload at every_ms boundaries of
    duration_ms.
    """
    if codec not in (None, "y4m"):
        raise NotImplementedError(f"codec {codec!r} not available here")
    if every_ms <= 0:
        # the fake path would ZeroDivide and the y4m path would loop
        # forever (ms never advances) — reject up front on the driver
        raise ValueError(f"sample_frames: every_ms > 0 required, got {every_ms}")
    schema = "media_id long, frame_idx int, frame_ms long, frame binary"

    def _y4m_rows(r) -> list[dict]:
        frames, (fn, fd) = decode_y4m(bytes(r["payload"]))
        out = []
        n, idx = len(frames), 0
        ms = 0
        while True:
            # frame whose display interval covers ms, in exact integer
            # arithmetic on the rational rate (no float drift)
            src = (ms * fn) // (1000 * fd)
            if src >= n:
                break
            out.append(
                {
                    "media_id": r["media_id"],
                    "frame_idx": idx,
                    "frame_ms": ms,
                    "frame": frames[src].tobytes(),
                }
            )
            idx += 1
            ms += every_ms
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if codec == "y4m":
                rows = []
                for _, r in pdf.iterrows():
                    if r["payload"] is not None:
                        rows.extend(_y4m_rows(r))
                yield pd.DataFrame(
                    rows, columns=["media_id", "frame_idx", "frame_ms", "frame"]
                )
                continue
            if not deterministic_fake:
                raise NotImplementedError("video codecs not available; see docstring")
            rows = []
            for _, r in pdf.iterrows():
                # NULL duration arrives as NaN (Arrow renders a nullable
                # long column as float64) and NaN is truthy — `or 0`
                # passes it through and int(NaN) raises
                raw_dur = r["duration_ms"]
                dur = 0 if raw_dur is None or pd.isna(raw_dur) else int(raw_dur)
                payload = bytes(r["payload"] or b"")
                n = max(dur // every_ms, 1) if dur else 1
                step = max(len(payload) // n, 1)
                for i in range(n):
                    rows.append(
                        {
                            "media_id": r["media_id"],
                            "frame_idx": i,
                            "frame_ms": i * every_ms,
                            "frame": payload[i * step : (i + 1) * step],
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_ms", "frame"])

    return media.mapInPandas(run, schema=schema)


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind stats with no payload decode. When the table carries an

    ``n_bytes`` metadata column (the recommended lake layout for media
    tables), the binary column is pruned from the scan entirely (check
    ReadSchema); otherwise the payload is read once for its length."""
    size = (
        F.col("n_bytes") if "n_bytes" in media.columns else F.length("payload")
    )
    return media.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.avg(size).alias("avg_bytes"),
        F.avg("duration_ms").alias("avg_duration_ms"),
    )
