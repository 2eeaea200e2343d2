"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Decode support comes in two tiers:

* REAL, dependency-free decoders for the uncompressed container formats
  — 24-bit BI_RGB BMP images (``decode_image``) and 16-bit PCM WAV audio
  (``decode_audio``) — implemented with ``struct`` + numpy only, plus the
  matching encoders for test/synthesis use. Feature extraction over them
  (``image_features``, ``audio_features``) runs ``mapInPandas`` with real
  pixel/sample math.
* COMPRESSED formats (JPEG/PNG/MP3/video) need codec libraries absent
  from this container; those payloads raise a clearly-marked
  ``NotImplementedError`` from the same functions — the executor-side
  swap-in point for Pillow/ffmpeg — and the feature extractors tag the
  row in an ``error`` column instead of failing the batch (one corrupt
  file must not kill a 100 TB job).

Every Spark-side piece is real and tested either way: the schema
convention (binary payload + metadata struct), the ``mapInPandas`` batch
shape, Arrow transfer, and partition-preserving extraction.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]), True),
])

FEATURE_SCHEMA = (
    "media_id bigint, byte_len bigint, digest string, "
    "mime string, feat_mean double, feat_dim int"
)


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str,
                          source_col: str) -> DataFrame:
    """Demonstration builder: pack a text column as a utf-8 binary payload
    with a metadata struct — the schema convention real media rows follow."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col(source_col).alias("source"),
        ).alias("meta"),
    )


def encode_bmp(pixels: np.ndarray) -> bytes:
    """RGB uint8 array (H, W, 3) -> 24-bit uncompressed BI_RGB BMP bytes
    (bottom-up rows, 4-byte row padding). Pure struct/numpy."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):          # bottom-up
        bgr = pixels[y, :, ::-1].tobytes()  # RGB -> BGR
        body += bgr + b"\x00" * pad
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + bytes(body)


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BI_RGB BMP into an (H, W, 3) RGB
    uint8 array — real, dependency-free. Compressed formats (PNG/JPEG/
    GIF/WebP) raise ``NotImplementedError``: that branch is the
    executor-side swap-in point for a codec library."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty or truncated image payload")
    magic = bytes(payload[:2])
    if magic != b"BM":
        known = {b"\x89P": "png", b"\xff\xd8": "jpeg",
                 b"GI": "gif", b"RI": "webp/riff"}
        kind = known.get(magic, "unknown")
        raise NotImplementedError(
            f"decode of compressed image format ({kind}) requires a codec "
            "library not present in this environment; BMP (BI_RGB 24-bit) "
            "decodes natively")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    (hdr_size, w, h, _planes, bpp, compression) = struct.unpack_from(
        "<IiiHHI", payload, 14)
    if hdr_size < 40 or compression != 0 or bpp != 24:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (got bpp={bpp}, "
            f"compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    need = pixel_offset + stride * h
    if len(payload) < need:
        raise ValueError(f"BMP pixel data truncated: {len(payload)} < {need}")
    raw = np.frombuffer(payload, np.uint8, count=stride * h,
                        offset=pixel_offset)
    rows = raw.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 array (n,) or (n, channels) -> 16-bit PCM WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    assert samples.dtype == np.int16
    n, ch = samples.shape
    data = samples.reshape(-1).tobytes()  # interleaved frames
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, ch, sample_rate,
                      byte_rate, ch * 2, 16)
    body = fmt + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def decode_audio(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode 16-bit PCM WAV into ``(sample_rate, (n, channels) int16)``
    — real, dependency-free chunk walk. Compressed codecs raise
    ``NotImplementedError`` (the ffmpeg swap-in point)."""
    if payload is None or len(payload) < 12:
        raise ValueError("empty or truncated audio payload")
    if bytes(payload[:4]) != b"RIFF" or bytes(payload[8:12]) != b"WAVE":
        raise NotImplementedError(
            "decode of non-WAV audio requires a codec library not present "
            "in this environment; 16-bit PCM WAV decodes natively")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            try:
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            except struct.error as exc:
                # struct.error is NOT a ValueError subclass — it escaped
                # the per-row containment in the feature extractors and
                # one truncated file killed the whole batch (r5 review)
                raise ValueError(
                    f"truncated WAV fmt chunk ({len(body)} bytes)"
                ) from exc
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, ch, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM16 WAV supported (format={audio_format}, bits={bits})")
    if sample_rate < 1 or ch < 1:
        # a corrupt header with rate=0 decoded fine and then div-by-zeroed
        # OUTSIDE the containment in audio_features' duration math
        raise ValueError(
            f"corrupt WAV header: sample_rate={sample_rate}, channels={ch}")
    samples = np.frombuffer(data, np.int16)
    return sample_rate, samples.reshape(-1, ch)


def fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a feature extractor: md5-seeded bytes
    scaled to [0, 1). Stable across processes — safe for oracle-less checks."""
    if not 1 <= dim <= 16:
        raise ValueError(
            f"dim={dim} out of range [1, 16]: features are drawn from the "
            "16-byte md5 digest (past 16 the old code IndexErrored inside "
            "the executor; 0 div-by-zeroed the mean)")
    if payload is None:
        return [0.0] * dim
    digest = hashlib.md5(payload).digest()
    return [digest[i] / 255.0 for i in range(dim)]


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over media rows: batches arrive as
    Arrow-backed pandas frames, features computed per payload, partitioning
    untouched (no shuffle). This is the real 100 TB shape — only the inner
    ``fake_features`` call is a stand-in for a codec."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = pdf["payload"].map(lambda p: fake_features(p, dim))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "byte_len": pdf["payload"].map(
                    lambda p: 0 if p is None else len(p)).astype("int64"),
                "digest": pdf["payload"].map(
                    lambda p: "" if p is None else hashlib.md5(p).hexdigest()),
                "mime": pdf["meta"].map(
                    lambda m: None if m is None else m["mime"]),
                "feat_mean": feats.map(
                    lambda v: round(sum(v) / len(v), 6)).astype("float64"),
                "feat_dim": dim,
            })

    return df.mapInPandas(batches, FEATURE_SCHEMA)


IMAGE_FEATURE_SCHEMA = (
    "media_id bigint, width int, height int, mean_r double, "
    "mean_g double, mean_b double, error string"
)

AUDIO_FEATURE_SCHEMA = (
    "media_id bigint, sample_rate int, n_frames bigint, channels int, "
    "duration_s double, rms double, zero_cross_rate double, error string"
)


def image_features(df: DataFrame) -> DataFrame:
    """Real pixel features over BMP payloads via ``mapInPandas``:
    dimensions + per-channel means. Undecodable payloads (compressed
    formats, corrupt headers) land as a row with an ``error`` tag —
    per-row containment, because one bad file must not fail a 100 TB
    batch. Partitioning untouched, Arrow batch transfer, no shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("media_id", "width", "height", "mean_r",
                                   "mean_g", "mean_b", "error")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                try:
                    px = decode_image(payload)
                    means = px.reshape(-1, 3).mean(axis=0)
                    out["width"].append(px.shape[1])
                    out["height"].append(px.shape[0])
                    out["mean_r"].append(round(float(means[0]), 6))
                    out["mean_g"].append(round(float(means[1]), 6))
                    out["mean_b"].append(round(float(means[2]), 6))
                    out["error"].append(None)
                except (NotImplementedError, ValueError) as exc:
                    for k in ("width", "height", "mean_r", "mean_g",
                              "mean_b"):
                        out[k].append(None)
                    out["error"].append(str(exc)[:120])
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, IMAGE_FEATURE_SCHEMA)


def audio_features(df: DataFrame) -> DataFrame:
    """Real sample features over PCM WAV payloads: duration, RMS level,
    zero-crossing rate (channel-averaged). Same per-row error
    containment and no-shuffle batch shape as :func:`image_features`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, samples = decode_audio(payload)
                    x = samples.astype(np.float64)
                    n, ch = samples.shape
                    zc = 0.0
                    if n > 1:
                        signs = np.sign(x)
                        zc = float((np.abs(np.diff(signs, axis=0)) > 1)
                                   .mean())
                    rows.append((mid, rate, n, ch,
                                 round(n / rate, 6),
                                 round(float(np.sqrt((x ** 2).mean())), 6),
                                 round(zc, 6), None))
                except (NotImplementedError, ValueError) as exc:
                    rows.append((mid, None, None, None, None, None, None,
                                 str(exc)[:120]))
            yield pd.DataFrame(rows, columns=[
                "media_id", "sample_rate", "n_frames", "channels",
                "duration_s", "rms", "zero_cross_rate", "error"])

    return df.mapInPandas(batches, AUDIO_FEATURE_SCHEMA)


# -- synthetic payloads with closed-form features -----------------------------


def solid_bmp_payloads(docs: DataFrame) -> DataFrame:
    """(media_id, payload): per ``doc_id`` d, an 8x8 solid-color BMP of
    color (d % 256, 7d % 256, 13d % 256) — its pixel means ARE the color,
    so a SQL oracle can mirror :func:`image_features` in closed form."""
    def synth(it):
        for pdf in it:
            payloads = [
                encode_bmp(np.full(
                    (8, 8, 3),
                    (d % 256, (7 * d) % 256, (13 * d) % 256),
                    np.uint8))
                for d in pdf["doc_id"]]
            yield pd.DataFrame({"media_id": pdf["doc_id"],
                                "payload": payloads})

    return docs.mapInPandas(synth, "media_id bigint, payload binary")


def square_wav_payloads(docs: DataFrame) -> DataFrame:
    """(media_id, payload): per ``doc_id`` d, a 1 kHz PCM16 WAV of
    1000 + d % 500 frames of an alternating-sign wave at amplitude
    100 + d % 900 — rms = amplitude exactly, zero-crossing rate 1.0, so
    a SQL oracle can mirror :func:`audio_features` in closed form."""

    def synth(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                n = 1000 + int(d) % 500
                amp = 100 + int(d) % 900
                wave = (amp * np.where(np.arange(n) % 2 == 0, 1, -1)
                        ).astype(np.int16)
                payloads.append(encode_wav(wave, 1000))
            yield pd.DataFrame({"media_id": pdf["doc_id"],
                                "payload": payloads})

    return docs.mapInPandas(synth, "media_id bigint, payload binary")
