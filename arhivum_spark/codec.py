"""Deterministic synthetic image codec (numpy-only).

This container has NO image libraries (no PIL/opencv/libjpeg), so real
PNG/JPEG decode is impossible here. This module is a clearly-marked
deterministic stand-in with the same *shape* as a real codec so every
Spark-side piece — binary `bytes` column, Arrow-batched pandas-UDF decode,
PSNR verification, lossy-vs-lossless handling — is real and tested:

- "png"  -> ARVL container: zlib-compressed raw RGB (lossless).
- "jpeg" -> ARVY container: uniform mid-rise quantization (step q) + zlib —
  a lossy codec with analytically bounded error (MSE ~= q^2/12, so q=8 gives
  PSNR ~40.9 dB, q=4 ~46.9 dB), standing in for JPEG's DCT quantization.

Every stage that decodes image bytes (s1 signatures, s3b PSNR, the media
operators) calls `decode_any`. On a production cluster, plug PIL/turbojpeg
calls in there for the formats it does not know; nothing else changes.

Reference parity note: the reference never decodes images — it streams bytes
into SHA-256 (archivum-scanner HashService.java:58-109). The graft adds
decoded-pixel semantics (PSNR >= 40 dB invariant, BASELINE.json input_hint),
which this codec makes verifiable without image libs.
"""

from __future__ import annotations

import ast
import struct
import zlib

import numpy as np

MAGIC_LOSSLESS = b"ARVL"
MAGIC_LOSSY = b"ARVY"
_HDR = struct.Struct("<4sHHB")  # magic, w, h, qstep (0 for lossless)


def encode_lossless(pixels: np.ndarray) -> bytes:
    """pixels: (h, w, 3) uint8 -> lossless container bytes."""
    h, w, _ = pixels.shape
    return _HDR.pack(MAGIC_LOSSLESS, w, h, 0) + zlib.compress(
        pixels.tobytes(), 6
    )


def encode_lossy(pixels: np.ndarray, qstep: int = 8) -> bytes:
    """pixels: (h, w, 3) uint8 -> lossy container (uniform quantization).

    Stores the quantization quotient; decode reconstructs bin midpoints.
    Max abs error qstep/2 - 1 => PSNR >= 20*log10(255/(qstep/2)) dB.
    """
    if not 2 <= qstep <= 64:
        raise ValueError(f"qstep out of range: {qstep}")
    h, w, _ = pixels.shape
    quot = (pixels // qstep).astype(np.uint8)
    return _HDR.pack(MAGIC_LOSSY, w, h, qstep) + zlib.compress(quot.tobytes(), 6)


def decode(data: bytes) -> np.ndarray:
    """Container bytes -> (h, w, 3) uint8 pixels."""
    magic, w, h, qstep = _HDR.unpack_from(data, 0)
    raw = zlib.decompress(data[_HDR.size :])
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    if magic == MAGIC_LOSSLESS:
        return arr
    if magic == MAGIC_LOSSY:
        return np.minimum(
            arr.astype(np.uint16) * qstep + qstep // 2, 255
        ).astype(np.uint8)
    raise ValueError(f"unknown codec magic: {magic!r}")


def decode_any(data: bytes, fmt: str = "") -> np.ndarray:
    """Image bytes of any format -> (h, w, 3) uint8 pixels.

    The in-repo containers decode with ``decode``. Any other format
    (jpeg/png/webp/mp4 keyframes) is the swap-in point for PIL /
    turbojpeg / pyav on a production cluster and raises
    NotImplementedError until one is plugged in: a missing codec is an
    infrastructure failure, so callers that score or hash pixels let it
    fail the stage instead of reading it as a verdict on the image.
    """
    if data[:4] in (MAGIC_LOSSLESS, MAGIC_LOSSY):
        return decode(data)
    raise NotImplementedError(
        f"external codec for {fmt!r} not available in this environment; "
        "plug PIL/turbojpeg/pyav in here"
    )


def header(data: bytes) -> tuple[str, int, int]:
    """Cheap metadata sniff without full decode: (fmt, w, h).

    Raises ValueError on non-image magic, like ``decode`` — labeling
    arbitrary bytes (an ARVA audio container, garbage) as 'jpeg' with
    garbage dimensions would record false metadata downstream."""
    magic, w, h, _ = _HDR.unpack_from(data, 0)
    if magic == MAGIC_LOSSLESS:
        return "png", w, h
    if magic == MAGIC_LOSSY:
        return "jpeg", w, h
    raise ValueError(f"unknown codec magic: {magic!r}")


# ---------------------------------------------------------------------------
# EXIF-like metadata trailer (deterministic stand-in for a real EXIF APP1
# segment). A real image's EXIF lives inside the container; here it is an
# optional trailer after the pixel payload: MAGIC_EXIF + u32 length + a
# length-prefixed UTF-8 field block. parse order and field semantics mirror
# the reference extractor (archivum-scanner ExifExtractor.java:32-72, DTO
# archivum-api dto/ExifMetadata.java:24-64): absent trailer -> None, exactly
# like the reference returning null when no EXIF directories exist.

MAGIC_EXIF = b"EXF0"
_EXIF_FIELDS = (
    "camera_make", "camera_model", "datetime_original", "width", "height",
    "orientation", "gps_lat", "gps_lon", "gps_alt", "lens_model",
    "focal_length", "aperture", "shutter_speed", "iso", "flash_raw",
)


def encode_exif_trailer(fields: dict) -> bytes:
    """Serialize an EXIF field dict as a trailer segment. Values may be
    str/int/float/None; None fields are omitted (EXIF tags are optional)."""
    parts = []
    for k in _EXIF_FIELDS:
        v = fields.get(k)
        if v is None:
            continue
        kv = f"{k}={v!r}".encode() if isinstance(v, str) else f"{k}={v}".encode()
        parts.append(struct.pack("<H", len(kv)) + kv)
    body = b"".join(parts)
    return MAGIC_EXIF + struct.pack("<I", len(body)) + body


def _parse_exif_at(data: bytes, pos: int) -> dict:
    """Parse a trailer candidate at ``pos`` (start of magic). Raises on
    any malformation — the caller treats that as 'not the trailer'."""
    (blen,) = struct.unpack_from("<I", data, pos + 4)
    if pos + 8 + blen != len(data):
        # the REAL trailer always ends the blob (encode appends it last)
        raise ValueError("trailer does not reach end of blob")
    body = data[pos + 8 : pos + 8 + blen]
    out: dict = {}
    off = 0
    while off < len(body):
        (n,) = struct.unpack_from("<H", body, off)
        kv = body[off + 2 : off + 2 + n].decode()
        off += 2 + n
        k, _, raw = kv.partition("=")
        if k not in _EXIF_FIELDS:
            raise ValueError(f"unknown EXIF field {k!r}")
        if raw[:1] in ("'", '"'):
            # repr() quoting is content-dependent (an apostrophe in the
            # value switches it to double quotes, escapes appear for
            # mixed quoting) — literal_eval inverts all of repr's forms
            out[k] = ast.literal_eval(raw)
        else:
            try:
                out[k] = int(raw)
            except ValueError:
                # floats whose str() lacks a '.' (1e+20, inf, nan) land
                # here too — the '.' sniff alone misparsed them
                out[k] = float(raw)
    return out


def parse_exif_trailer(data: bytes) -> dict | None:
    """Find + parse the EXIF trailer; None when absent (reference contract:
    ExifExtractor returns null for EXIF-less files).

    A bare rfind(MAGIC) is not enough: the 4-byte magic can occur by
    coincidence inside a field VALUE or inside compressed pixel data
    (~len/2^32 odds per image — non-negligible at billions of rows), and
    mis-anchoring there either crashes or yields garbage fields. The
    real trailer is the one that (a) parses cleanly with known field
    keys and (b) extends exactly to the end of the blob — candidates
    are tried from the last occurrence backwards, first valid wins.
    """
    pos = data.rfind(MAGIC_EXIF)
    while pos >= 0:
        try:
            return _parse_exif_at(data, pos)
        except Exception:
            pos = data.rfind(MAGIC_EXIF, 0, pos)
    return None


# ---------------------------------------------------------------------------
# Deterministic audio container (stand-in for WAV/FLAC, the audio leg of the
# multimodal triad). Real decoders (soundfile/pyav) are absent from this
# container; this codec exercises the full Spark plumbing — schema, Arrow
# batching, one-to-many frame explode — with a real round-trip, and
# decode_any stays the swap-in point for production image codecs.

MAGIC_AUDIO = b"ARVA"
_AHDR = struct.Struct("<4sIH")  # magic, sample_rate, channels


def encode_audio(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """samples: (n,) or (n, channels) int16 -> container bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    ch = samples.shape[1]
    return _AHDR.pack(MAGIC_AUDIO, sample_rate, ch) + zlib.compress(
        samples.astype("<i2").tobytes(), 6
    )


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Container bytes -> ((n, channels) int16 samples, sample_rate)."""
    magic, rate, ch = _AHDR.unpack_from(data, 0)
    if magic != MAGIC_AUDIO:
        raise ValueError(f"unknown audio magic: {magic!r}")
    raw = zlib.decompress(data[_AHDR.size :])
    return np.frombuffer(raw, dtype="<i2").reshape(-1, ch), rate


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
