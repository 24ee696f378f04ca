"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

Design for 100 TB media tables:
- media stays an opaque ``binary`` column with first-class typed metadata
  columns next to it (the BASELINE.json input_hint shape: bytes/w/h/fmt);
- every decode / feature-extract / resize / frame-sample pass is a single
  Arrow-batched ``mapInPandas`` over bounded batches (session.py caps
  ``arrow.maxRecordsPerBatch`` because rows are multi-MB);
- bytes are projected away the moment features are extracted — only ids +
  features enter shuffles (same rule as the image signature stage,
  functions/signatures.py).

Real codec libraries (PIL/libjpeg/ffmpeg) are NOT in this container, so the
decode core is pluggable: ``codec.decode_any`` decodes the deterministic
ARVL/ARVY containers, which exercise the full plumbing, and raises
NotImplementedError for any other format until a real library is dropped
in there. Schema, batching, partitioning, and UDF signatures are real and
tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arhivum_spark import codec

MEDIA_META_SCHEMA = (
    "fmt string, dec_w int, dec_h int, mean_pixel double, ok boolean"
)


def attach_media_meta(
    df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt",
    id_col: str = "image_id",
) -> DataFrame:
    """Decode each media row once; emit typed metadata + a cheap content
    feature (mean pixel). Undecodable rows get ok=false instead of failing
    the job (the reference's continue-past-errors contract,
    FileWalkerService.java:87-90)."""
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, {MEDIA_META_SCHEMA}"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, raw, fmt in zip(pdf[id_col], pdf[bytes_col], pdf[fmt_col]):
                try:
                    px = codec.decode_any(bytes(raw), fmt)
                    rows.append(
                        (rid, fmt, px.shape[1], px.shape[0],
                         float(px.mean()), True)
                    )
                except Exception:
                    rows.append((rid, fmt, -1, -1, float("nan"), False))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "fmt", "dec_w", "dec_h", "mean_pixel", "ok"],
            )

    return df.select(id_col, bytes_col, fmt_col).mapInPandas(extract, schema=schema)


EXIF_STRUCT_SCHEMA = (
    "struct<camera_make:string, camera_model:string,"
    " datetime_original:string, width:int, height:int, orientation:int,"
    " gps:struct<latitude:double, longitude:double, altitude:double>,"
    " lens_model:string, focal_length:double, aperture:double,"
    " shutter_speed:string, iso:int, flash:boolean>"
)


def extract_exif(
    df: DataFrame, bytes_col: str = "bytes", id_col: str = "image_id"
) -> DataFrame:
    """F6: bytes -> typed EXIF struct column (null when the image has no
    EXIF), via an Arrow-batched struct-returning mapInPandas.

    Field semantics mirror the reference extractor exactly
    (archivum-scanner/.../service/ExifExtractor.java:32-72):
    - absent metadata -> null struct (extractExif returns null);
    - gps is itself a nested struct, null when lat+lon+alt are all absent
      (ExifExtractor.java:100-122 / dto/GpsCoordinates.java);
    - flash is bit 0x1 of the raw flash tag (ExifExtractor.java:151-155);
    - datetime_original is emitted as a formatted string (driver-hash rule:
      no raw timestamps), shaped like dto/ExifMetadata.java:24-64.
    """
    from datetime import datetime, timezone

    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, exif {EXIF_STRUCT_SCHEMA}"

    # strict per-field coercions: the trailer is parsed from untrusted
    # bytes, so a field can carry ANY python type — a mismatch must fail
    # THIS row (null struct, inside the try below), never the whole
    # stage at the batch's pandas->Arrow conversion, and never silently
    # truncate (int(3.5) -> 3). bool is excluded from the numeric types
    # (isinstance(True, int) is True in Python).
    def _i(v):
        if v is None:
            return None
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(f"expected int, got {type(v).__name__}")
        return v

    def _f(v):
        if v is None:
            return None
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeError(f"expected float, got {type(v).__name__}")
        return float(v)

    def _s(v):
        if v is None:
            return None
        if not isinstance(v, str):
            raise TypeError(f"expected str, got {type(v).__name__}")
        return v

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, structs = [], []
            for rid, raw in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(rid)
                try:
                    # per-row isolation (same continue-past-errors
                    # contract as attach_media_meta): a truncated or
                    # corrupt trailer — OR one that parses but carries an
                    # unexpected field type (the int(dt) / flash_raw & 1
                    # coercions below) — yields a null struct instead of
                    # failing the whole mapInPandas stage
                    t = codec.parse_exif_trailer(bytes(raw))
                    if t is None:
                        structs.append(None)
                        continue
                    lat, lon, alt = (
                        _f(t.get("gps_lat")),
                        _f(t.get("gps_lon")),
                        _f(t.get("gps_alt")),
                    )
                    gps = (
                        None
                        if lat is None and lon is None and alt is None
                        else {"latitude": lat, "longitude": lon, "altitude": alt}
                    )
                    flash_raw = _i(t.get("flash_raw"))
                    dt = _i(t.get("datetime_original"))
                    structs.append(
                        {
                            "camera_make": _s(t.get("camera_make")),
                            "camera_model": _s(t.get("camera_model")),
                            "datetime_original": (
                                None
                                if dt is None
                                else datetime.fromtimestamp(
                                    dt, tz=timezone.utc
                                ).strftime("%Y-%m-%d %H:%M:%S")
                            ),
                            "width": _i(t.get("width")),
                            "height": _i(t.get("height")),
                            "orientation": _i(t.get("orientation")),
                            "gps": gps,
                            "lens_model": _s(t.get("lens_model")),
                            "focal_length": _f(t.get("focal_length")),
                            "aperture": _f(t.get("aperture")),
                            # a string in the schema ("1/8") — not _f
                            "shutter_speed": _s(t.get("shutter_speed")),
                            "iso": _i(t.get("iso")),
                            "flash": (
                                None
                                if flash_raw is None
                                else (flash_raw & 0x1) != 0
                            ),
                        }
                    )
                except Exception:
                    structs.append(None)
            yield pd.DataFrame({id_col: ids, "exif": structs})

    return df.select(id_col, bytes_col).mapInPandas(run, schema=schema)


def resize_images(
    df: DataFrame, out_hw: int, bytes_col: str = "bytes",
    id_col: str = "image_id", on_error: str = "raise",
) -> DataFrame:
    """Nearest-neighbor resize to (out_hw, out_hw), re-encoded lossless.

    Arrow-batched; output rows carry new bytes + dims. The interpolation
    kernel is numpy index arithmetic (vectorized); a production swap-in
    uses PIL's resampling inside the same UDF.

    ``on_error="skip"`` drops undecodable/null-bytes rows instead of
    failing the stage (the module's continue-past-errors contract, same
    flag shape as audio_frame_energy); the default raises.
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, bytes binary, w int, h int"

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, raw in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    px = codec.decode_any(bytes(raw))
                except Exception:
                    if on_error == "skip":
                        continue
                    raise
                h, w, _ = px.shape
                yi = (np.arange(out_hw) * h // out_hw).clip(0, h - 1)
                xi = (np.arange(out_hw) * w // out_hw).clip(0, w - 1)
                resized = px[yi][:, xi]
                out.append((rid, codec.encode_lossless(resized), out_hw, out_hw))
            yield pd.DataFrame(out, columns=[id_col, "bytes", "w", "h"])

    return df.select(id_col, bytes_col).mapInPandas(do_resize, schema=schema)


def sample_frames(
    df: DataFrame, n_frames: int = 4, bytes_col: str = "bytes",
    id_col: str = "video_id", on_error: str = "raise",
) -> DataFrame:
    """Frame sampling for video columns — one output row per sampled frame.

    Videos are modeled as a vertical stack of frames inside one binary blob
    (deterministic fake standing in for container parsing; pyav swap-in
    point). Emits (id, frame_index, frame_bytes) — the UDTF shape
    (one-to-many mapInPandas) a real video pipeline needs.

    ``on_error="skip"`` emits zero frames for undecodable/null-bytes
    clips instead of failing the stage (continue-past-errors, same flag
    shape as audio_frame_energy); the default raises.
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, frame_index int, frame_bytes binary"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, raw in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    px = codec.decode_any(bytes(raw))
                except Exception:
                    if on_error == "skip":
                        continue
                    raise
                h = px.shape[0]
                frame_h = max(1, h // n_frames)
                for fi in range(min(n_frames, h // frame_h)):
                    frame = px[fi * frame_h : (fi + 1) * frame_h]
                    out.append((rid, fi, codec.encode_lossless(frame)))
            yield pd.DataFrame(
                out, columns=[id_col, "frame_index", "frame_bytes"]
            )

    return df.select(id_col, bytes_col).mapInPandas(sample, schema=schema)


def audio_meta(
    df: DataFrame, bytes_col: str = "bytes", id_col: str = "audio_id"
) -> DataFrame:
    """Audio leg of the multimodal triad: decode each clip once, emit typed
    metadata + cheap content features (duration, RMS level). Undecodable
    rows get ok=false (continue-past-errors contract). Arrow-batched;
    bytes projected away after the pass — same rules as attach_media_meta.
    """
    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, sample_rate int, channels int, n_samples int,"
        " duration_s double, rms double, ok boolean"
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, raw in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    samples, rate = codec.decode_audio(bytes(raw))
                    x = samples.astype(np.float64)
                    rows.append(
                        (
                            rid, rate, samples.shape[1], samples.shape[0],
                            round(samples.shape[0] / rate, 6),
                            round(float(np.sqrt(np.mean(x * x))), 4),
                            True,
                        )
                    )
                except Exception:
                    rows.append((rid, -1, -1, -1, float("nan"), float("nan"), False))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "sample_rate", "channels", "n_samples",
                    "duration_s", "rms", "ok",
                ],
            )

    return df.select(id_col, bytes_col).mapInPandas(extract, schema=schema)


def audio_frame_energy(
    df: DataFrame,
    frame_ms: int = 100,
    bytes_col: str = "bytes",
    id_col: str = "audio_id",
    on_error: str = "raise",
) -> DataFrame:
    """Per-frame RMS energy — one output row per frame (the audio analogue
    of sample_frames' one-to-many UDTF shape; feeds VAD / silence trimming
    in a real pipeline). Frame boundaries are sample-exact; a trailing
    partial frame is kept.

    ``on_error="skip"`` silently emits zero frames for undecodable clips
    (the one-to-many analogue of audio_meta's ok=false row) so the
    operator can run directly on a mixed-quality corpus without a prior
    decodability join; the default ``"raise"`` keeps strict semantics for
    pre-gated inputs."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, frame_index int, frame_rms double"

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, raw in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    samples, rate = codec.decode_audio(bytes(raw))
                except Exception:
                    if on_error == "skip":
                        continue
                    raise
                mono = samples.astype(np.float64).mean(axis=1)
                step = max(1, rate * frame_ms // 1000)
                for fi in range(0, len(mono), step):
                    frame = mono[fi : fi + step]
                    out.append(
                        (rid, fi // step,
                         round(float(np.sqrt(np.mean(frame * frame))), 4))
                    )
            yield pd.DataFrame(
                out, columns=[id_col, "frame_index", "frame_rms"]
            )

    return df.select(id_col, bytes_col).mapInPandas(frames, schema=schema)


def exif_fields_for_id(i: int) -> dict | None:
    """Deterministic EXIF field dict for synthetic image id `i` — every
    field a pure function of the id so the DuckDB oracle predicts the full
    struct analytically. i % 5 == 4 -> no EXIF at all; GPS only when
    i % 3 == 0; model/lens dropped on some rows so per-field nulls are
    exercised too."""
    if i % 5 == 4:
        return None
    fields: dict = {
        "camera_make": ["Canon", "Nikon", "Apple", "Sony"][i % 4],
        "datetime_original": 1577836800 + i * 3600,
        "width": 8 + i % 9,
        "height": 8 + i % 9,
        "orientation": 1 + i % 8,
        "focal_length": 18.0 + (i % 20) * 5.0,
        "aperture": 1.0 + (i % 8) * 0.5,
        "shutter_speed": f"1/{2 ** (i % 10)}",
        "iso": 100 * (1 + i % 32),
        "flash_raw": i % 9,
    }
    if i % 7 != 6:
        fields["camera_model"] = f"M{i % 7}"
    if i % 11 != 10:
        fields["lens_model"] = f"L{i % 5}"
    if i % 3 == 0:
        fields["gps_lat"] = float(i % 180) - 90.0 + 0.25
        fields["gps_lon"] = float(i % 360) - 180.0 + 0.5
        fields["gps_alt"] = (i % 1000) / 10.0
    return fields


def synth_audio_from_ids(
    df: DataFrame, id_col: str = "doc_id", corrupt_mod: int = 13
) -> DataFrame:
    """Deterministic audio column derived from an id column — constant-
    amplitude clips whose (rate, channels, length, level) are pure
    functions of the id, so an analytic SQL oracle predicts audio_meta's
    output end-to-end (the audio twin of synth_media_from_ids):

    - sample_rate = [8000, 16000, 32000, 48000][i % 4] (all divisible by
      8, so duration = (1 + i % 3)/8 s is EXACTLY representable as a
      double — no rounding-tie risk in the driver's value hash);
    - channels = 1 + i % 2; n_samples = (rate/8) * (1 + i % 3);
    - constant amplitude 100 * (1 + i % 7) -> rms is exactly the
      amplitude;
    - i % corrupt_mod == corrupt_mod-1 rows carry junk bytes (bad magic),
      exercising audio_meta's ok=false continue-past-errors path.
    """
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, bytes binary"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid in pdf[id_col]:
                i = int(rid)
                if i % corrupt_mod == corrupt_mod - 1:
                    rows.append((rid, b"JUNKJUNKJUNK"))
                    continue
                rate = (8000, 16000, 32000, 48000)[i % 4]
                ch = 1 + i % 2
                n = (rate // 8) * (1 + i % 3)
                amp = 100 * (1 + i % 7)
                samples = np.full((n, ch), amp, dtype=np.int16)
                rows.append((rid, codec.encode_audio(samples, rate)))
            yield pd.DataFrame(rows, columns=[id_col, "bytes"])

    return df.select(id_col).mapInPandas(gen, schema=schema)


def synth_media_from_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    hw_mod: int = 9,
    fill_mult: int = 37,
    with_exif: bool = False,
) -> DataFrame:
    """Deterministic media column derived from an id column — constant-fill
    images whose dims/fill are pure functions of the id, so an analytic SQL
    oracle can predict the decoded metadata end-to-end (the multimodal
    plumbing correctness gate in the driver harness). with_exif appends the
    deterministic EXIF trailer from exif_fields_for_id."""

    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, bytes binary, fmt string"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid in pdf[id_col]:
                i = int(rid)
                hw = 8 + i % hw_mod
                fill = (i * fill_mult) % 256
                px = np.full((hw, hw, 3), fill, dtype=np.uint8)
                fmt = "png" if i % 2 == 1 else "jpeg"
                data = (
                    codec.encode_lossless(px)
                    if fmt == "png"
                    else codec.encode_lossy(px, 8)
                )
                if with_exif:
                    exif = exif_fields_for_id(i)
                    if exif is not None:
                        data += codec.encode_exif_trailer(exif)
                rows.append((rid, data, fmt))
            yield pd.DataFrame(rows, columns=[id_col, "bytes", "fmt"])

    return df.select(id_col).mapInPandas(gen, schema=schema)
