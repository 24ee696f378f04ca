"""Scalar functions ported from the reference's per-row Java helpers.

All pure Column expressions (whole-stage-codegen friendly, no UDFs):

- F4  compound-aware file-extension extraction (MetadataService.java:81-106):
  a closed allowlist of compound extensions (tar.gz, tar.bz2, ...) checked
  before the generic last-dot rule.
- F8  project identifier construction (type-specific `concat_ws(":", ...)`
  formats, docs/shared/CODE_DETECTION.md:136-143).
- F9  base identifier: strip the version segment after the last ':'
  (CodeProjectDuplicateDetectionService.java:111-117) — the key for
  DIFFERENT_VERSION candidate matching.
- F12 deterministic UUID from a string (CodeProjectService.java:244-245
  uses UUID.nameUUIDFromBytes = MD5-based UUIDv3); we format md5 hex as a
  UUID for fixture parity.
- P5  file-class predicates (image/video/archive extension sets,
  MetadataService.java:142-180).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MetadataService.java:91-99 compound-extension allowlist
COMPOUND_EXTENSIONS = (
    "tar.gz", "tar.bz2", "tar.xz", "tar.z", "sql.gz", "sql.bz2",
)

IMAGE_EXTENSIONS = ("jpg", "jpeg", "png", "tiff", "tif", "heif", "heic", "webp")
VIDEO_EXTENSIONS = ("mp4", "avi", "mov", "mkv", "wmv", "flv", "webm", "m4v")
ARCHIVE_EXTENSIONS = ("zip", "rar", "7z", "tar", "gz", "bz2", "xz") + COMPOUND_EXTENSIONS


def extension(name_col: str | Column) -> Column:
    """Lowercased extension with compound-extension awareness.

    `backup.tar.gz` -> 'tar.gz'; `photo.JPG` -> 'jpg'; `README` -> ''.
    """
    name = F.lower(name_col if isinstance(name_col, Column) else F.col(name_col))
    expr = None
    for ce in COMPOUND_EXTENSIONS:
        cond = name.endswith("." + ce)
        expr = F.when(cond, F.lit(ce)) if expr is None else expr.when(cond, F.lit(ce))
    simple = F.when(
        name.contains("."), F.element_at(F.split(name, "\\."), -1)
    ).otherwise(F.lit(""))
    return expr.otherwise(simple)


def is_image(ext_col: Column) -> Column:
    return ext_col.isin(*IMAGE_EXTENSIONS)


def is_video(ext_col: Column) -> Column:
    return ext_col.isin(*VIDEO_EXTENSIONS)


def is_archive(ext_col: Column) -> Column:
    return ext_col.isin(*ARCHIVE_EXTENSIONS)


def identifier(*parts: Column | str) -> Column:
    """F8: type-specific identifier, e.g. (group, artifact, version) ->
    'group:artifact:version' (MavenProjectDetector.java:76 et al.)."""
    cols = [p if isinstance(p, Column) else F.col(p) for p in parts]
    return F.concat_ws(":", *cols)


def base_identifier(ident_col: str | Column) -> Column:
    """F9: identifier minus the trailing version segment —
    'com.example:api:1.0.0' -> 'com.example:api'. Identifiers without a
    version separator pass through unchanged."""
    c = ident_col if isinstance(ident_col, Column) else F.col(ident_col)
    # strip AFTER THE LAST ':' (the version segment), not "keep the first
    # two segments": a 4-segment ident like 'com.example:api:core:1.0'
    # must keep 'com.example:api:core', not collapse to 'com.example:api'
    # (which would alias unrelated artifacts as same-base duplicates).
    # No ':' -> no match -> unchanged. The lookbehind keeps a colon at
    # position 0 from matching, so ':abc' stays ':abc' (the reference's
    # lastColon > 0 guard).
    return F.regexp_replace(c, "(?s)(?<=.):[^:]*$", "")


# F5 — MIME detection: magic-byte sniff first, extension fallback, then
# application/octet-stream (MetadataService.java:115-123 probeContentType
# contract). Pure Column exprs over hex(prefix) — codegen, no UDF.
MAGIC_MIME = (
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("25504446", "application/pdf"),
    ("504B0304", "application/zip"),
    ("1F8B", "application/gzip"),
    ("424D", "image/bmp"),
    ("4152564C", "image/x-arv"),  # ARVL (arhivum_spark/codec.py)
    ("41525659", "image/x-arv"),  # ARVY
)

EXT_MIME = {
    "jpg": "image/jpeg", "jpeg": "image/jpeg", "png": "image/png",
    "gif": "image/gif", "pdf": "application/pdf", "zip": "application/zip",
    "gz": "application/gzip", "txt": "text/plain", "csv": "text/csv",
    "html": "text/html", "json": "application/json", "mp4": "video/mp4",
}

OCTET_STREAM = "application/octet-stream"


def sniff_mime(bytes_col: str | Column, ext_col: str | Column | None = None) -> Column:
    """Magic-byte MIME sniff with optional extension fallback."""
    b = bytes_col if isinstance(bytes_col, Column) else F.col(bytes_col)
    hx = F.hex(F.substring(b, 1, 8))
    if ext_col is None:
        fallback = F.lit(OCTET_STREAM)
    else:
        e = F.lower(ext_col if isinstance(ext_col, Column) else F.col(ext_col))
        fallback = None
        for ext, mime in EXT_MIME.items():
            cond = e == ext
            fallback = (
                F.when(cond, F.lit(mime))
                if fallback is None
                else fallback.when(cond, F.lit(mime))
            )
        fallback = fallback.otherwise(F.lit(OCTET_STREAM))
    expr = None
    for prefix, mime in MAGIC_MIME:
        cond = hx.startswith(prefix)
        expr = (
            F.when(cond, F.lit(mime))
            if expr is None
            else expr.when(cond, F.lit(mime))
        )
    return expr.otherwise(fallback)


def repo_name(remote_col: str | Column) -> Column:
    """F11: repo name from a git remote URL
    (GitProjectDetector.java:24 REMOTE_PATTERN + extractRepoName:120-141):
    https://host/path(.git)? or git@host:path(.git)? -> last path segment;
    'unknown' passes through; anything else falls back to the whole remote.
    """
    c = remote_col if isinstance(remote_col, Column) else F.col(remote_col)
    https_path = F.regexp_extract(c, r"^https?://[^/]+/(.+?)(?:\.git)?$", 1)
    ssh_path = F.regexp_extract(c, r"^git@[^:]+:(.+?)(?:\.git)?$", 1)
    path = F.when(https_path != "", https_path).otherwise(ssh_path)
    name = F.element_at(F.split(path, "/"), -1)
    return (
        F.when(c == "unknown", F.lit("unknown"))
        .when(path != "", name)
        .otherwise(c)
    )


def verify_hash(content_col: str | Column, expected_col: str | Column) -> Column:
    """F2: recompute sha256 and compare case-insensitively
    (HashService.java:151-154 verifyHash)."""
    c = content_col if isinstance(content_col, Column) else F.col(content_col)
    e = expected_col if isinstance(expected_col, Column) else F.col(expected_col)
    return F.sha2(c, 256) == F.lower(e)


def deterministic_uuid(s: str | Column) -> Column:
    """F12: md5-hex formatted as 8-4-4-4-12 UUID (stable across runs —
    the manual-project id scheme of CodeProjectService.java:244-245)."""
    c = s if isinstance(s, Column) else F.col(s)
    h = F.md5(c)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
