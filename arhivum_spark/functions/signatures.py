"""Stage-1 signature extraction: one Arrow-batched pass over image bytes.

Decodes each image ONCE per row and emits every signature the pipeline needs
(content sha256, MinHash array, SimHash, pHash) — the Spark
analogue of the reference's single per-file pipeline pass
(ScanCommand.java:280-294: hash -> metadata, never re-reading the file).

Uses mapInPandas so the multi-MB `bytes` column streams through bounded
Arrow batches (spark.sql.execution.arrow.maxRecordsPerBatch is capped in
session.py); downstream stages must project `bytes` away immediately — only
ids + signatures may enter shuffles (SURVEY.md §7 watch list).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from arhivum_spark import codec
from arhivum_spark.config import DedupConfig
from arhivum_spark.functions import minhash as mh
from arhivum_spark.functions import simhash as sh

# only columns a later stage reads: s2 (content_sha256, fmt), s3
# (minhash, phash) and s5 (caption, simhash)
SIGNATURE_SCHEMA = (
    "image_id string, caption string, fmt string, "
    "content_sha256 string, minhash array<int>, simhash long, phash long"
)


def signature_extractor(cfg: DedupConfig):
    """Returns a mapInPandas function: images rows -> signature rows.

    Input columns required: image_id, bytes, caption, fmt, phash.
    """
    a, b = mh.permutations(cfg.num_perm, cfg.minhash_seed)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            shingle_sets: list[np.ndarray] = []
            shas: list[str] = []
            for raw, fmt in zip(pdf["bytes"], pdf["fmt"]):
                data = bytes(raw)
                shas.append(hashlib.sha256(data).hexdigest())
                pixels = codec.decode_any(data, fmt)
                # gray computed once; pHash is NOT recomputed here — the
                # input schema carries it (BASELINE.json input_hint), and
                # recompute-to-verify belongs on candidate pairs only (the
                # reference's skip-expensive-work rule, ScanCommand:342-353)
                gray = mh.to_gray(pixels)
                shingle_sets.append(
                    mh.block_shingles(gray, cfg.block, cfg.gray_qstep)
                )
            sigs = mh.minhash_batch(shingle_sets, a, b)
            simhashes = sh.simhash_batch(list(pdf["caption"]))
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].values,
                    "caption": pdf["caption"].values,
                    "fmt": pdf["fmt"].values,
                    "content_sha256": shas,
                    "minhash": list(sigs),
                    "simhash": simhashes,
                    "phash": pdf["phash"].values,
                }
            )

    return extract


def attach_signatures(df, cfg: DedupConfig):
    """images DataFrame -> signature DataFrame (bytes projected away)."""
    cols = ["image_id", "bytes", "caption", "fmt", "phash"]
    return df.select(*cols).mapInPandas(
        signature_extractor(cfg), schema=SIGNATURE_SCHEMA
    )
