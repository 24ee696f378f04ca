"""Spark-free microbench of the per-image kernels s1 and s3b run inside their
pandas UDFs, plus the Arrow transfer cost of an identity ``mapInPandas``.

Batches are built with ``datagen.build_row``, which is index-pure: at the
keys corpus parameters, rows 0..k-1 here are byte-identical to rows 0..k-1
of the corpus the pipeline reads.
"""

from __future__ import annotations

import hashlib
import time

import pandas as pd

from arhivum_spark import codec, datagen
from arhivum_spark.config import DedupConfig
from arhivum_spark.functions import minhash as mh
from arhivum_spark.functions import simhash as sh
from arhivum_spark.functions.signatures import signature_extractor

from harness import median

REPEATS = 3


def _per_image_ms(fn, n: int) -> float:
    """Median over REPEATS of fn()'s wall time, in ms per item."""
    walls = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return 1000.0 * median(walls) / n


def microbench(p: datagen.GenParams, n_images: int) -> dict:
    cfg = DedupConfig()
    pdf = pd.DataFrame([datagen.build_row(i, p) for i in range(n_images)])
    blobs = [bytes(b) for b in pdf["bytes"]]
    captions = list(pdf["caption"])
    pixels = [codec.decode(b) for b in blobs]
    grays = [mh.to_gray(px) for px in pixels]
    shingles = [mh.block_shingles(g, cfg.block, cfg.gray_qstep) for g in grays]
    a, b = mh.permutations(cfg.num_perm, cfg.minhash_seed)
    extract = signature_extractor(cfg)
    # s3b scores (src, dst) pairs; pair each row with its neighbour
    pairs = list(zip(blobs[0::2], blobs[1::2]))

    def psnr_pairs():
        for x, y in pairs:
            px, py = codec.decode(x), codec.decode(y)
            if px.shape == py.shape:
                codec.psnr(px, py)

    n = len(blobs)
    return {
        "decode_ms": _per_image_ms(lambda: [codec.decode(x) for x in blobs], n),
        "sha256_ms": _per_image_ms(
            lambda: [hashlib.sha256(x).hexdigest() for x in blobs], n
        ),
        "gray_ms": _per_image_ms(lambda: [mh.to_gray(x) for x in pixels], n),
        "shingle_ms": _per_image_ms(
            lambda: [mh.block_shingles(g, cfg.block, cfg.gray_qstep) for g in grays],
            n,
        ),
        "minhash_ms": _per_image_ms(lambda: mh.minhash_batch(shingles, a, b), n),
        "simhash_ms": _per_image_ms(lambda: sh.simhash_batch(captions), n),
        "extract_ms": _per_image_ms(lambda: list(extract(iter([pdf]))), n),
        "psnr_ms": _per_image_ms(psnr_pairs, len(pairs)),
        "samples": float(n),
    }


def arrow_identity_ms(images, n_images: int) -> float:
    """Identity ``mapInPandas`` over the images scan, ms per image: the
    cost of moving rows JVM -> Arrow -> pandas -> Arrow -> JVM alone."""

    def identity(batches):
        yield from batches

    plan = images.mapInPandas(identity, schema=images.schema)

    def run():
        plan.write.format("noop").mode("overwrite").save()

    run()  # first pass starts workers and compiles the plan
    return _per_image_ms(run, n_images)
