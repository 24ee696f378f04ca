"""Shared core of the bench_*.py harnesses: the bench corpus, the session,
the worker warm-up, one timed image-dedup job and dup-pair recall.

Corpus spec (environment):
    SPARK_GRAFT_SCALE_IMAGES  images in the corpus (default 600000)
    SPARK_GRAFT_SCALE_HW      image side in pixels (default 96)
    SPARK_GRAFT_SCALE_DIR     work dir for the corpus, stage roots, Spark
                              scratch and generated tables (default
                              .bench/ in the repo, on disk: a tmpfs work
                              dir competes with the job for RAM)
Cores come from SPARK_GRAFT_CPUS, else the cores this process may run on.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from arhivum_spark import datagen  # noqa: E402
from arhivum_spark.config import DedupConfig  # noqa: E402
from arhivum_spark.functions.signatures import attach_signatures  # noqa: E402
from arhivum_spark.plans.image_dedup import (  # noqa: E402
    STAGES,  # the stages one timed job commits
    caption_pairs,
    pinned_reader_batch,
    run_pipeline,
)
from arhivum_spark.session import get_spark  # noqa: E402
from arhivum_spark.sources.checkpoints import StageStore  # noqa: E402

N_IMAGES = int(os.environ.get("SPARK_GRAFT_SCALE_IMAGES", "600000"))
IMG_HW = int(os.environ.get("SPARK_GRAFT_SCALE_HW", "96"))
WORKDIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", os.path.join(REPO, ".bench"))


def params() -> datagen.GenParams:
    return datagen.GenParams(n=N_IMAGES, seed=42, img_hw=IMG_HW)


def cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def session(name: str, n_cores: int | None = None):
    """local[n_cores] (default `cores()`) with 4x that many shuffle
    partitions: AQE coalesces the small ones, and band-key skew averages
    out over finer tasks. Spark scratch goes under WORKDIR unless
    SPARK_LOCAL_DIRS is set (read once, at JVM launch)."""
    n_cores = n_cores or cores()
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORKDIR, "spark_local"))
    return get_spark(name, cores=n_cores, shuffle_partitions=4 * n_cores)


def corpus(spark) -> str:
    """Path of the bench corpus parquet, generated on first use."""
    path = os.path.join(WORKDIR, f"images_n{N_IMAGES}_hw{IMG_HW}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        datagen.images_df(spark, params(), partitions=256).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def warm_up(images) -> None:
    """Start the Python-UDF workers before a timed run: one full-width
    signature pass over a small slice. Worker cold-start is a per-process
    constant (numpy/pandas imports) that a long-lived cluster amortizes,
    so steady-state throughput is the honest number. The pass runs inside
    the reader-batch pin, like every image-bytes scan with pandas UDFs
    downstream."""
    spark = images.sparkSession
    n = spark.sparkContext.defaultParallelism
    with pinned_reader_batch(spark):
        attach_signatures(
            images.limit(64 * n).repartition(2 * n), DedupConfig()
        ).write.format("noop").mode("overwrite").save()


def read_manifest(stage_root: str) -> dict:
    """The stage root's manifest; empty while nothing is committed (or
    mid-swap, when a killed run is polled from outside)."""
    try:
        with open(os.path.join(stage_root, "manifest.json")) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {"stages": {}}


def timed_job(spark, images, stage_root: str) -> dict:
    """The job `cli.run --captions-out` runs: `run_pipeline` (which
    commits s5 beside s2..s4), then `caption_pairs` over the committed s1
    snapshot, which reads s5 back, on `stage_root` (resuming any stage
    committed there). The wall covers both and their order-insensitive
    checksums. Per-stage seconds come from the store's log of this job,
    0 for a stage that was already committed (listed in
    `reused_stages`); both are in `STAGES` order, whatever order the
    two branches committed in."""
    store = StageStore(spark, stage_root)
    cfg = DedupConfig()
    t0 = time.time()
    c = (
        run_pipeline(images, store, cfg)
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("cluster_id").alias("k"),
            F.expr("bit_xor(xxhash64(image_id, cluster_id))").alias("x"),
        )
        .first()
    )
    cap = (
        caption_pairs(store.read("s1_signatures"), store, cfg)
        .agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(id_a, id_b, pair_class))").alias("x"),
        )
        .first()
    )
    wall = time.time() - t0
    log = {s: store.stage_log[s] for s in STAGES if s in store.stage_log}
    return {
        "wall_sec": round(wall, 3),
        "rows": c["n"],
        "clusters": c["k"],
        "cluster_xor": c["x"],
        "caption_rows": cap["n"],
        "caption_xor": cap["x"],
        "stage_sec": {s: round(e["write_seconds"], 1) for s, e in log.items()},
        "reused_stages": [s for s, e in log.items() if e["reused"]],
    }


def pair_count(sizes: np.ndarray) -> float:
    """Unordered pairs within groups of the given sizes."""
    return float(np.sum(sizes * (sizes - 1) / 2))


def dup_pair_recall(truth, pred) -> dict:
    """Share of planted same-cluster pairs (`truth`: image_id, cluster_id)
    that share a cluster in `pred` (image_id, cluster_id), from
    intersection-subcluster sizes, so no pair is materialized. Precision
    is over the truth rows: of the predicted same-cluster pairs among
    them, the share that are truth pairs."""
    merged = truth.merge(pred, on="image_id", how="left", suffixes=("_t", "_p"))
    lost = int(merged["cluster_id_p"].isna().sum())
    if lost:
        raise ValueError(f"{lost} truth rows are missing from the prediction")
    total = pair_count(merged.groupby("cluster_id_t").size().values)
    hit = pair_count(merged.groupby(["cluster_id_t", "cluster_id_p"]).size().values)
    pred_pairs = pair_count(merged.groupby("cluster_id_p").size().values)
    per_t = merged.groupby("cluster_id_t")["cluster_id_p"].nunique()
    return {
        "truth_rows": int(len(truth)),
        "truth_pairs": total,
        "recall": hit / total if total else 1.0,
        "precision_on_truth_rows": hit / pred_pairs if pred_pairs else 1.0,
        "split_truth_clusters": int((per_t > 1).sum()),
        "truth_clusters": int(per_t.size),
    }
