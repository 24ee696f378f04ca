#!/usr/bin/env python
"""Per-round benchmark harness (driver contract).

Runs the full query registry at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) plus the headline image near-duplicate job
(bench_common.timed_job: pipeline + caption stage) on a deterministically
generated ``$SPARK_GRAFT_BENCH_IMAGES``-row (default 20000) 64 px table,
on ``local[$SPARK_GRAFT_CPUS]``, and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys carry the graft's own north-rule numbers (images/sec on the dedup
job). Scaling (N vs 4N cores) evidence lives in bench_scaling.py /
BENCH.md — this script is the single-config per-round run.

Only the JSON line goes to stdout; Spark chatter stays on stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import bench_common as bc
from arhivum_spark import datagen
from arhivum_spark.queries import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "20000"))


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    spark = bc.session("arhivum_bench")
    cores = bc.cores()
    params = datagen.GenParams(n=N_IMAGES, seed=42, img_hw=64)
    images = datagen.images_df(spark, params, partitions=2 * cores)

    # warm the Python-UDF workers before the query loop too: otherwise the
    # first registry query absorbs the per-process numpy/pandas import
    # cost, and per-query comparisons are skewed by registry order
    bc.warm_up(images)
    query_secs: dict[str, float] = {}
    for name, (fn, _sql) in REGISTRY.items():
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        query_secs[name] = round(time.time() - t0, 3)

    images = images.persist()
    images.count()  # materialize generation outside the timed window
    bc.warm_up(images)
    stage_root = tempfile.mkdtemp(prefix="arhivum_bench_stages_")
    try:
        run = bc.timed_job(spark, images, stage_root)
    finally:
        shutil.rmtree(stage_root, ignore_errors=True)
    query_secs["image_dedup_pipeline"] = run["wall_sec"]

    print(
        json.dumps(
            {
                "metric": "total_bench_seconds",
                "value": round(sum(query_secs.values()), 3),
                "unit": "sec",
                "queries": query_secs,
                "sf": _sf_from_dir(SF_DIR),
                "dedup_images": N_IMAGES,
                "dedup_rows_out": run["rows"],
                "dedup_images_per_sec": round(N_IMAGES / run["wall_sec"], 1),
                "dedup_stage_sec": run["stage_sec"],
                "cores": cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
