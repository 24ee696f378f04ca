"""The shared bench-harness core (bench_common): the timed job's counts,
checksums and per-stage accounting on a small datagen corpus, and
dup-pair recall on hand-built clusterings."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

import bench_common as bc
from arhivum_spark import datagen
from arhivum_spark.plans.image_dedup import run_pipeline
from arhivum_spark.sources.checkpoints import StageStore


def test_timed_job_counts_checksums_and_stage_accounting(spark, tmp_path):
    path = os.path.join(str(tmp_path), "images")
    datagen.images_df(
        spark, datagen.GenParams(n=300, seed=3, img_hw=48), partitions=4
    ).write.parquet(path)
    images = spark.read.parquet(path)
    root = os.path.join(str(tmp_path), "stages")

    run = bc.timed_job(spark, images, root)
    assert run["rows"] == 300
    direct = (
        run_pipeline(images, StageStore(spark, root))
        .agg(F.expr("bit_xor(xxhash64(image_id, cluster_id))").alias("x"))
        .first()["x"]
    )
    assert run["cluster_xor"] == direct
    assert set(run["stage_sec"]) == set(bc.STAGES)
    assert run["reused_stages"] == []
    assert run["caption_rows"] > 0

    # a rerun on the same root reuses every stage, reports 0 s for each,
    # and returns the same checksums
    again = bc.timed_job(spark, images, root)
    assert again["reused_stages"] == list(bc.STAGES)
    assert set(again["stage_sec"].values()) == {0.0}
    for k in ("rows", "clusters", "cluster_xor", "caption_rows", "caption_xor"):
        assert again[k] == run[k]


def test_dup_pair_recall():
    truth = pd.DataFrame(
        {"image_id": ["a", "b", "c", "d"], "cluster_id": ["t1", "t1", "t1", "t2"]}
    )
    assert bc.dup_pair_recall(truth, truth)["recall"] == 1.0
    split = truth.assign(cluster_id=["p1", "p1", "p2", "p3"])
    r = bc.dup_pair_recall(truth, split)
    assert r["recall"] == 1 / 3
    assert r["split_truth_clusters"] == 1
    assert r["truth_pairs"] == 3.0


def test_pair_count_still_imports_from_bench_recall():
    from bench_recall import pair_count

    assert pair_count(pd.Series([3, 2, 1]).values) == 4.0
