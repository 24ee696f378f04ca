"""Dup-pair recall vs planted ground truth at bench scale (north rule).

The recall >= 0.99 gate runs in pytest on a ~2k-row corpus
(tests/test_pipeline_recall.py::test_recall_gate). This bench runs the
SAME gate computation on the 600k bench corpus: generate (or reuse) the
bench input, run the full pipeline at local[32], and compute dup-pair
recall against `datagen.truth_clusters` — fraction of planted
same-cluster pairs that land in the same predicted cluster, computed
via intersection-subcluster sizes (no pair materialization, so the
6k-image all-black cohort's ~18M truth pairs cost nothing).

Prints one JSON line. Run alone in its window: python bench_recall.py
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

WORKDIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/dev/shm/arhivum_scale")
N_IMAGES = int(os.environ.get("SPARK_GRAFT_RECALL_N", "600000"))
IMG_HW = 96
CORES = int(os.environ.get("SPARK_GRAFT_RECALL_CORES", "32"))


def pair_count(sizes: np.ndarray) -> float:
    return float(np.sum(sizes * (sizes - 1) / 2))


def caption_recall(spark, images, p, workdir: str) -> dict:
    """Caption-pair recall vs datagen.truth_caption_pairs through the
    pipeline caption stage (SimHash banding + collapsed substring
    containment). The stage emits a covering edge set (identical captions
    collapse to a representative — boilerplate skew guard), so a truth
    pair (a, b) counts as covered through rep substitution, mirroring
    tests/test_pipeline_recall.py::test_caption_pairs_cover_planted_caption_dups."""
    from arhivum_spark import datagen
    from arhivum_spark.config import DedupConfig
    from arhivum_spark.functions.signatures import attach_signatures
    from arhivum_spark.plans.image_dedup import (
        caption_pairs,
        pinned_reader_batch,
    )
    from arhivum_spark.sources.checkpoints import StageStore

    stage_root = os.path.join(workdir, "stages_caption")
    shutil.rmtree(stage_root, ignore_errors=True)
    cfg = DedupConfig()
    t0 = time.time()
    # this path scans the raw image-bytes parquet through attach_signatures
    # WITHOUT run_pipeline's reader-batch pin — at 2.4M that is the exact
    # round-4 vectorized-reader contiguous-buffer OOM (hit in round 5;
    # "Cannot reserve additional contiguous bytes ... 97559482").
    # Snapshot the three caption-relevant columns BEFORE caption_pairs,
    # exactly as run_pipeline's s1 stage does: caption_pairs consumes the
    # sigs frame in two union legs (SimHash + substring), and feeding it
    # the unsnapshotted frame makes the concurrent AQE query stages
    # re-scan the full image-bytes parquet 2-3x in parallel — at 4.8M
    # (108 GB) the doubled in-flight scan state is a Java-heap OOM
    # (cliff #6, found by this gate; the 2.4M input merely fit).
    sig_cols = os.path.join(workdir, "caption_sig_cols.parquet")
    with pinned_reader_batch(spark):
        attach_signatures(images, cfg).select(
            "image_id", "simhash", "caption"
        ).write.mode("overwrite").parquet(sig_cols)
    sig_scan = time.time() - t0
    got = caption_pairs(
        spark.read.parquet(sig_cols), StageStore(spark, stage_root), cfg
    ).toPandas()
    wall = time.time() - t0
    shutil.rmtree(stage_root, ignore_errors=True)
    shutil.rmtree(sig_cols, ignore_errors=True)
    got_set = set(zip(got["id_a"], got["id_b"])) | set(
        zip(got["id_b"], got["id_a"])
    )
    caps = images.select("image_id", "caption").toPandas()
    rep = caps.groupby("caption")["image_id"].min()
    id_rep = dict(zip(caps["image_id"], caps["caption"].map(rep)))

    def covered(a: str, b: str) -> bool:
        if (a, b) in got_set:
            return True
        ra, rb = id_rep[a], id_rep[b]
        return (
            (a == ra or (a, ra) in got_set)
            and (b == rb or (b, rb) in got_set)
            and (ra == rb or (ra, rb) in got_set)
        )

    truth = datagen.truth_caption_pairs(p)
    # input-consistency guards (mirror the dup gate's "pipeline lost
    # truth rows" assert): a corpus generated for a different N — or one
    # too small to have a caption cohort — must fail with a cause, not a
    # bare KeyError deep in the coverage loop (after the multi-minute
    # signature scan) or a ZeroDivisionError
    if len(truth) == 0:
        raise SystemExit(
            f"caption truth is EMPTY at n={p.n} (caption cohort rounds to "
            "zero rows) — raise SPARK_GRAFT_RECALL_N"
        )
    truth_ids = set(truth["image_id_a"]) | set(truth["image_id_b"])
    missing_ids = truth_ids - set(id_rep)
    if missing_ids:
        raise SystemExit(
            f"{len(missing_ids)} truth ids absent from the input corpus "
            f"(e.g. {sorted(missing_ids)[:3]}) — SPARK_GRAFT_RECALL_INPUT "
            f"does not match the truth generated for n={p.n}"
        )
    n_missing = sum(
        0 if covered(a, b) else 1
        for a, b in zip(truth["image_id_a"], truth["image_id_b"])
    )
    return {
        "caption_truth_pairs": int(len(truth)),
        "caption_recall": round(1 - n_missing / len(truth), 6),
        "caption_edges_emitted": int(len(got)),
        "caption_stage_wall_sec": round(wall, 1),
        "caption_sig_scan_sec": round(sig_scan, 1),
    }


def main() -> None:
    import bench_scaling
    from arhivum_spark import datagen
    from arhivum_spark.config import DedupConfig
    from arhivum_spark.plans.image_dedup import run_pipeline
    from arhivum_spark.session import get_spark
    from arhivum_spark.sources.checkpoints import StageStore

    os.environ.setdefault(
        "SPARK_LOCAL_DIRS", os.path.join(WORKDIR, "spark_local")
    )
    bench_scaling.N_IMAGES = N_IMAGES
    # SPARK_GRAFT_RECALL_INPUT: comma-separated parquet paths of an
    # EXISTING corpus for this N (e.g. bench_disk_scale.py's
    # location-split disk+tmpfs halves) — skips generate_input
    custom = os.environ.get("SPARK_GRAFT_RECALL_INPUT")
    input_paths = (
        custom.split(",") if custom else [bench_scaling.generate_input()]
    )

    p = datagen.GenParams(n=N_IMAGES, seed=42, img_hw=IMG_HW)

    if os.environ.get("SPARK_GRAFT_RECALL_CAPTIONS_ONLY"):
        # caption-stage gate alone (the pipeline dup-pair gate at this N
        # already measured in its own window — don't redo ~10 min of
        # pipeline to re-derive a number BENCH.md already carries)
        spark = get_spark(
            f"caprecall_{CORES}", cores=CORES, shuffle_partitions=4 * CORES
        )
        result = {
            "metric": "caption_pair_recall_at_bench_scale",
            "n_images": N_IMAGES,
            "cores": CORES,
        }
        result.update(
            caption_recall(
                spark, spark.read.parquet(*input_paths), p, WORKDIR
            )
        )
        spark.stop()
        print(json.dumps(result))
        return

    truth = datagen.truth_clusters(p)

    spark = get_spark(
        f"recall_{CORES}", cores=CORES, shuffle_partitions=4 * CORES
    )
    images = spark.read.parquet(*input_paths)
    stage_root = os.path.join(WORKDIR, "stages_recall")
    shutil.rmtree(stage_root, ignore_errors=True)
    t0 = time.time()
    # SPARK_GRAFT_RECALL_CAP: override max_pairs_per_band. Kept for cap
    # attribution experiments; NOTE the split-cluster mechanism turned
    # out to be hub election in same-slice collider buckets, not the
    # caps (occupancy probe, BENCH.md round 5 — splits 0/10/137 -> 0 at
    # the default cap; the phash-gated bucket-local pairs of
    # lsh.salted_candidate_edges now close it).
    cap_env = os.environ.get("SPARK_GRAFT_RECALL_CAP")
    cfg = (
        DedupConfig(max_pairs_per_band=int(cap_env))
        if cap_env
        else DedupConfig()
    )
    out = run_pipeline(images, StageStore(spark, stage_root), cfg)
    pred = out.select("image_id", "cluster_id").toPandas()
    wall = time.time() - t0
    shutil.rmtree(stage_root, ignore_errors=True)
    n_clusters = pred["cluster_id"].nunique()
    spark.stop()

    merged = truth.merge(
        pred, on="image_id", how="left", suffixes=("_t", "_p")
    )
    assert merged["cluster_id_p"].notna().all(), "pipeline lost truth rows"
    total = pair_count(merged.groupby("cluster_id_t").size().values)
    hit = pair_count(
        merged.groupby(["cluster_id_t", "cluster_id_p"]).size().values
    )
    recall = hit / total if total else 1.0

    # precision counterpart over the truth-covered rows: of predicted
    # same-cluster pairs among truth rows, how many are truth pairs
    pred_pairs = pair_count(merged.groupby("cluster_id_p").size().values)
    precision = hit / pred_pairs if pred_pairs else 1.0

    per_t = merged.groupby("cluster_id_t")["cluster_id_p"].nunique()
    # Split-cluster diagnosis: which truth clusters split, and what KIND
    # of derivative (exact / reenc / perturb / black) got separated —
    # printed to stderr so the JSON stdout line stays parseable.
    if (per_t > 1).any():
        import sys

        b = datagen._bounds(p)

        def kind(idx: int) -> str:
            for name, (lo, hi) in b.items():
                if lo <= idx < hi:
                    return name
            return "?"

        split_rows = merged[
            merged["cluster_id_t"].isin(per_t[per_t > 1].index)
        ]
        for t_id, grp in split_rows.groupby("cluster_id_t"):
            # minority members = the ones the pipeline separated
            maj = grp["cluster_id_p"].mode().iloc[0]
            lost = grp[grp["cluster_id_p"] != maj]["image_id"]
            kinds = sorted(kind(int(i.split("-")[1])) for i in lost)
            print(
                f"SPLIT {t_id} size={len(grp)} lost={len(lost)} "
                f"kinds={kinds[:8]}",
                file=sys.stderr,
            )
    result = {
        "metric": "dup_pair_recall_at_bench_scale",
        "n_images": N_IMAGES,
        "cores": CORES,
        "max_pairs_per_band": cfg.max_pairs_per_band,
        "truth_rows": int(len(truth)),
        "truth_pairs": total,
        "recall": round(recall, 6),
        "precision_on_truth_rows": round(precision, 6),
        "split_truth_clusters": int((per_t > 1).sum()),
        "truth_clusters": int(per_t.size),
        "clusters": int(n_clusters),
        "pipeline_wall_sec": round(wall, 1),
    }
    if os.environ.get("SPARK_GRAFT_RECALL_CAPTIONS"):
        spark2 = get_spark(
            f"caprecall_{CORES}", cores=CORES, shuffle_partitions=4 * CORES
        )
        result.update(
            caption_recall(
                spark2, spark2.read.parquet(*input_paths), p, WORKDIR
            )
        )
        spark2.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
