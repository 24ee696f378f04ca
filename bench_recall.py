"""Dup-pair and caption-pair recall vs planted truth on the bench corpus.

The recall >= 0.99 gate runs in pytest on a ~2k-row corpus
(tests/test_pipeline_recall.py::test_recall_gate). This bench runs the
same computation on the bench corpus (bench_common's corpus spec): one
timed job (pipeline + caption stage, after the same UDF-worker warm-up as
bench.py and bench_scaling.py), then recall of
`datagen.truth_clusters` over the committed s4 table and of
`datagen.truth_caption_pairs` over the committed s5 edges.

Prints one JSON line:  python bench_recall.py
"""

from __future__ import annotations

import json
import os
import shutil

import bench_common as bc
from bench_common import pair_count  # noqa: F401  (perfbench imports it here)


def caption_recall(truth, captions, got) -> float:
    """Share of truth caption pairs the emitted edges cover. The caption
    stage collapses identical captions to their min-id representative
    (boilerplate skew guard), so a truth pair (a, b) also counts when it
    is linked through both ends' representatives, as in
    tests/test_pipeline_recall.py::test_caption_pairs_cover_planted_caption_dups."""
    got_set = set(zip(got["id_a"], got["id_b"])) | set(zip(got["id_b"], got["id_a"]))
    rep = captions.groupby("caption")["image_id"].min()
    id_rep = dict(zip(captions["image_id"], captions["caption"].map(rep)))

    def covered(a: str, b: str) -> bool:
        if (a, b) in got_set:
            return True
        ra, rb = id_rep[a], id_rep[b]
        return (
            (a == ra or (a, ra) in got_set)
            and (b == rb or (b, rb) in got_set)
            and (ra == rb or (ra, rb) in got_set)
        )

    hits = sum(covered(a, b) for a, b in zip(truth["image_id_a"], truth["image_id_b"]))
    return hits / len(truth)


def main() -> None:
    from arhivum_spark import datagen
    from arhivum_spark.sources.checkpoints import StageStore

    p = bc.params()
    caption_truth = datagen.truth_caption_pairs(p)
    if len(caption_truth) == 0:
        raise SystemExit(
            f"caption truth is empty at n={p.n} (the caption cohort rounds "
            "to zero rows) — raise SPARK_GRAFT_SCALE_IMAGES"
        )
    spark = bc.session("recall")
    images = spark.read.parquet(bc.corpus(spark))
    bc.warm_up(images)
    stage_root = os.path.join(bc.WORKDIR, "stages_recall")
    shutil.rmtree(stage_root, ignore_errors=True)
    run = bc.timed_job(spark, images, stage_root)
    store = StageStore(spark, stage_root)
    pred = store.read("s4_clusters").select("image_id", "cluster_id").toPandas()
    got = store.read("s5_captions").select("id_a", "id_b").toPandas()
    captions = images.select("image_id", "caption").toPandas()
    spark.stop()
    shutil.rmtree(stage_root, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "dup_pair_recall_at_bench_scale",
                "n_images": p.n,
                "cores": bc.cores(),
                **bc.dup_pair_recall(datagen.truth_clusters(p), pred),
                "clusters": run["clusters"],
                "cluster_xor": run["cluster_xor"],
                "caption_xor": run["caption_xor"],
                "pipeline_wall_sec": run["wall_sec"],
                "stage_sec": run["stage_sec"],
                "caption_truth_pairs": int(len(caption_truth)),
                "caption_recall": caption_recall(caption_truth, captions, got),
                "caption_edges_emitted": int(len(got)),
            }
        )
    )


if __name__ == "__main__":
    main()
