"""End-to-end image dedup pipeline: recall >= 0.99 gate, per-row invariants,
and resume-from-checkpoint semantics (SURVEY.md §5 test plan items 4-6)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arhivum_spark import codec, datagen
from arhivum_spark.config import DedupConfig
from arhivum_spark.plans.image_dedup import caption_pairs, run_pipeline
from arhivum_spark.functions.signatures import attach_signatures
from arhivum_spark.sources.checkpoints import StageStore
from tests.conftest import run_counting_jobs

P = datagen.GenParams(n=2000, seed=42, img_hw=64)
CFG = DedupConfig()


@pytest.fixture(scope="module")
def images(spark):
    df = datagen.images_df(spark, P, partitions=8)
    df.cache().count()
    return df


class _JobCountingStore(StageStore):
    """StageStore that records how many Spark jobs each stage starts."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.jobs: dict[str, int] = {}

    def read_or_compute(self, stage, compute, materialize_first=False):
        parent = super().read_or_compute
        out, self.jobs[stage] = run_counting_jobs(
            self.spark, lambda: parent(stage, compute, materialize_first)
        )
        return out


@pytest.fixture(scope="module")
def clusters(spark, images, tmp_path_factory):
    store = _JobCountingStore(spark, str(tmp_path_factory.mktemp("stages")))
    out = run_pipeline(images, store, CFG)
    return out.toPandas(), store


def _pair_recall(truth: pd.DataFrame, pred: pd.DataFrame) -> float:
    """Fraction of truth same-cluster pairs that are same-cluster in pred,
    computed via intersection-subcluster sizes (no pair materialization)."""
    merged = truth.merge(pred, on="image_id", how="left")
    assert merged["cluster_id_y"].notna().all(), "pipeline lost rows"

    def pairs(sizes):
        return float(np.sum(sizes * (sizes - 1) / 2))

    total = pairs(merged.groupby("cluster_id_x").size().values)
    hit = pairs(merged.groupby(["cluster_id_x", "cluster_id_y"]).size().values)
    return hit / total if total else 1.0


def test_recall_gate(clusters):
    pred, _ = clusters
    truth = datagen.truth_clusters(P)
    recall = _pair_recall(
        truth, pred.rename(columns={"cluster_id": "cluster_id"})[
            ["image_id", "cluster_id"]
        ]
    )
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_cluster_stage_job_budget(clusters):
    """s4 is one checkpointed labels frame per CC round (2 on this
    corpus) plus the emit and the snapshot write, and every Spark job
    pays a fixed scheduling cost: the stage gets at most 16 jobs."""
    _, store = clusters
    assert 0 < store.jobs["s4_clusters"] <= 16, store.jobs


def test_exact_byte_dups_share_cluster_and_flag(clusters):
    pred, _ = clusters
    by_id = pred.set_index("image_id")
    lo, hi = datagen._bounds(P)["exact"]
    for i in range(lo, min(lo + 25, hi)):
        a = f"img-{i:010d}"
        b = f"img-{datagen.base_of(i, P):010d}"
        assert by_id.loc[a, "cluster_id"] == by_id.loc[b, "cluster_id"]
    # every cluster elects exactly one non-duplicate representative
    reps = pred[~pred["is_duplicate"]].groupby("cluster_id").size()
    assert (reps == 1).all()
    assert (
        pred.groupby("cluster_id")["representative_id"].nunique() == 1
    ).all()


def test_allblack_skew_cohort_single_cluster(clusters):
    pred, _ = clusters
    n_base = datagen._bounds(P)["base"][1]
    blacks = [f"img-{j:010d}" for j in range(0, n_base, datagen.ALLBLACK_MOD)]
    got = pred[pred["image_id"].isin(blacks)]["cluster_id"].nunique()
    assert got == 1, f"all-black cohort split into {got} clusters"


def test_per_row_invariants_decode_psnr_and_caption(spark, images):
    """input_hint invariants: decoded pixels match the source pixels
    (exactly for lossless, PSNR >= 40 dB for lossy); caption equality for
    byte-identical rows."""
    rows = images.limit(0).schema and images.toPandas()  # full small table
    for _, r in rows.sample(n=200, random_state=0).iterrows():
        i = int(r["image_id"].split("-")[1])
        cohort = datagen.cohort_of(i, P)
        dec = codec.decode(bytes(r["bytes"]))
        if cohort in ("base", "base_tail", "exact"):
            j = i if cohort in ("base", "base_tail") else datagen.base_of(i, P)
            src = datagen.base_pixels(j, P)
            if r["fmt"] == "png":
                assert np.array_equal(dec, src)
            else:
                assert codec.psnr(src, dec) >= CFG.psnr_verify_db
        elif cohort == "reenc":
            src = datagen.base_pixels(datagen.base_of(i, P), P)
            assert codec.psnr(src, dec) >= CFG.psnr_verify_db


def test_caption_pairs_cover_planted_caption_dups(spark, images, tmp_path_factory):
    store = StageStore(spark, str(tmp_path_factory.mktemp("capstages")))
    sigs = attach_signatures(images, CFG)
    got = caption_pairs(sigs, store, CFG).toPandas()
    got_set = set(zip(got["id_a"], got["id_b"])) | set(
        zip(got["id_b"], got["id_a"])
    )
    # the stage emits a COVERING edge set (identical captions collapse to
    # a representative — boilerplate skew guard), so a truth pair (a, b)
    # is covered through rep substitution: a<->rep(a) identity edges must
    # be present, and the rep-level relation must hold
    caps = images.select("image_id", "caption").toPandas()
    rep = caps.groupby("caption")["image_id"].min()
    rep_of = dict(zip(caps["caption"], caps["caption"].map(rep)))
    id_rep = dict(zip(caps["image_id"], caps["caption"].map(rep_of)))

    def covered(a: str, b: str) -> bool:
        if (a, b) in got_set:
            return True
        ra, rb = id_rep[a], id_rep[b]
        linked_a = a == ra or (a, ra) in got_set
        linked_b = b == rb or (b, rb) in got_set
        rep_rel = ra == rb or (ra, rb) in got_set
        return linked_a and linked_b and rep_rel

    truth = datagen.truth_caption_pairs(P)
    missing = [
        (a, b)
        for a, b in zip(truth["image_id_a"], truth["image_id_b"])
        if not covered(a, b)
    ]
    recall = 1 - len(missing) / len(truth)
    assert recall >= 0.99, f"caption-pair recall {recall:.4f}; missing {missing[:5]}"


def test_pipeline_bounds_parquet_reader_batch(
    spark, images, tmp_path_factory, monkeypatch
):
    """Regression (round 4): the parquet vectorized reader reserves
    batch_rows x avg-cell-bytes contiguous PER TASK THREAD; the 4096-row
    default on a ~23 KB/row binary column OOMed a 16 GB heap with 32 task
    threads at 2.4M images. run_pipeline must pin the session's reader
    batch to cfg.parquet_batch_rows for every scan it performs — and
    (round 5, ADVICE) restore the prior session value on return so
    unrelated queries sharing the session keep wide scan batches."""
    from arhivum_spark.plans import image_dedup as mod

    key = "spark.sql.parquet.columnarReaderBatchSize"
    seen: list[str] = []
    real_stages = mod._run_pipeline_stages

    def spy(images_df, store_arg, cfg_arg):
        seen.append(spark.conf.get(key))
        return real_stages(images_df, store_arg, cfg_arg)

    monkeypatch.setattr(mod, "_run_pipeline_stages", spy)
    store = StageStore(spark, str(tmp_path_factory.mktemp("rbstages")))
    spark.conf.set(key, "4096")
    run_pipeline(images.limit(50), store, CFG)
    # pinned while the pipeline's scans run ...
    assert seen == [str(CFG.parquet_batch_rows)]
    # ... and the caller's session value restored afterwards
    assert spark.conf.get(key) == "4096"
    # restore-to-unset when there was no prior value
    spark.conf.unset(key)
    run_pipeline(
        images.limit(20),
        StageStore(spark, str(tmp_path_factory.mktemp("rbstages2"))),
        CFG,
    )
    assert spark.conf.get(key, None) is None


def test_resume_reuses_committed_stages(spark, images, tmp_path_factory):
    """Kill-and-rerun contract: a second run over the same store recomputes
    nothing and returns byte-identical results."""
    root = str(tmp_path_factory.mktemp("resume"))
    small = datagen.GenParams(n=300, seed=42, img_hw=64)
    df = datagen.images_df(spark, small, partitions=4)
    store = StageStore(spark, root)
    out1 = run_pipeline(df, store, CFG).toPandas().sort_values("image_id")
    assert store.is_committed("s1_signatures") and store.is_committed("s4_clusters")

    # rerun with a poisoned images df: if any stage recomputed, it would differ
    poisoned = datagen.images_df(spark, datagen.GenParams(n=10, seed=7), partitions=1)
    out2 = run_pipeline(poisoned, StageStore(spark, root), CFG).toPandas().sort_values(
        "image_id"
    )
    pd.testing.assert_frame_equal(
        out1.reset_index(drop=True), out2.reset_index(drop=True)
    )
    m = StageStore(spark, root).metrics()
    assert m is not None and m.count() > 0


def test_psnr_verify_filters_false_edges(spark):
    """s3b: a lossy re-encode pair survives AND clears the strict 40 dB
    roundtrip invariant; a 5%-blocks-perturbed near-dup survives the edge
    bound; an edge between DIFFERENT images is dropped even if LSH
    proposed it, as is a decoded-shape mismatch."""
    from arhivum_spark.plans.image_dedup import psnr_verify_edges

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    perturbed = base.copy()
    perturbed[:8, :8] = rng.integers(0, 256, size=(8, 8, 3))  # ~6% of blocks
    rows = [
        (1, bytearray(codec.encode_lossless(base))),
        (2, bytearray(codec.encode_lossy(base, 8))),   # re-encode of base
        (3, bytearray(codec.encode_lossless(other))),  # unrelated
        (4, bytearray(codec.encode_lossless(base[:16]))),  # shape mismatch
        (5, bytearray(codec.encode_lossless(perturbed))),  # near-dup
    ]
    images = spark.createDataFrame(rows, ["image_id", "bytes"])
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], ["src", "dst"]
    )
    out = psnr_verify_edges(edges, images, CFG)
    got = {(r.src, r.dst): r.psnr_db for r in out.collect()}
    assert set(got) == {(1, 2), (1, 5)}
    assert got[(1, 2)] >= CFG.psnr_verify_db  # strict roundtrip invariant
    assert got[(1, 5)] >= CFG.psnr_edge_min_db
