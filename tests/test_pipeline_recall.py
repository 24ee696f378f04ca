"""End-to-end image dedup pipeline: recall >= 0.99 gate, per-row invariants,
and resume-from-checkpoint semantics (SURVEY.md §5 test plan items 4-6)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arhivum_spark import codec, datagen
from arhivum_spark.config import DedupConfig
from arhivum_spark.plans.image_dedup import STAGES, caption_pairs, run_pipeline
from arhivum_spark.functions.signatures import attach_signatures
from arhivum_spark.session import ARROW_BATCH_FOR_BINARY
from arhivum_spark.sources.checkpoints import StageStore
from tests.conftest import run_counting_jobs

P = datagen.GenParams(n=2000, seed=42, img_hw=64)
CFG = DedupConfig()
# lossy re-encode roundtrip invariant: same content decodes >= 40 dB
ROUNDTRIP_MIN_DB = 40.0


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


def test_psnr_batches_reproduce_committed_s3b(images, clusters, monkeypatch):
    """The hash-batched PSNR path on realistic data: re-verifying the
    committed s3 snapshot in 3+ batches (the driver-side bound lowered)
    yields exactly the committed single-batch s3b snapshot (same edges,
    same psnr_db)."""
    from arhivum_spark.plans.image_dedup import psnr_verify_edges

    _, store = clusters
    cand = store.read("s3_candidates")
    n = cand.count()
    bound = n // 3
    assert bound >= 1 and -(-n // bound) >= 3

    def scored(df):
        return {(r.src, r.dst, r.psnr_db) for r in df.collect()}

    monkeypatch.setattr(DedupConfig, "psnr_max_inflight_edges", bound)
    batched = psnr_verify_edges(cand, images, CFG)
    assert scored(batched) == scored(store.read("s3b_psnr"))


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
                assert codec.psnr(src, dec) >= ROUNDTRIP_MIN_DB
        elif cohort == "reenc":
            src = datagen.base_pixels(datagen.base_of(i, P), P)
            assert codec.psnr(src, dec) >= ROUNDTRIP_MIN_DB


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
    batch to ARROW_BATCH_FOR_BINARY rows for every scan it performs — and
    (round 5, ADVICE) restore the prior session value on return so
    unrelated queries sharing the session keep wide scan batches."""
    from arhivum_spark.plans import image_dedup as mod

    key = "spark.sql.parquet.columnarReaderBatchSize"
    seen: list[str] = []
    real_stages = mod._run_pipeline_stages

    def spy(images_df, store_arg, cfg_arg, captions):
        seen.append(spark.conf.get(key))
        return real_stages(images_df, store_arg, cfg_arg, captions)

    monkeypatch.setattr(mod, "_run_pipeline_stages", spy)
    store = StageStore(spark, str(tmp_path_factory.mktemp("rbstages")))
    spark.conf.set(key, "4096")
    run_pipeline(images.limit(50), store, CFG)
    # pinned while the pipeline's scans run ...
    assert seen == [str(ARROW_BATCH_FOR_BINARY)]
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
    entries = StageStore(spark, root)._manifest()["stages"]
    assert sum(entries["s1_signatures"]["files"].values()) == small.n


SMALL = datagen.GenParams(n=300, seed=42, img_hw=64)


@pytest.fixture(scope="module")
def small_images(spark):
    df = datagen.images_df(spark, SMALL, partitions=4)
    df.cache().count()
    return df


def _poison(*_a, **_kw):
    raise AssertionError("the caption stage was recomputed")


def test_run_pipeline_commits_captions_beside_image_stages(
    spark, small_images, tmp_path, monkeypatch
):
    """run_pipeline commits s5 itself, on a thread whose jobs carry the
    caller's job group; a later caption_pairs on the same store reads
    that snapshot back without computing, and the snapshot equals a
    sequential caption_pairs run on a fresh store."""
    from arhivum_spark.operators import dedup_text

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"caller-{tmp_path.name}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    store = StageStore(spark, str(tmp_path / "overlap"))
    sc.setJobGroup(group, group)
    try:
        run_pipeline(small_images, store, CFG)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert tracker.getJobIdsForGroup(group)

    assert store.is_committed("s5_captions")
    assert store.stage_log["s5_captions"]["reused"] is False
    logged = dict(store.stage_log)
    sigs = store.read("s1_signatures")
    with monkeypatch.context() as m:
        m.setattr(dedup_text, "simhash_near_pairs", _poison)
        m.setattr(dedup_text, "substring_pairs", _poison)
        overlapped = caption_pairs(sigs, store, CFG).toPandas()
    assert store.stage_log == logged

    sequential = caption_pairs(
        sigs, StageStore(spark, str(tmp_path / "sequential")), CFG
    ).toPandas()
    assert len(overlapped) > 0
    cols = ["id_a", "id_b", "pair_class"]
    pd.testing.assert_frame_equal(
        overlapped.sort_values(cols).reset_index(drop=True),
        sequential.sort_values(cols).reset_index(drop=True),
    )


def test_every_stage_entry_records_its_file_rows(spark, small_images, tmp_path):
    """Each committed stage's manifest entry is its one commit record:
    ``files`` names exactly the snapshot's part files, and their rows
    add up to what a read of the snapshot counts. s5 commits from
    run_pipeline's worker thread, so its entry and s4's both surviving
    the locked read-modify-write is checked too."""
    import os

    root = str(tmp_path / "stages")
    store = StageStore(spark, root)
    run_pipeline(small_images, store, CFG)
    entries = store._manifest()["stages"]
    assert set(entries) == set(STAGES)
    for stage in STAGES:
        data = os.path.join(root, stage, "data")
        files = entries[stage]["files"]
        assert set(files) == {f for f in os.listdir(data) if f.endswith(".parquet")}
        assert sum(files.values()) == store.read(stage).count(), stage
    # nothing but the stages and the manifest: no second commit record
    assert set(os.listdir(root)) == {*STAGES, "manifest.json", "manifest.json.lock"}


class _InputRecordingStore(StageStore):
    """StageStore that records the input files of each frame it commits."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.inputs: dict[str, list[str]] = {}

    def write(self, stage, df, metrics=True, materialize_first=False):
        self.inputs[stage] = df.inputFiles()
        return super().write(stage, df, metrics, materialize_first)


def test_cluster_stage_reads_only_s2_and_s3b(spark, small_images, tmp_path):
    """s4 takes each row's fmt and content_sha256 from s2, so the frame
    it commits scans the s2 snapshot and none of the s1 signatures."""
    store = _InputRecordingStore(spark, str(tmp_path / "stages"))
    run_pipeline(small_images, store, CFG, captions=False)
    stages = {f.split("/")[-3] for f in store.inputs["s4_clusters"]}
    assert "s2_exact" in stages
    assert stages <= {"s2_exact", "s3b_psnr"}, stages


@pytest.fixture(scope="module")
def image_stages_root(spark, small_images, tmp_path_factory):
    """A root where run_pipeline(captions=False) committed s1..s4."""
    root = str(tmp_path_factory.mktemp("image_only"))
    run_pipeline(small_images, StageStore(spark, root), CFG, captions=False)
    return root


def test_captions_false_commits_no_caption_stage(spark, image_stages_root):
    store = StageStore(spark, image_stages_root)
    assert all(store.is_committed(s) for s in STAGES if s != "s5_captions")
    assert not store.is_committed("s5_captions")


def test_caption_error_surfaces_and_image_error_wins(
    spark, small_images, image_stages_root, tmp_path, monkeypatch
):
    """An s5 error is raised from run_pipeline; when s4 fails too, the s4
    error is raised, with the s5 error chained in its context, and the
    s5 thread has finished by then."""
    import shutil
    import threading

    from arhivum_spark.operators import dedup_text
    from arhivum_spark.plans import image_dedup as mod

    def caption_boom(*_a, **_kw):
        raise ValueError("s5 boom")

    def cluster_boom(*_a, **_kw):
        raise RuntimeError("s4 boom")

    monkeypatch.setattr(dedup_text, "simhash_near_pairs", caption_boom)
    root = str(tmp_path / "stages")
    shutil.copytree(image_stages_root, root)
    with pytest.raises(ValueError, match="s5 boom"):
        run_pipeline(small_images, StageStore(spark, root), CFG)

    store = StageStore(spark, root)
    m = store._manifest()
    del m["stages"]["s4_clusters"]
    store._commit_manifest(m)
    monkeypatch.setattr(mod, "connected_components", cluster_boom)
    with pytest.raises(RuntimeError, match="s4 boom") as err:
        run_pipeline(small_images, StageStore(spark, root), CFG)
    chain, e = [], err.value
    while e is not None:
        chain.append(e)
        e = e.__context__
    assert any(str(c) == "s5 boom" for c in chain)
    assert not any(t.name == "s5_captions" for t in threading.enumerate())
    assert not store.is_committed("s5_captions")
