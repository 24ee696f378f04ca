"""StageStore (sources/checkpoints.py): the per-run stage log, the
manifest's seconds, prune's retention and race safety, and the manifest
lock."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from arhivum_spark.sources.checkpoints import StageStore
from tests.conftest import run_counting_jobs


def test_stage_log_is_this_store_only(spark, tmp_path):
    """stage_log holds what ONE store did, in commit order: a stage it
    computed with exactly its manifest write_seconds, a stage it reused
    with 0.0 and the reused mark. A stage another store committed to the
    same root, and this one never touched, is not in it."""
    root = str(tmp_path / "store")
    first = StageStore(spark, root)
    first.read_or_compute("a", lambda: spark.range(3))
    first.write("b", spark.range(4))
    first.read_or_compute("c", lambda: spark.range(5))
    with open(os.path.join(root, "manifest.json")) as f:
        manifest = json.load(f)["stages"]
    assert first.stage_log == {
        s: {"write_seconds": manifest[s]["write_seconds"], "reused": False}
        for s in ("a", "b", "c")
    }
    assert list(first.stage_log) == ["a", "b", "c"]

    def poisoned():
        raise AssertionError("a committed stage was recomputed")

    second = StageStore(spark, root)
    second.read_or_compute("c", poisoned)
    second.read_or_compute("a", poisoned)
    assert list(second.stage_log) == ["c", "a"]
    assert all(
        e == {"write_seconds": 0.0, "reused": True}
        for e in second.stage_log.values()
    )
    assert "b" in manifest and "b" not in second.stage_log

    # a stage already in the log reads back as is: no recompute, and a
    # stage this store computed is not re-marked reused
    before = dict(first.stage_log)
    assert first.read_or_compute("a", poisoned).count() == 3
    assert second.read_or_compute("c", poisoned).count() == 5
    assert first.stage_log == before and list(first.stage_log) == ["a", "b", "c"]
    assert list(second.stage_log) == ["c", "a"]


def test_concurrent_commits_lose_no_stage(spark, tmp_path):
    """Stages committed at once from several threads through one store
    (the image pipeline commits s5 beside s2..s4) all land in the
    manifest and the log: the manifest swap is locked, and the log's
    per-stage entries do not collide."""
    import sys
    import threading

    store = StageStore(spark, str(tmp_path / "store"))
    stages = [f"t{i}" for i in range(8)]
    errors: list[BaseException] = []

    def commit(stage: str) -> None:
        try:
            store.read_or_compute(stage, lambda: spark.range(len(stage)))
        except BaseException as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=commit, args=(s,)) for s in stages]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert set(store._manifest()["stages"]) == set(stages)
    assert set(store.stage_log) == set(stages)
    assert all(store.is_committed(s) for s in stages)


def test_stage_reads_skip_schema_inference(spark, tmp_path):
    """write() records the frame's schema in the stage's manifest entry,
    so the snapshot it returns and every later read() (a resume) carry
    the schema inference would give, without starting a Spark job. An
    entry written before the schema was recorded is read by inference."""
    root = str(tmp_path / "store")
    df = (
        spark.range(20)
        .withColumn("ids", F.array(F.lit(1), F.col("id")))
        .withColumn("s", F.struct(F.col("id").cast("string").alias("t")))
        .withColumn("b", F.lit(None).cast("binary"))
    )
    store = StageStore(spark, root)
    written = store.write("x", df)
    inferred = spark.read.parquet(os.path.join(root, "x", "data")).schema
    assert written.schema == inferred

    resumed, jobs = run_counting_jobs(
        spark, lambda: StageStore(spark, root).read("x").schema
    )
    assert resumed == inferred
    assert jobs == 0
    assert StageStore(spark, root).read("x").count() == 20

    m = store._manifest()
    del m["stages"]["x"]["schema"]
    store._commit_manifest(m)
    old, jobs = run_counting_jobs(
        spark, lambda: StageStore(spark, root).read("x").schema
    )
    assert old == inferred
    assert jobs >= 1  # the inference job the recorded schema saves


def test_entry_without_files_resumes_with_one_manifest_parse(
    spark, tmp_path, monkeypatch
):
    """An entry written before per-file rows were recorded (no ``files``)
    still counts as committed and resumes with no recompute, and a resume
    lookup parses the manifest once for both the commit check and the
    schema it reads back under."""
    root = str(tmp_path / "store")
    store = StageStore(spark, root)
    store.write("x", spark.range(7))
    m = store._manifest()
    assert sum(m["stages"]["x"].pop("files").values()) == 7
    store._commit_manifest(m)

    def poisoned():
        raise AssertionError("a committed stage was recomputed")

    resumed = StageStore(spark, root)
    parses = []
    real_manifest = resumed._manifest
    monkeypatch.setattr(
        resumed, "_manifest", lambda: parses.append(1) or real_manifest()
    )
    df = resumed.read_or_compute("x", poisoned)
    assert len(parses) == 1
    assert resumed.stage_log["x"] == {"write_seconds": 0.0, "reused": True}
    assert df.count() == 7


def test_stage_store_prune_keeps_resume(spark, tmp_path):
    """VERDICT_r04 task 7: prune() must delete abandoned stage roots
    (no _SUCCESS / dangling manifest entries) — and a pruned store must
    resume exactly like an unpruned one (committed snapshots
    untouched)."""
    import json
    import os

    from arhivum_spark.sources.checkpoints import StageStore

    root = str(tmp_path / "store")
    store = StageStore(spark, root)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    store.write("s1", df)
    store.write("s1", df)  # rerun overwrite
    store.write("s2", df.filter("id < 50"))

    # abandoned root WITH a manifest entry but no _SUCCESS (driver killed
    # between job start and commit)
    os.makedirs(os.path.join(root, "s3", "data"))
    m = store._manifest()
    m["stages"]["s3"] = {"committed_at": "never", "write_seconds": 0}
    store._commit_manifest(m)
    # orphan root with NO manifest entry
    os.makedirs(os.path.join(root, "s4", "data"))

    # default grace window: freshly-touched uncommitted roots are a
    # possibly-live write and must NOT be reaped
    untouched = store.prune()
    assert untouched["stages"] == []
    assert os.path.isdir(os.path.join(root, "s3"))
    assert os.path.isdir(os.path.join(root, "s4"))

    removed = store.prune(min_age_seconds=0)
    assert set(removed["stages"]) == {"s3", "s4"}
    assert not os.path.exists(os.path.join(root, "s3"))
    assert not os.path.exists(os.path.join(root, "s4"))
    with open(os.path.join(root, "manifest.json")) as f:
        assert set(json.load(f)["stages"]) == {"s1", "s2"}

    # a pruned store still resumes: committed stages read back with no
    # recompute; the abandoned stage recomputes cleanly
    store2 = StageStore(spark, root)
    calls = []

    def poisoned():
        calls.append(1)
        return df

    assert store2.read_or_compute("s1", poisoned).count() == 100
    assert store2.read_or_compute("s2", poisoned).count() == 50
    assert calls == []
    assert store2.read_or_compute("s3", lambda: df.limit(7)).count() == 7
    # prune with everything healthy is a no-op
    assert store2.prune()["stages"] == []


def test_stage_seconds_include_compute(spark, tmp_path):
    """The manifest entry's write_seconds (the CLI's stage_seconds)
    cover the eager work inside compute(), not only the parquet write
    after it."""
    import json
    import time

    from arhivum_spark.sources.checkpoints import StageStore

    store = StageStore(spark, str(tmp_path))
    # a first write warms the parquet writer, so the slow stage's own
    # write takes well under the 0.5 s sleep
    store.read_or_compute("warm", lambda: spark.range(3))

    def compute():
        time.sleep(0.5)
        return spark.range(3)

    store.read_or_compute("slow", compute)
    with open(tmp_path / "manifest.json") as f:
        assert json.load(f)["stages"]["slow"]["write_seconds"] >= 0.5


def test_prune_does_not_clobber_concurrent_commit(spark, tmp_path):
    """prune() re-reads the manifest immediately before its commit and
    applies only the recorded deletions: a stage committed by a
    concurrent write() AFTER prune's initial manifest snapshot (during
    the slow mtime walks) must survive. Committing the stale snapshot
    would un-commit the stage — the next resume recomputes it and a
    later prune reaps the good data as abandoned. The race is injected
    through is_committed(), which prune calls once per stage root after
    taking its snapshot."""
    import json
    import os

    from arhivum_spark.sources.checkpoints import StageStore

    root = str(tmp_path / "store")
    store = StageStore(spark, root)
    df = spark.range(10)
    store.write("s_live", df)
    # abandoned root (no manifest entry, no _SUCCESS) so prune has a
    # deletion to record — the manifest-commit path must still run
    os.makedirs(os.path.join(root, "s_dead", "data"))

    # injection point: prune's rmtree of the abandoned root — it fires
    # AFTER the manifest snapshot and walks, BEFORE the locked manifest
    # commit (the exact window the re-read protects). (The old hook,
    # per-entry is_committed, is no longer called by prune.)
    from arhivum_spark.sources import checkpoints as cp

    real_rmtree = cp.shutil.rmtree
    state = {"fired": False}

    def racing_rmtree(path, **kw):
        if not state["fired"]:
            state["fired"] = True
            # the concurrent writer: full commit protocol for a NEW stage
            d = os.path.join(root, "s_concurrent", "data")
            os.makedirs(d)
            open(os.path.join(d, "_SUCCESS"), "w").close()
            m = store._manifest()
            m["stages"]["s_concurrent"] = {
                "committed_at": "now", "write_seconds": 0.0,
            }
            store._commit_manifest(m)
        return real_rmtree(path, **kw)

    cp.shutil.rmtree = racing_rmtree
    try:
        removed = store.prune(min_age_seconds=0)
    finally:
        cp.shutil.rmtree = real_rmtree

    assert "s_dead" in removed["stages"]
    with open(os.path.join(root, "manifest.json")) as f:
        stages = set(json.load(f)["stages"])
    assert stages == {"s_live", "s_concurrent"}
    assert store.is_committed("s_concurrent")


def test_prune_survives_root_vanishing_mid_walk(spark, tmp_path):
    """A stage root deleted between prune's listdir and its mtime walk
    (another prune, an external cleanup) must be skipped, not crash the
    pass after some roots were already reaped."""
    import os
    import shutil

    from arhivum_spark.sources.checkpoints import StageStore

    root = str(tmp_path / "store")
    store = StageStore(spark, root)
    store.write("s_live", spark.range(5))
    os.makedirs(os.path.join(root, "s_ghost", "data"))

    # injection point: the first os.stat of the ghost root inside the
    # quiet-window walk — the dir existed at listdir time, vanishes
    # before its mtime check. (The old hook, per-entry is_committed, is
    # no longer called by prune.)
    real_stat = os.stat
    state = {"fired": False}

    def vanishing_stat(path, *a, **kw):
        if not state["fired"] and str(path).endswith("s_ghost"):
            state["fired"] = True
            shutil.rmtree(os.path.join(root, "s_ghost"))
            raise FileNotFoundError(path)
        return real_stat(path, *a, **kw)

    os.stat = vanishing_stat
    try:
        removed = store.prune(min_age_seconds=0)  # must not raise
    finally:
        os.stat = real_stat
    assert "s_ghost" not in removed["stages"]
    assert store.is_committed("s_live")


def test_manifest_lock_is_exclusive(spark, tmp_path):
    import fcntl

    from arhivum_spark.sources.checkpoints import StageStore

    store = StageStore(spark, str(tmp_path / "store"))
    with store._manifest_lock():
        lockp = store._manifest_path + ".lock"
        assert os.path.exists(lockp)
        with open(lockp, "w") as other:
            import pytest as _pytest

            with _pytest.raises(BlockingIOError):
                fcntl.flock(other, fcntl.LOCK_EX | fcntl.LOCK_NB)
    # released on exit
    with open(store._manifest_path + ".lock", "w") as other:
        fcntl.flock(other, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(other, fcntl.LOCK_UN)


def test_prune_quiet_check_sees_file_mtimes(spark, tmp_path):
    """A live write streaming into already-created part files changes no
    directory entries; the quiet-window check must stat files too, or an
    in-progress stage gets reaped as abandoned."""
    import time as _time

    from arhivum_spark.sources.checkpoints import StageStore

    root = tmp_path / "store"
    store = StageStore(spark, str(root))
    stage = root / "s9_live" / "data" / "_temporary"
    stage.mkdir(parents=True)
    part = stage / "part-00000"
    part.write_bytes(b"streaming...")
    # age every DIRECTORY far past the window; keep the FILE fresh
    old = _time.time() - 10_000
    for d in (
        root, root / "s9_live", root / "s9_live" / "data", stage
    ):
        os.utime(d, (old, old))
    removed = store.prune(min_age_seconds=3600)
    assert removed["stages"] == []  # fresh part file means NOT quiet
    assert part.exists()
