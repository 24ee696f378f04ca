"""Stage checkpoints + manifest: the resumability contract.

The reference achieves multi-day resumability by writing durable JSON
batches and re-uploading them idempotently (OutputService.java:73-99,
UploadCommand.java:108-127). The Spark-native equivalent is: every pipeline
stage commits its output as an immutable snapshot (Iceberg table on a real
cluster; parquet directory + atomic manifest update here, since this image
lacks Iceberg jars), and a rerun skips any stage whose snapshot is already
committed — resume-mid-pipeline after executor/driver loss.

Commit protocol: write parquet to `<dir>/<stage>/data` (Spark's own job
commit makes the directory complete-or-absent via _SUCCESS), then record the
stage in `manifest.json` atomically (write tmp + os.replace) under an
exclusive flock on `manifest.json.lock` — every manifest read-modify-write
(write() and prune()) takes the lock, so two concurrent pipelines sharing a
stage root cannot lose each other's entries to a lost update. (On a real
cluster the same role is played by the object store's conditional put /
Iceberg's atomic metadata swap.) A stage is "committed" only if both the
manifest entry and `_SUCCESS` exist.

Shared-filesystem caveat: flock is advisory and only as strong as the
filesystem's lock support. Several drivers on different hosts resuming
from one stage root need cross-host advisory locks (e.g. NFSv4); on NFSv3
without a lock manager, or a mount that ignores flock, they can lose each
other's manifest entries. One driver per stage root is always safe.

The manifest entry is a stage's one commit record. Beside `committed_at`
and `write_seconds` it keeps the per-partition metrics (north rule):
`files` maps each part file of the committed snapshot to its row count,
read from the parquet footers on the driver, as an Iceberg manifest keeps
per-data-file record counts. One locked swap commits them all. Entries
written before `files` was recorded still count as committed.

Each store also keeps `stage_log`, what THIS instance did, in commit
order: a stage it committed maps to the seconds written to its manifest
entry, a stage it reused to 0.0 with `reused` set. A run reports its own
cost from it; the manifest keeps the original commit's seconds. Stages
that run on different threads land in the order they commit: the image
pipeline's s5 runs beside s2..s4, so its entry can fall anywhere after
s1. A stage already in the log is returned by `read_or_compute` as a
plain read, with the log left as it is.

Each manifest entry also records the written frame's schema, so reading
a snapshot back (after a write, or on resume) needs no schema-inference
job; entries written before the schema was recorded fall back to
inference.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class StageStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._compute_started: dict[str, float] = {}
        self.stage_log: dict[str, dict] = {}
        os.makedirs(root, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"stages": {}}

    def _commit_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    @contextmanager
    def _manifest_lock(self):
        """Exclusive advisory lock for manifest read-modify-write.

        flock is per-open-file and released on close, so a crashed
        holder never wedges the store; lock scope is the manifest swap
        only (milliseconds), never a data write. Cross-host: see the
        module docstring's shared-filesystem caveat."""
        with open(self._manifest_path + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _committed_entry(self, stage: str) -> dict | None:
        """The stage's manifest entry if the stage is committed (entry
        and ``data/_SUCCESS`` both exist), else None."""
        entry = self._manifest()["stages"].get(stage)
        if entry and os.path.exists(
            os.path.join(self.root, stage, "data", "_SUCCESS")
        ):
            return entry
        return None

    def is_committed(self, stage: str) -> bool:
        return self._committed_entry(stage) is not None

    def write(
        self,
        stage: str,
        df: DataFrame,
        metrics: bool = True,
        materialize_first: bool = False,
    ) -> DataFrame:
        """Commit a stage snapshot (idempotent overwrite) and return a reader
        of the committed data — downstream reads the snapshot, not the
        lineage, so a failure downstream never recomputes this stage.

        metrics: record the snapshot's per-file rows (``files``) in the
        manifest entry.

        materialize_first: persist+count before the file write. Needed for
        pandas-UDF stages only — fusing a UDF stage into the parquet-write
        task interacts badly with Arrow batch streaming (measured 3-5x
        slower + high variance in local mode). Pure-JVM stages write
        directly: one pass, half the constant cost.
        """
        path = os.path.join(self.root, stage, "data")
        # the recorded seconds start at read_or_compute's compute() call,
        # so they include the eager work inside it (counts, checkpoints)
        t0 = self._compute_started.pop(stage, None) or time.time()
        if materialize_first:
            df = df.persist()
            df.count()
        df.write.mode("overwrite").parquet(path)
        elapsed = round(time.time() - t0, 3)
        if materialize_first:
            df.unpersist()
        entry = {
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "write_seconds": elapsed,
            "schema": df.schema.json(),
        }
        if metrics:
            entry["files"] = _file_rows(path)
        with self._manifest_lock():
            m = self._manifest()
            m["stages"][stage] = entry
            self._commit_manifest(m)
        self.stage_log[stage] = {"write_seconds": elapsed, "reused": False}
        return self._read(stage, entry)

    def read(self, stage: str) -> DataFrame:
        return self._read(stage, self._manifest()["stages"].get(stage, {}))

    def _read(self, stage: str, entry: dict) -> DataFrame:
        """The committed snapshot, under the schema its manifest entry
        records (no schema-inference job); inferred when it has none."""
        reader = self.spark.read
        if "schema" in entry:
            reader = reader.schema(StructType.fromJson(json.loads(entry["schema"])))
        return reader.parquet(os.path.join(self.root, stage, "data"))

    def read_or_compute(
        self, stage: str, compute, materialize_first: bool = False
    ) -> DataFrame:
        """Resume point: reuse the committed snapshot, else compute+commit.
        A stage this instance already committed or reused is read back
        and left in the log as it is."""
        if stage in self.stage_log:
            return self.read(stage)
        entry = self._committed_entry(stage)
        if entry is not None:
            self.stage_log[stage] = {"write_seconds": 0.0, "reused": True}
            return self._read(stage, entry)
        t0 = time.time()
        df = compute()
        self._compute_started[stage] = t0
        return self.write(stage, df, materialize_first=materialize_first)

    def prune(self, min_age_seconds: float = 3600.0) -> dict:
        """Manifest-led GC (retention story — at production scale the
        stage store IS the Iceberg table and this is `expire_snapshots`):

        ABANDONED stage roots — directories with no manifest entry or no
        ``data/_SUCCESS`` (a write that died mid-job; Spark's job commit
        makes complete-or-absent per directory, but the directory itself
        survives a driver kill) — are deleted, along with any dangling
        manifest entry. A rerun recomputes them; a committed stage is
        NEVER touched, so a pruned store resumes exactly like an
        unpruned one (test-gated).

        An uncommitted root is only "abandoned" once its tree has been
        QUIET for ``min_age_seconds`` (newest mtime over dirs AND files
        — a live Spark write refreshes dir mtimes as task files land in
        ``data/_temporary``, and file mtimes while long tasks stream
        into already-created part files): pruning a store that another
        pipeline is
        actively writing into must not rmtree the stage mid-job, nor
        race the window inside ``write()`` between the parquet
        ``_SUCCESS`` commit and the manifest swap. The manifest update
        itself is race-safe regardless of the window: it takes the
        store's flock, re-reads the manifest, and applies only the
        recorded deletions, so a stage committed by a concurrent
        ``write()`` (which takes the same lock) during the mtime walks
        is never clobbered. Pass ``min_age_seconds=0`` only when the
        store is known quiescent.

        Returns {"stages": [removed stage roots]} for operator logging.
        """
        def _newest_mtime(path: str) -> float | None:
            # stat FILES as well as directories: a live write whose tasks
            # stream into already-created part files for longer than
            # min_age_seconds changes no directory entries — dir mtimes
            # alone would call it quiet and rmtree an in-progress stage.
            # Returns None when the root vanishes mid-walk (a concurrent
            # prune or cleanup script) — the caller skips it rather than
            # crashing after some roots were already removed.
            try:
                newest = os.stat(path).st_mtime
            except OSError:
                return None
            for dirpath, dirnames, filenames in os.walk(path):
                for name in (*dirnames, *filenames):
                    try:
                        newest = max(
                            newest,
                            os.stat(os.path.join(dirpath, name)).st_mtime,
                        )
                    except OSError:
                        pass
            return newest

        removed: dict = {"stages": []}
        now = time.time()
        snapshot = self._manifest()
        for entry in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, entry)
            if not os.path.isdir(p):
                continue
            # committed = manifest snapshot entry + _SUCCESS on disk (no
            # per-entry manifest re-parse: the lost-update safety comes
            # from the locked re-read at commit below, not from here)
            committed = entry in snapshot["stages"] and os.path.exists(
                os.path.join(p, "data", "_SUCCESS")
            )
            if not committed:
                newest = _newest_mtime(p)
                if newest is None or now - newest < min_age_seconds:
                    continue  # possibly a live write — leave it alone
                shutil.rmtree(p, ignore_errors=True)
                removed["stages"].append(entry)
        # manifest entries whose directories vanished entirely
        for stage in [
            s
            for s in snapshot["stages"]
            if not os.path.isdir(os.path.join(self.root, s))
        ]:
            if stage not in removed["stages"]:
                removed["stages"].append(stage)
        if removed["stages"]:
            # LOCKED re-read + apply only the recorded deletions:
            # committing the snapshot taken at prune start would clobber
            # any entry a concurrent write() committed during the (slow)
            # mtime walks above — the quiet-window guard protects the
            # rmtree; the lock + re-read protect the manifest swap.
            with self._manifest_lock():
                m = self._manifest()
                for stage in removed["stages"]:
                    # a vanished-dir entry may have been re-created and
                    # re-committed meanwhile — only drop it if still
                    # dirless
                    if not os.path.isdir(os.path.join(self.root, stage)):
                        m["stages"].pop(stage, None)
                self._commit_manifest(m)

        return removed


def _file_rows(path: str) -> dict[str, int]:
    """Rows per part file of the COMMITTED snapshot (what a resume reads,
    not the in-memory plan's partitioning), from the parquet footers on
    the driver — no Spark job; stage dirs have O(cores) files. On a real
    cluster the same footers come from the object store listing."""
    return {
        fn: pq.read_metadata(os.path.join(path, fn)).num_rows
        for fn in sorted(os.listdir(path))
        if fn.endswith(".parquet")
    }
