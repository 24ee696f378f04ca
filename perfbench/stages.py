"""Per-stage accounting from outside the program.

``TracedStageStore`` is a ``StageStore`` that the benchmark passes into
``run_pipeline`` and ``caption_pairs``. For every stage it records:

- the wall time of the whole ``read_or_compute``, which includes the eager
  work inside ``compute()`` (checkpoints, counts, the CC loop) that
  ``StageStore.write``'s own timer starts too late to see;
- the wall time of ``write`` on its own;
- the stage's Spark counters, by tagging its jobs with ``setJobGroup`` and
  reading them back from ``statusTracker()`` and the status store;
- the rows and bytes of the committed snapshot, read from parquet footers.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from arhivum_spark.sources.checkpoints import StageStore

from harness import MB, SparkCounters, Tracer

STAGES = (
    "s1_signatures",
    "s2_exact",
    "s3_candidates",
    "s3b_psnr",
    "s4_clusters",
    "s5_captions",
)


def snapshot_size(root: str, stage: str) -> tuple[int, float]:
    """(rows, MB on disk) of a committed stage snapshot."""
    data = os.path.join(root, stage, "data")
    rows, size = 0, 0
    for name in os.listdir(data):
        path = os.path.join(data, name)
        size += os.path.getsize(path)
        if name.endswith(".parquet"):
            rows += pq.read_metadata(path).num_rows
    return rows, size / MB


class TracedStageStore(StageStore):
    def __init__(self, spark, root: str, tracer: Tracer, counters: SparkCounters):
        super().__init__(spark, root)
        self.tracer = tracer
        self.counters = counters
        self.stages: dict[str, dict] = {}
        self.self_s = 0.0  # time spent on this class's own bookkeeping
        self._write_s: dict[str, float] = {}

    def read_or_compute(self, stage, compute, materialize_first=False):
        reused = self.is_committed(stage)
        group = f"{self.tracer.run_id}:{self.root}:{stage}"
        with self.tracer.span(stage, reused=reused), self.counters.group(group):
            t0 = time.perf_counter()
            out = super().read_or_compute(stage, compute, materialize_first)
            wall = time.perf_counter() - t0
        t0 = time.perf_counter()
        rec = self.counters.read(group)
        rows, size = snapshot_size(self.root, stage)
        self.self_s += time.perf_counter() - t0
        rec.update(
            wall_s=wall,
            write_s=self._write_s.get(stage, 0.0),
            reused=reused,
            rows_out=rows,
            bytes_mb=0.0 if reused else size,
        )
        self.stages[stage] = rec
        return out

    def write(self, stage, df, metrics=True, materialize_first=False):
        with self.tracer.span(f"{stage}.write"):
            t0 = time.perf_counter()
            out = super().write(stage, df, metrics, materialize_first)
            self._write_s[stage] = time.perf_counter() - t0
        return out
