"""Incremental (streaming) ingest with keyed dedup state.

The reference's nearest streaming analogue is the scanner's in-memory hash
registry consulted as files arrive (OutputService.java:34,107-134 —
first-occurrence-wins) and its batch-then-upload resumable micro-batching
(UploadCommand.java:108-127). Structured Streaming re-expresses both:

- `dedup_stream`: readStream -> watermark -> dropDuplicatesWithinWatermark
  on the content key — the distributed, state-store-backed version of the
  `Set<String> knownHashes` probe. State is bounded by the watermark (the
  reference's registry grows without bound; at 10^12 scale the watermark IS
  the design fix).
- `ingest_stream`: foreachBatch writing each micro-batch as its own bare
  parquet snapshot directory (``batch-<id>/`` — NOT a StageStore stage:
  no manifest involvement; on a real cluster this is an
  Iceberg append per batch). Idempotent on replay purely through the
  overwrite-by-batch-dir commit: Structured Streaming re-runs a failed
  batch with the same batch_id and the rewrite commits identical bytes,
  matching the reference's re-upload idempotency.

- `flag_duplicates_stateful`: the custom-stateful-operator form
  (`applyInPandasWithState`): unlike the drop variant, EVERY row is
  emitted, annotated with (is_duplicate, representative_id, seen_before)
  from explicit per-key state — the streaming twin of the batch W1
  first-wins flag window (OutputService.java:107-134 semantics).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(
    stream: DataFrame,
    key_col: str = "content_sha256",
    ts_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Keyed first-wins dedup over a stream: later rows with a seen key
    (within the watermark horizon) are dropped. Exactly the reference's
    hashExists -> registerHash gate, with bounded state."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key_col]
    )


def flag_duplicates_stateful(
    stream: DataFrame,
    hash_col: str = "content_sha256",
    id_col: str = "event_id",
    order_within_batch: bool = False,
) -> DataFrame:
    """Streaming first-wins duplicate FLAGGING with explicit keyed state.

    Per content key the state holds (first_id, n_seen); every input row is
    emitted (nothing dropped) with is_duplicate, representative_id and
    seen_before (occurrences of the key before this row, across
    micro-batches). This is the operator class the built-in
    dropDuplicates family can't express — annotate-not-drop with
    arbitrary per-key accumulation — via applyInPandasWithState.
    State outlives micro-batches (checkpointed by the engine); a
    production deployment adds a timeout to bound it the way the batch
    path's watermark does.

    OUTPUT PROJECTION (contract): the emitted rows carry ONLY
    (hash_col, id_col, is_duplicate, representative_id, seen_before) —
    payload columns are not passed through the state operator; callers
    wanting annotated full rows join the output back on id_col.

    order_within_batch=True sorts each key's rows by `id_col` before
    flagging — "first" then means min-id-first within a micro-batch (and
    exactly the batch W1 window semantics when the whole input arrives in
    one availableNow batch), making the output deterministic under any
    partitioning; the default keeps raw arrival order (the reference's
    OutputService semantics, where arrival order IS the contract).
    Memory: the default path streams Arrow chunks one at a time; the
    ordered path must see every id of the key's batch before flagging,
    so it buffers the ID COLUMN ONLY — O(rows x id width) per hot key,
    never whole rows (a million-row boilerplate key buffers ids, not
    payloads).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # the id/state schemas follow the caller's id column type (string
    # image_ids and long event_ids are both canonical engine shapes) —
    # hardcoding `long` here made every non-integer id fail inside the
    # state-update UDF
    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{hash_col} string, {id_col} {id_type}, is_duplicate boolean, "
        f"representative_id {id_type}, seen_before long"
    )
    state_schema = f"first_id {id_type}, n_seen long"

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (first_id, n_seen) = state.get if state.exists else (None, 0)
        if order_within_batch:
            # buffer ONLY the id column (the loop below reads nothing
            # else) — concat'ing whole chunks would hold every payload
            # byte of a hot key in memory at once
            id_parts = [p[id_col].to_numpy() for p in pdfs]
            ids = (
                np.sort(np.concatenate(id_parts))
                if id_parts
                else np.empty(0)
            )
            pdfs = iter([pd.DataFrame({id_col: ids})])
        for pdf in pdfs:
            n = len(pdf)
            if n == 0:
                continue
            dup = np.ones(n, dtype=bool)
            if first_id is None:
                first_id = pdf[id_col].iloc[0]
                if isinstance(first_id, np.generic):
                    first_id = first_id.item()  # state needs a native type
                dup[0] = False
            yield pd.DataFrame(
                {
                    hash_col: key[0],
                    id_col: pdf[id_col].values,
                    "is_duplicate": dup,
                    "representative_id": first_id,
                    "seen_before": n_seen + np.arange(n, dtype="int64"),
                }
            )
            n_seen += n
        state.update((first_id, n_seen))

    return (
        stream.groupBy(hash_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ingest_stream(
    deduped: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Write a deduped stream as one parquet snapshot per micro-batch.

    Returns the StreamingQuery. Each batch lands in
    ``<out_dir>/batch-<id>/`` (the scanner's ``files/batch-%04d.json``
    shape, OutputService.java:73-99) with mode=overwrite so a replayed
    batch id commits identical bytes instead of duplicating rows.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch-{batch_id:04d}")
        )

    return (
        deduped.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_rates(
    stream: DataFrame,
    ts_col: str = "event_time",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
    hash_col: str = "content_sha256",
) -> DataFrame:
    """Late-data-tolerant tumbling-window ingestion metrics — the streaming
    version of the scanner's progress/summary counters
    (OutputService.java:146-173). ``hash_col`` names the content-key
    column (parameterized like dedup_stream's key_col — a stream keyed
    differently must not fail analysis)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(
            F.count("*").alias("rows"),
            F.approx_count_distinct(hash_col).alias("distinct_hashes"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "rows",
            "distinct_hashes",
        )
    )
