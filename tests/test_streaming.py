"""Structured-Streaming ingest: keyed dedup state, micro-batch snapshots,
windowed metrics (SURVEY.md §2.10 — the streaming surface the graft adds)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from arhivum_spark.streaming.ingest import dedup_stream, ingest_stream, windowed_rates
from tests.conftest import SF_TEST_DIR

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_source(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF_TEST_DIR}/events.parquet").limit(2000).write.mode(
        "overwrite"
    ).parquet(src)
    return src


def _stream_from(spark, src):
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src)
        .withColumn("event_time", F.col("ts"))
        .withColumn(
            "content_sha256", F.sha2(F.concat_ws("|", "user_id", "event_type"), 256)
        )
    )


def _stream(spark, tmp_path):
    return _stream_from(spark, _write_source(spark, tmp_path))


def test_stream_dedup_first_wins_and_snapshot_batches(spark, tmp_path):
    stream = _stream(spark, tmp_path)
    deduped = dedup_stream(stream)
    out_dir = str(tmp_path / "out")
    q = ingest_stream(deduped, out_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batches = [d for d in os.listdir(out_dir) if d.startswith("batch-")]
    assert batches, "no micro-batch snapshots written"
    got = spark.read.parquet(*[os.path.join(out_dir, b) for b in batches])
    # keyed dedup: exactly one row per content key
    assert got.count() == got.select("content_sha256").distinct().count()
    expected_keys = (
        spark.read.parquet(f"{SF_TEST_DIR}/events.parquet")
        .limit(2000)
        .select(
            F.sha2(F.concat_ws("|", "user_id", "event_type"), 256).alias("k")
        )
        .distinct()
        .count()
    )
    assert got.count() == expected_keys


def test_stream_replay_is_idempotent(spark, tmp_path):
    """Restarting the same query over the same checkpoint and unchanged
    source must not reprocess or duplicate committed batches (the
    reference's resumable re-upload contract, UploadCommand.java:108-127)."""
    src = _write_source(spark, tmp_path)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q1 = ingest_stream(dedup_stream(_stream_from(spark, src)), out_dir, ckpt)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(os.path.join(out_dir, "batch-*")).count()

    q2 = ingest_stream(dedup_stream(_stream_from(spark, src)), out_dir, ckpt)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(os.path.join(out_dir, "batch-*")).count()
    assert n1 == n2


def test_windowed_rates(spark, tmp_path):
    stream = _stream(spark, tmp_path)
    q = (
        windowed_rates(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rates = spark.sql("SELECT * FROM rates")
    assert rates.count() > 0
    total = rates.agg(F.sum("rows")).first()[0]
    n_src = spark.read.parquet(str(tmp_path / "src")).count()
    assert total == n_src


def test_stateful_flagging_annotates_instead_of_dropping(spark, tmp_path):
    """applyInPandasWithState custom operator: every row emitted, flagged
    first-wins per content key, state continuous across micro-batches."""
    from arhivum_spark.streaming.ingest import flag_duplicates_stateful

    src = _write_source(spark, tmp_path)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(src)
        .withColumn(
            "content_sha256",
            F.sha2(F.concat_ws("|", "user_id", "event_type"), 256),
        )
    )
    q = (
        flag_duplicates_stateful(stream)
        .writeStream.format("memory")
        .queryName("flagged")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM flagged")
    n_src = spark.read.parquet(src).count()
    assert got.count() == n_src  # nothing dropped
    per_key = got.groupBy("content_sha256").agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_duplicate").cast("int")).alias("dups"),
        F.countDistinct("representative_id").alias("reps"),
    )
    bad = per_key.filter(
        (F.col("dups") != F.col("n") - 1) | (F.col("reps") != 1)
    ).count()
    assert bad == 0  # exactly one non-duplicate (the first) per key
    # seen_before is a true running occurrence counter per key
    mx = got.groupBy("content_sha256").agg(
        F.max("seen_before").alias("mx"), F.count("*").alias("n")
    )
    assert mx.filter(F.col("mx") != F.col("n") - 1).count() == 0


def test_two_drop_stream_flags_and_drops_batch1_hash_in_batch2(spark, tmp_path):
    """Two source files read one per micro-batch (maxFilesPerTrigger=1):
    a hash first seen in batch 1 that arrives again in batch 2 is flagged
    with batch 1's row as representative by flag_duplicates_stateful, and
    dropped by dedup_stream — the key state crosses the batch boundary.
    A new hash in batch 2 passes both."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from arhivum_spark.streaming.ingest import flag_duplicates_stateful

    schema = "event_id long, content_sha256 string, event_time timestamp"
    src = tmp_path / "drops"
    src.mkdir()
    t0 = 1_700_000_000_000_000  # microseconds; one minute between drops
    drops = [
        [(1, "h1", t0), (2, "h2", t0)],
        [(3, "h1", t0 + 60_000_000), (4, "h3", t0 + 60_000_000)],
    ]
    now = time.time()
    for k, rows in enumerate(drops):
        path = src / f"drop-{k}.parquet"
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "content_sha256": [r[1] for r in rows],
                    "event_time": pa.array(
                        [r[2] for r in rows], pa.timestamp("us", tz="UTC")
                    ),
                }
            ),
            path,
        )
        # the file source orders new files by modification time
        os.utime(path, (now - 100 + 50 * k, now - 100 + 50 * k))

    def two_drops():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    q = (
        flag_duplicates_stateful(two_drops())
        .writeStream.format("memory")
        .queryName("two_drop_flags")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_flags"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    batch_rows = [p["numInputRows"] for p in q.recentProgress]
    assert [n for n in batch_rows if n] == [2, 2]  # two micro-batches
    flags = {
        r["event_id"]: (r["is_duplicate"], r["representative_id"], r["seen_before"])
        for r in spark.sql("SELECT * FROM two_drop_flags").collect()
    }
    assert flags == {
        1: (False, 1, 0),
        2: (False, 2, 0),
        3: (True, 1, 1),
        4: (False, 4, 0),
    }

    out_dir = tmp_path / "out"
    q = ingest_stream(
        dedup_stream(two_drops()), str(out_dir), str(tmp_path / "ckpt_drop")
    )
    q.awaitTermination(180)
    kept = {
        b: {r["event_id"] for r in spark.read.parquet(str(out_dir / b)).collect()}
        for b in sorted(os.listdir(out_dir))
        if b.startswith("batch-")
    }
    assert kept["batch-0000"] == {1, 2}
    assert set().union(*(v for b, v in kept.items() if b != "batch-0000")) == {4}
