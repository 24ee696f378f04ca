"""SparkSession builders tuned for this engine.

Local mode is the test/bench harness; the configs are chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime skew-join
and partition coalescing), shuffle partitions sized to parallelism, Arrow
batches capped small where rows carry multi-MB binary image payloads
(SURVEY.md §4 "Arrow batch sizing").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows carrying encoded image bytes can be multi-MB; keep Arrow batches small
# so a pandas-UDF batch never balloons executor memory (the reference keeps a
# <500 MB ceiling by streaming 8 KB buffers — archivum-scanner HashService.java:25;
# our analogue is bounded Arrow batch size).
ARROW_BATCH_FOR_BINARY = 256

# Java 17 G1 GCLocker starvation workaround (BENCH.md cliff #4) — these
# flags must survive a caller supplying its own extraJavaOptions via
# extra_conf, because builder.config() REPLACES string confs wholesale.
_REQUIRED_JAVA_OPTS = (
    "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64"
)
_JAVA_OPT_KEYS = (
    "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions",
)


def _with_required_java_opts(caller_opts: str) -> str:
    """Prepend the load-bearing JVM flags to caller-supplied ones.

    Caller flags come LAST so a deliberate -XX override still wins (the
    JVM honors the last occurrence of a flag)."""
    if _REQUIRED_JAVA_OPTS in caller_opts:
        return caller_opts
    return f"{_REQUIRED_JAVA_OPTS} {caller_opts}".strip()


def apply_media_runtime_confs(spark: SparkSession) -> list[str]:
    """Apply the load-bearing confs that ARE runtime-settable to an
    externally-built session (the spark-submit path, where get_spark's
    builder never runs), and report what cannot be set post-launch.

    Returns a list of human-readable warnings for confs the caller must
    pass via spark-submit --conf (currently the GCLocker JVM flags —
    extraJavaOptions are fixed at JVM launch).
    """
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(ARROW_BATCH_FOR_BINARY),
    )
    # vectored IO allocates whole-column-chunk heap buffers per reading
    # task — an OOM on binary-heavy scans (BENCH.md cliff #4 notes).
    # Hadoop confs read at scan time honor runtime updates through the
    # context's hadoopConfiguration.
    spark.sparkContext._jsc.hadoopConfiguration().set(
        "parquet.hadoop.vectored.io.enabled", "false"
    )
    warnings = []
    for key in _JAVA_OPT_KEYS:
        current = spark.conf.get(key, "") or ""
        if "GCLockerRetryAllocationCount" not in current:
            warnings.append(
                f"{key} lacks '{_REQUIRED_JAVA_OPTS}' — pass it via "
                "spark-submit --conf; without it, byte-heavy pandas-UDF "
                "stages risk GCLocker allocation failures on G1 "
                "(BENCH.md cliff #4)"
            )
    return warnings


def get_spark(
    app_name: str = "arhivum_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to the core count so
    local shuffles aren't over-parallelized; on a real cluster this is set to
    2-3x total executor cores via spark-submit --conf.
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or (cores if cores else os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_FOR_BINARY),
        )
        # 16g, not bigger: local-mode driver hosts all executor threads, and
        # oversized heaps produce multi-second full-GC stalls (measured 10-30s
        # pauses at 48g under pandas-UDF Arrow churn; stable at 16g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Split parquet scans finely enough that pandas-UDF map stages fill
        # every core even on GB-scale local inputs (the 128 MB default
        # yields ~10 read partitions for a 250 MB table -> 2/3 of a 32-core
        # box idles through the signature stage). Harmless at scale: a
        # 100 TB table always has more splits than cores. Larger splits
        # for disk-resident inputs were tried (128 MB, at 4.8M images /
        # 108 GB) and died in the PSNR stage's byte-bearing re-scan: ~127
        # MB contiguous per in-flight split x 32 threads on the 16 GB heap
        # (BENCH.md round 5).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet 1.16 (bundled with Spark 4.1) enables Hadoop vectored IO
        # by default, and that path allocates ONE on-heap ByteBuffer per
        # column chunk (VectorIoBridge -> VectorIOBufferPool) — for a
        # media `bytes` column that is the WHOLE ~130 MB row-group chunk
        # per task thread, bypassing parquet's classic 8 MB
        # maxAllocationSize splitting. 32 threads x 130 MB humongous G1
        # allocations + GCLocker (snappy JNI critical sections) killed a
        # 4.8M-image scan on the 16 GB heap (BENCH.md round 5, cliff #4).
        # The classic read path streams the same chunks through <= 8 MB
        # buffers; vectored IO's coalesced-range wins target high-latency
        # object stores, not local/HDFS media scans, so it stays off by
        # default (flip per-session via extra_conf for S3-like storage
        # with small row groups).
        .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
        # Java 17 G1 GCLocker starvation (fixed by region pinning only in
        # Java 22 / JEP 423): when task threads sit in JNI critical
        # sections near-continuously (32 snappy decompressors during a
        # byte-bearing scan), an allocating thread retries
        # GCLockerRetryAllocationCount times (default 2!) waiting for a
        # GCLocker-induced GC and then throws OutOfMemoryError WITHOUT a
        # full-GC attempt — the heap isn't exhausted, the collector was
        # starved. Observed killing the 4.8M s3b re-scan on 8 MB (and
        # even 6 MB decoded-batch) allocations after the vectored-IO fix
        # removed the 130 MB ones. Raising the retry bound is the
        # documented JDK workaround.
        .config("spark.driver.extraJavaOptions", _REQUIRED_JAVA_OPTS)
        # local mode runs executors inside the driver JVM; the executor
        # variant is inert here but is the one that matters on a cluster
        .config("spark.executor.extraJavaOptions", _REQUIRED_JAVA_OPTS)
    )
    # extraJavaOptions carry the load-bearing GCLocker workaround above;
    # a caller adding its own JVM flags must not silently drop it, so
    # these keys MERGE (caller flags appended — later -XX wins on
    # conflict, i.e. the caller can still override deliberately)
    for k, v in (extra_conf or {}).items():
        if k in _JAVA_OPT_KEYS:
            v = _with_required_java_opts(v)
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
