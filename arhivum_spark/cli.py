"""spark-submit entry point for the image near-duplicate pipeline.

The north-rule launch shape (BASELINE.json: "run via spark-submit
--py-files on a multi-executor cluster"):

    zip -r arhivum_spark.zip arhivum_spark
    spark-submit --master <cluster> --py-files arhivum_spark.zip \
        --conf "spark.driver.extraJavaOptions=-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64" \
        --conf "spark.executor.extraJavaOptions=-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64" \
        arhivum_spark/cli.py \
        --input  s3://bucket/images_table \
        --output s3://bucket/clusters \
        --stage-dir /sharedfs/stages/run1 \
        --captions-out s3://bucket/caption_pairs

--input/--output/--captions-out take any Spark-readable URI (s3://,
hdfs://, ...). --stage-dir must be a DRIVER-VISIBLE filesystem path
(local or a shared mount): StageStore's manifest/lock live on
the driver's filesystem; the object-store/production form of the stage
store is an Iceberg catalog (checkpoints.py module docstring), not
reachable from this sandbox. An s3:// stage dir is rejected with a
clear error instead of silently writing a bogus local directory.

No master/executor settings are hardcoded: spark-submit (or any cluster
manager) owns them; running under plain `python -m arhivum_spark.cli`
falls back to a local session. The job is resumable: rerunning with the
same --stage-dir skips every committed stage (StageStore manifests), the
reference's resume-<1%-duplicate-work contract (REQUIREMENTS.md:358).

Input table schema = the BASELINE.json input_hint: (image_id string,
bytes binary, w int, h int, fmt string, caption string, phash long) —
extra columns are ignored.

The job is one fixed sequence of stages (plans.image_dedup.STAGES):
s1 signatures, s2 exact, s3 LSH candidates, s3b decoded-pixel PSNR
verification (always on), s4 clusters, and s5 captions when
--captions-out is given. s5 reads only s1's signatures, so it runs
beside s2..s4 from s1's commit on.

Prints ONE JSON line of run metrics on success (rows, clusters,
duplicates, wall seconds, per-stage seconds of this run, and the stages
it reused from --stage-dir). The last two come from the StageStore's
log of this run, not from the manifest, so stages an earlier run left
in --stage-dir are not reported.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="arhivum_spark.cli", description=__doc__.split("\n", 1)[0]
    )
    p.add_argument("--input", required=True, help="input image table (parquet)")
    p.add_argument("--output", required=True, help="cluster table output dir")
    p.add_argument(
        "--stage-dir", required=True,
        help=(
            "checkpoint root; rerun with the same dir to resume. Several "
            "drivers resuming from one shared root need a filesystem with "
            "working cross-host advisory locks (e.g. NFSv4): the manifest "
            "lock is flock"
        ),
    )
    p.add_argument(
        "--captions-out", default=None,
        help=(
            "optional output dir for caption near-dup/containment pairs "
            "(stage s5, which then runs beside s2..s4 from s1's commit on). "
            "NOTE: containment rows are a COVERING edge set, not the full "
            "pair enumeration — identical captions are collapsed to a "
            "min-id representative (rep-level containment edges plus "
            "bidirectional identity-star edges). The full relation is "
            "recovered by substituting, for each endpoint, every member "
            "of its identity group (connected-components consumers need "
            "no expansion — components are unchanged)."
        ),
    )
    # the config knobs a cluster operator actually tunes per-corpus;
    # every other DedupConfig setting but substring_max_tokens is a
    # class constant
    p.add_argument("--min-signature-agreement", type=float, default=None)
    p.add_argument("--psnr-edge-min-db", type=float, default=None)
    p.add_argument(
        "--hot-band-threshold",
        type=int,
        default=None,
        help=(
            "LSH band-key bucket size at which s3 salts the bucket "
            "(exact member count; default 300)"
        ),
    )
    p.add_argument("--max-pairs-per-band", type=int, default=None)
    return p


def run(argv: list[str] | None = None, spark=None) -> dict:
    """Programmatic form of main() — returns the metrics dict."""
    from pyspark.sql import SparkSession

    from arhivum_spark.config import DedupConfig
    from arhivum_spark.plans.image_dedup import caption_pairs, run_pipeline
    from arhivum_spark.sources.checkpoints import StageStore

    args = build_parser().parse_args(argv)
    overrides = {
        k: v
        for k, v in {
            "min_signature_agreement": args.min_signature_agreement,
            "psnr_edge_min_db": args.psnr_edge_min_db,
            "hot_band_threshold": args.hot_band_threshold,
            "max_pairs_per_band": args.max_pairs_per_band,
        }.items()
        if v is not None
    }
    cfg = DedupConfig(**overrides)

    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from arhivum_spark.session import apply_media_runtime_confs

    scheme = urlparse(args.stage_dir).scheme
    if scheme and scheme != "file":
        raise SystemExit(
            f"--stage-dir must be a driver-visible filesystem path, got "
            f"'{args.stage_dir}': StageStore's manifest/lock are "
            "local-FS (the production form is an Iceberg catalog — see "
            "sources/checkpoints.py). Use a shared mount for multi-driver "
            "resume."
        )

    own_session = spark is None
    if own_session:
        # under spark-submit the builder inherits the submitted conf
        # (master, executors, --py-files); standalone it builds local
        spark = SparkSession.builder.appName("arhivum-image-dedup").getOrCreate()
    # either way the session may lack the media-workload confs the test/
    # bench builder (session.get_spark) encodes: small Arrow batches over
    # multi-MB byte rows, vectored parquet IO off. Apply the
    # runtime-settable ones; warn about launch-time-only JVM flags.
    for w in apply_media_runtime_confs(spark):
        print(f"WARNING: {w}", file=sys.stderr)

    t0 = time.time()
    try:
        images = spark.read.parquet(args.input)
        store = StageStore(spark, args.stage_dir)
        clusters = run_pipeline(
            images, store, cfg, captions=args.captions_out is not None
        )
        clusters.write.mode("overwrite").parquet(args.output)

        # one aggregate pass, not three separate scans of the output
        out = spark.read.parquet(args.output)
        row = out.agg(
            F.count("*").alias("rows"),
            F.countDistinct("cluster_id").alias("clusters"),
            F.sum(F.col("is_duplicate").cast("long")).alias("dups"),
        ).collect()[0]

        if args.captions_out:
            sigs = store.read("s1_signatures")
            caption_pairs(sigs, store, cfg).write.mode("overwrite").parquet(
                args.captions_out
            )

        # the stages THIS run touched, from the store's log: seconds for
        # a stage it computed, 0 for one it reused. A reused --stage-dir
        # can hold entries an earlier, differently-configured run
        # committed; they are not in the log.
        log = store.stage_log
        metrics = {
            "rows": row["rows"],
            "clusters": row["clusters"],
            "duplicates": int(row["dups"] or 0),
            "wall_seconds": round(time.time() - t0, 1),
            "stage_seconds": {
                s: round(e["write_seconds"], 1) for s, e in log.items()
            },
            "reused_stages": sorted(s for s, e in log.items() if e["reused"]),
            "output": args.output,
        }
    finally:
        if own_session:
            # stop on failure too — a leaked local JVM holds the
            # multi-GB driver heap for the caller's process lifetime
            spark.stop()
    return metrics


def main(argv: list[str] | None = None) -> None:
    print(json.dumps(run(argv)))


if __name__ == "__main__":
    main(sys.argv[1:])
