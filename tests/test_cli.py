"""End-to-end test of the spark-submit entry point (arhivum_spark.cli):
run the full pipeline through the CLI surface on a small synthetic corpus,
check the written cluster table, and prove resume (a second invocation
with the same --stage-dir recomputes nothing and returns identical
output)."""

from __future__ import annotations

import os

from arhivum_spark import datagen
from arhivum_spark.cli import run


def _argv(tmp, extra=()):
    return [
        "--input", os.path.join(tmp, "images"),
        "--output", os.path.join(tmp, "clusters"),
        "--stage-dir", os.path.join(tmp, "stages"),
        "--captions-out", os.path.join(tmp, "captions"),
        *extra,
    ]


def test_cli_end_to_end_and_resume(spark, tmp_path):
    tmp = str(tmp_path)
    params = datagen.GenParams(n=400, seed=11, img_hw=48)
    datagen.images_df(spark, params, partitions=8).write.parquet(
        os.path.join(tmp, "images")
    )

    m1 = run(_argv(tmp), spark=spark)
    assert m1["rows"] == 400
    assert 0 < m1["clusters"] < 400
    assert m1["duplicates"] == 400 - m1["clusters"]
    assert set(m1["stage_seconds"]) >= {
        "s1_signatures", "s2_exact", "s3_candidates", "s4_clusters",
    }
    out = spark.read.parquet(os.path.join(tmp, "clusters"))
    assert set(out.columns) == {
        "image_id", "cluster_id", "is_duplicate", "representative_id",
        "content_sha256",
    }
    caps = spark.read.parquet(os.path.join(tmp, "captions"))
    assert {"id_a", "id_b", "pair_class"} <= set(caps.columns)

    a = sorted(
        (r.image_id, r.cluster_id, r.is_duplicate) for r in out.collect()
    )
    # resume: same stage dir -> all stages read from manifests, identical
    # output (collected above BEFORE the rerun overwrites the files)
    m2 = run(_argv(tmp), spark=spark)
    assert m1["reused_stages"] == []
    assert m2["reused_stages"] == sorted(m1["stage_seconds"])
    assert set(m2["stage_seconds"].values()) == {0.0}
    assert m2["rows"] == m1["rows"]
    assert m2["clusters"] == m1["clusters"]
    out2 = spark.read.parquet(os.path.join(tmp, "clusters"))
    b = sorted(
        (r.image_id, r.cluster_id, r.is_duplicate) for r in out2.collect()
    )
    assert a == b


def test_cli_config_overrides(spark, tmp_path):
    from arhivum_spark.sources.checkpoints import StageStore

    tmp = str(tmp_path)
    params = datagen.GenParams(n=120, seed=5, img_hw=48)
    datagen.images_df(spark, params, partitions=4).write.parquet(
        os.path.join(tmp, "images")
    )
    # a reused --stage-dir holding a stage an earlier run committed that
    # this job does not have
    stale = StageStore(spark, os.path.join(tmp, "stages"))
    stale.write("s9_retired", spark.range(1))
    m = run(_argv(tmp, extra=["--max-pairs-per-band", "512"]), spark=spark)
    assert m["rows"] == 120
    assert m["reused_stages"] == []
    assert set(m["stage_seconds"]) == {
        "s1_signatures", "s2_exact", "s3_candidates", "s3b_psnr",
        "s4_clusters", "s5_captions",
    }
    assert "s9_retired" not in m["stage_seconds"]


def test_cli_via_real_spark_submit(spark, tmp_path):
    """Launch-shape evidence for the north rule: the ACTUAL spark-submit
    binary with --py-files <zip of the package>, a fresh JVM/driver, no
    repo on PYTHONPATH — exactly how a cluster operator would run it.
    Asserts the one-line JSON metrics contract and the written table."""
    import json
    import shutil
    import subprocess
    import sys
    import zipfile

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    tmp = str(tmp_path)
    params = datagen.GenParams(n=300, seed=17, img_hw=48)
    datagen.images_df(spark, params, partitions=4).write.parquet(
        os.path.join(tmp, "images")
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(tmp, "arhivum_spark.zip")
    pkg = os.path.join(repo, "arhivum_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, repo))

    env = {
        k: v for k, v in os.environ.items() if not k.startswith("PYTHONPATH")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(repo, "arhivum_spark", "cli.py"),
            "--input", os.path.join(tmp, "images"),
            "--output", os.path.join(tmp, "clusters"),
            "--stage-dir", os.path.join(tmp, "stages"),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=tmp,  # NOT the repo: the zip must provide the package
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    assert metrics["rows"] == 300
    assert 0 < metrics["clusters"] <= 300
    assert metrics["duplicates"] == 300 - metrics["clusters"]
    out = spark.read.parquet(os.path.join(tmp, "clusters"))
    assert out.count() == 300
    assert {"image_id", "cluster_id", "is_duplicate"} <= set(out.columns)
