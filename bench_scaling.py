#!/usr/bin/env python
"""N-vs-4N scaling evidence for the north rule.

No multi-executor cluster exists in this sandbox, so the two cluster sizes
are proxied by parallelism levels of the SAME job on the SAME input:
``local[N]`` vs ``local[4N]``, separate JVMs, one bench corpus (see
bench_common). Reported: images/sec per level and scaling efficiency
T(N) / (4 * T(4N)) = throughput(4N) / (4 * throughput(N)).

Knobs: SPARK_GRAFT_SCALE_CORES (comma-separated levels, default "8,32";
needs an N/4N pair), SPARK_GRAFT_SCALE_REPEATS (runs per level, best
kept; default 1), plus the bench_common corpus spec.

Usage:
    python bench_scaling.py            # one JSON line on stdout; the
                                       # machine table goes to
                                       # $SPARK_GRAFT_SCALE_DIR/BENCH_SCALING.md
    python bench_scaling.py --run 8    # (internal) one timed run at local[8]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import bench_common as bc

CORE_LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_CORES", "8,32").split(",")
)


def timed_run(cores: int) -> dict:
    spark = bc.session(f"scale_{cores}", cores)
    images = spark.read.parquet(bc.corpus(spark))
    bc.warm_up(images)
    stage_root = os.path.join(bc.WORKDIR, f"stages_{cores}")
    shutil.rmtree(stage_root, ignore_errors=True)
    run = bc.timed_job(spark, images, stage_root)
    shutil.rmtree(stage_root, ignore_errors=True)
    spark.stop()
    return {
        "cores": cores,
        "images_per_sec": round(bc.N_IMAGES / run["wall_sec"], 1),
        **run,
    }


def _pairs(levels: tuple[int, ...]) -> list[tuple[int, int]]:
    return [(a, b) for a in levels for b in levels if b == 4 * a]


def write_table(results: dict[int, dict], effs: dict[str, float]) -> str:
    """Machine table of this run, written into the work dir (BENCH.md
    carries the curated narrative and is edited by hand)."""
    levels = sorted(results)
    lines = [
        "# BENCH_SCALING — generated by bench_scaling.py",
        "",
        f"Input: {bc.N_IMAGES:,} synthetic images ({bc.IMG_HW}x{bc.IMG_HW}, "
        "seeded, planted duplicate cohorts), one parquet table read by every "
        "run. Job: run_pipeline + caption_pairs (s1..s5), every stage "
        "checkpointed; Python-UDF workers warmed before timing. Shuffle "
        "dirs: " + os.environ.get("SPARK_LOCAL_DIRS", "(Spark default)") + ".",
        "",
        "| cores | wall (s) | images/sec | stage seconds |",
        "|---|---|---|---|",
    ]
    for c in levels:
        r = results[c]
        stages = ", ".join(f"{k}={v}" for k, v in r["stage_sec"].items())
        lines.append(
            f"| local[{c}] | {r['wall_sec']} (runs: {r['all_wall_sec']}) "
            f"| {r['images_per_sec']} | {stages} |"
        )
    lines.append("")
    for name, eff in effs.items():
        lines.append(f"**Scaling efficiency {name}: {eff:.3f}**  (target >= 0.8)")
    for a, b in _pairs(tuple(levels)):
        sa, sb = results[a]["stage_sec"], results[b]["stage_sec"]
        per_stage = ", ".join(
            f"{st}={sa[st] / (4 * sb[st]):.2f}" for st in sa if sb[st] > 0
        )
        lines.append(f"Per-stage efficiency {a}->{b}: {per_stage}")
    keys = ("rows", "clusters", "cluster_xor", "caption_rows", "caption_xor")
    r0 = results[levels[0]]
    same = all(results[c][k] == r0[k] for c in levels for k in keys)
    lines += [
        "",
        f"Determinism across parallelism: rows, clusters, cluster_xor and "
        f"caption_xor are {'identical' if same else 'DIFFERENT'} across "
        f"levels (local[{levels[0]}]: {r0['rows']:,} rows, "
        f"{r0['clusters']:,} clusters, cluster_xor {r0['cluster_xor']}).",
        "",
    ]
    path = os.path.join(bc.WORKDIR, "BENCH_SCALING.md")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    return path


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--run":
        print(json.dumps(timed_run(int(sys.argv[2]))))
        return

    if not _pairs(CORE_LEVELS):
        raise SystemExit(
            f"SPARK_GRAFT_SCALE_CORES={','.join(map(str, CORE_LEVELS))} "
            "contains no (N, 4N) pair — the bench would run for many "
            "minutes and then report efficiency 0.0; pick levels like "
            "'1,4' or '8,32'"
        )
    os.makedirs(bc.WORKDIR, exist_ok=True)
    spark = bc.session("scale_datagen")
    bc.corpus(spark)
    spark.stop()
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "1"))
    results: dict[int, dict] = {}
    for cores in CORE_LEVELS:
        runs = []
        for _ in range(repeats):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", str(cores)],
                capture_output=True, text=True, cwd=bc.REPO,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise RuntimeError(f"run at {cores} cores failed")
            runs.append(json.loads(proc.stdout.strip().splitlines()[-1]))
        # best-of-N: on a shared host the fastest run reflects the
        # pipeline, slower ones a noisy neighbour. All walls recorded.
        best = min(runs, key=lambda r: r["wall_sec"])
        best["all_wall_sec"] = [r["wall_sec"] for r in runs]
        results[cores] = best

    effs = {
        f"N={a} -> 4N={b}": results[a]["wall_sec"] / (4 * results[b]["wall_sec"])
        for a, b in _pairs(CORE_LEVELS)
    }
    print(f"scaling table: {write_table(results, effs)}", file=sys.stderr)
    r0 = results[CORE_LEVELS[0]]
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency_N_to_4N",
                "value": round(max(effs.values()), 3),
                "unit": "ratio",
                "queries": {
                    f"local[{c}]_images_per_sec": results[c]["images_per_sec"]
                    for c in CORE_LEVELS
                },
                "efficiencies": {k: round(v, 3) for k, v in effs.items()},
                "n_images": bc.N_IMAGES,
                "img_hw": bc.IMG_HW,
                "rows": {c: results[c]["rows"] for c in CORE_LEVELS},
                "clusters": {c: results[c]["clusters"] for c in CORE_LEVELS},
                "cluster_xor_identical": len(
                    {results[c]["cluster_xor"] for c in CORE_LEVELS}
                ) == 1,
                "cluster_xor": r0["cluster_xor"],
            }
        )
    )


if __name__ == "__main__":
    main()
