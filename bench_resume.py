"""Kill/resume matrix on the bench corpus (north-rule evidence).

The north rule requires that "every stage writes per-partition metrics and
checkpoints so the job resumes mid-pipeline after executor loss". The unit
test (tests/test_pipeline_recall.py::test_resume_reuses_committed_stages)
proves stage reuse with a poisoned input at toy scale; this bench proves
it with a REAL process death inside every stage:

  reference  one timed job (bench_common.timed_job: pipeline + caption
             stage) on a fresh stage root -> value-level checksums
  per stage  a child runs the same job on a fresh root and the whole
             process group (driver + local JVM) is SIGKILLed inside the
             target stage: RESUME_S1_DELAY s after child start for s1,
             RESUME_MATRIX_DELAY s after the commit of the stage it reads
             for the others (s1 for s5, which runs beside s2..s4; the
             previous image stage for s2..s4), cut to a third, up to
             twice, when the kill lands after the target's commit; then
             the job reruns in-process on that root.

The job is a DAG (s1 -> s2 -> s3 -> s3b -> s4, and s1 -> s5), so what
else is committed at a kill depends on timing. A point passes when the
target stage was uncommitted at the kill and all its upstream stages were
committed, the resume reproduces the reference's rows, clusters,
cluster_xor, caption_rows and caption_xor, and every stage committed at
the kill, in either branch, is reused verbatim (manifest committed_at
unchanged).

Knobs: SPARK_GRAFT_RESUME_S1_DELAY (default 30),
SPARK_GRAFT_RESUME_MATRIX_DELAY (default 3), plus the bench_common
corpus spec. Prints one JSON line:  python bench_resume.py
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import bench_common as bc

S1_DELAY = float(os.environ.get("SPARK_GRAFT_RESUME_S1_DELAY", "30"))
DELAY = float(os.environ.get("SPARK_GRAFT_RESUME_MATRIX_DELAY", "3"))
CHECKSUMS = ("rows", "clusters", "cluster_xor", "caption_rows", "caption_xor")
CAPTIONS = "s5_captions"


def upstream(stage: str) -> list[str]:
    """The stages `stage` needs committed before it runs: s1 for the
    caption stage, every earlier image stage for an image stage."""
    if stage == CAPTIONS:
        return [bc.STAGES[0]]
    chain = [s for s in bc.STAGES if s != CAPTIONS]
    return chain[: chain.index(stage)]


def landed(kill: dict, stage: str) -> bool:
    """The kill hit `stage` itself: uncommitted, its upstream committed."""
    done = kill["committed_at_kill"]
    return stage not in done and set(upstream(stage)) <= set(done)


def job(stage_root: str) -> dict:
    """One timed job in its own session (the reference, each resume, and
    the killed child)."""
    spark = bc.session("resume")
    try:
        return bc.timed_job(spark, spark.read.parquet(bc.corpus(spark)), stage_root)
    finally:
        spark.stop()


def killed_run(stage_root: str, trigger_stage: str | None, delay: float) -> dict:
    """Launch the job in a child process group; SIGKILL the whole group
    (python driver AND the local-mode JVM) `delay` seconds after
    `trigger_stage` commits (None: after child start)."""
    errlog = os.path.join(stage_root, "_child_stderr.log")
    os.makedirs(stage_root, exist_ok=True)
    with open(errlog, "w") as err:
        child = subprocess.Popen(
            [sys.executable, __file__, "--child", stage_root],
            start_new_session=True,  # own process group -> killpg reaps the JVM
            stdout=subprocess.DEVNULL,
            stderr=err,
        )
    t0 = time.time()
    trig_at = t0 if trigger_stage is None else None
    while child.poll() is None:
        if trig_at is None and trigger_stage in bc.read_manifest(stage_root)["stages"]:
            trig_at = time.time()
        if trig_at is not None and time.time() - trig_at >= delay:
            break
        if time.time() - t0 > 1800:
            os.killpg(child.pid, signal.SIGKILL)
            raise RuntimeError(f"child never reached {trigger_stage} in 30 min")
        time.sleep(0.2)  # fine-grained: sub-second kill delays must land
    else:
        # "job too fast for the kill window" (rc 0) vs a CRASHED child
        with open(errlog) as f:
            tail = f.read()[-2000:]
        if child.returncode != 0:
            raise RuntimeError(
                f"child CRASHED (rc={child.returncode}) before the kill "
                f"fired (trigger={trigger_stage}); stderr tail:\n{tail}"
            )
        raise RuntimeError(
            f"child finished before the kill fired (trigger={trigger_stage}, "
            f"delay={delay}) — raise SPARK_GRAFT_SCALE_IMAGES or lower the delay"
        )
    os.killpg(child.pid, signal.SIGKILL)
    child.wait()
    killed_after = round(time.time() - t0, 1)
    # give the OS a beat to reap the JVM before the resume starts its own
    time.sleep(3)
    stages = bc.read_manifest(stage_root)["stages"]
    return {
        "killed_after_sec": killed_after,
        "committed_at_kill": sorted(stages),
        "committed_ts": {s: stages[s]["committed_at"] for s in stages},
    }


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--child":
        job(sys.argv[2])
        return

    root_full = os.path.join(bc.WORKDIR, "resume_matrix_full")
    shutil.rmtree(root_full, ignore_errors=True)
    full = job(root_full)
    shutil.rmtree(root_full, ignore_errors=True)

    rows = []
    for kill_in in bc.STAGES:
        # the kill fires after the commit that starts the target (its
        # last upstream stage), or after child start for s1
        needs = upstream(kill_in)
        trigger, delay = (needs[-1], DELAY) if needs else (None, S1_DELAY)
        root = os.path.join(bc.WORKDIR, f"resume_matrix_{kill_in}")
        # a stage faster than the post-trigger delay commits before the
        # kill and the point tests nothing (checked below): retry with the
        # delay cut to a third, up to twice
        for attempt in range(3):
            shutil.rmtree(root, ignore_errors=True)
            kill = killed_run(root, trigger, delay)
            if landed(kill, kill_in) or attempt == 2:
                break
            delay = max(0.3, delay / 3)
        resumed = job(root)
        after = bc.read_manifest(root)["stages"]
        reused = sorted(
            s
            for s, ts in kill["committed_ts"].items()
            if after.get(s, {}).get("committed_at") == ts
        )
        landed_ok = landed(kill, kill_in)
        ok = (
            landed_ok
            and all(resumed[k] == full[k] for k in CHECKSUMS)
            and reused == kill["committed_at_kill"]
        )
        rows.append(
            {
                "kill_in": kill_in,
                "committed_at_kill": kill["committed_at_kill"],
                "kill_landed_before_target_commit": landed_ok,
                "killed_after_sec": kill["killed_after_sec"],
                "resume_wall_sec": resumed["wall_sec"],
                "stages_reused_verbatim": reused,
                "matches_reference": ok,
            }
        )
        if ok:
            shutil.rmtree(root, ignore_errors=True)
        else:
            # the manifest timestamps and committed parquet are the only
            # evidence for debugging a failed resume
            print(f"kill point {kill_in} FAILED — stage root kept at {root}",
                  file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "resume_kill_matrix",
                "n_images": bc.N_IMAGES,
                "cores": bc.cores(),
                "reference": full,
                "kill_points": rows,
                "all_match": all(r["matches_reference"] for r in rows),
            }
        )
    )


if __name__ == "__main__":
    main()
