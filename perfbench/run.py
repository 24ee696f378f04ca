"""Benchmark of the image-dedup job and the query registry on one host.

    python3 perfbench/run.py --workload keys --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

- ``keys``: the image-dedup job (``run_pipeline``, cluster write,
  ``caption_pairs``, caption write) on a seeded 64 px datagen corpus;
- ``registry``: a pass over query-registry entries on the registry's
  test tables, the same for every seed.

Each run, in one driver process on ``local[N]``, N = the cores this process
may use: set up (session start, input open, one unmeasured warm-up
operation that starts the Python workers and takes the JVM past the costliest
part of its JIT warm-up), then run the workload's operation back to back for
``--seconds`` and check every output, the warm-up's included. ``setup_s`` is
the time from process start to the first timed call, less input generation;
``wall_s`` is the median over the timed operations. With ``--trace 0``
the last stdout line is a JSON object with the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` a traced pass adds the per-layer metrics
instead, and spans go to ``.perfbench_work/traces/<run id>.jsonl``. A
metric that a workload does not exercise is reported as 0 and named on a
``not exercised`` line.

Inputs, caches and Spark scratch space live under ``.perfbench_work/`` in
the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

import harness  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(REPO, ".perfbench_work")
KERNEL_SAMPLES = {64: 256, 256: 48}


class Context:
    """What the workloads share: settings, the live session's counters and
    memory sampler, and the report printed before the result line."""

    def __init__(self, settings: dict):
        self.settings = settings
        self.work = settings["work"]
        self.run_id = uuid.uuid4().hex[:12]
        self.counters = None
        self.rss = None

    def say(self, line: str) -> None:
        print(line, flush=True)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=("keys", "registry"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def walls_file(workload: str) -> str:
    return os.path.join(WORK, "walls", f"{workload}.json")


def load_walls(workload: str) -> dict:
    """Untraced ``wall_s`` values of earlier runs in this checkout, by seed."""
    try:
        with open(walls_file(workload)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def record_walls(workload: str, seed: int, walls: list) -> None:
    kept = load_walls(workload)
    kept.setdefault(str(seed), []).extend(walls)
    os.makedirs(os.path.dirname(walls_file(workload)), exist_ok=True)
    with open(walls_file(workload), "w") as f:
        json.dump(kept, f)


def untraced_wall(ctx, workload: str, seed: int) -> float | None:
    """Median untraced ``wall_s`` at ``seed``, else at any seed, from earlier
    runs in this checkout; None if there are none."""
    kept = load_walls(workload)
    walls = kept.get(str(seed))
    where = f"seed {seed}"
    if not walls:
        walls = [w for ws in kept.values() for w in ws]
        where = "every seed"
    if not walls:
        ctx.say("trace.overhead_s: no untraced run of this workload in this "
                "checkout yet, so no overhead is measured (reported as 0)")
        return None
    ctx.say(f"trace.overhead_s: against the median of {len(walls)} untraced "
            f"wall_s values at {where}")
    return harness.median(walls)


def run(args, spec: dict) -> dict:
    settings = harness.host_settings(WORK)
    harness.apply_environment(settings, REPO, BENCH)
    # the workload modules import pyspark and the program: only now
    if args.workload == "keys":
        from pipeline import KeysWorkload as Workload
    else:
        from registry import RegistryWorkload as Workload
    import kernels
    from pipeline import N_IMAGES

    ctx = Context(settings)
    wl = Workload(ctx, args.seed)
    cores = settings["cores"]

    # set-up: session start, the input opened (generated first if no
    # earlier run has), then the warm-up operation below
    spark = harness.new_session(settings)
    wl.open(spark)
    ctx.counters = harness.SparkCounters(spark)
    ctx.say(f"host: {cores} cores, {settings['ram_mb']} MB RAM, driver heap "
            f"{settings['heap_mb']} MB, local[{cores}]; input generation "
            f"{wl.gen_s:.3f} s")

    tracer = harness.Tracer(bool(args.trace), ctx.run_id)
    failures: list[str] = []
    attempted = failed = 0
    try:
        with harness.RssSampler(spark) as rss:
            ctx.rss = rss

            def op(k: int) -> dict:
                try:
                    return wl.op(k)
                except Exception:
                    return {"attempted": 1, "failed": 1,
                            "errors": [traceback.format_exc()]}

            # the first job of a fresh driver starts the Python workers and
            # compiles most of the JVM's hot code: run and check it untimed
            w0 = time.perf_counter()
            warm = op("warm-up")
            warm_s = time.perf_counter() - w0
            attempted += warm["attempted"]
            failed += warm["failed"]
            failures += warm["errors"]
            # everything up to the first timed call but input generation
            setup = time.perf_counter() - T_START - wl.gen_s
            # a traced run replaces the timed window with one traced op
            results = [] if args.trace else harness.closed_loop(op, args.seconds)
            for r in results:
                attempted += r["attempted"]
                failed += r["failed"]
                failures += r["errors"]
            timed = [r for r in results if "wall_s" in r]
            walls = [r["wall_s"] for r in timed] or [0.0]
            if args.trace:
                layer, errors, ops = wl.traced(tracer)
                attempted += ops
                failed += min(len(errors), ops)
                failures += errors
                base = untraced_wall(ctx, wl.name, args.seed)
                layer["trace.overhead_s"] = (
                    layer["trace.wall_s"] - base if base is not None else 0.0
                )
                for px, n in KERNEL_SAMPLES.items():
                    p = kernels.datagen.GenParams(n=N_IMAGES, seed=args.seed, img_hw=px)
                    for key, v in kernels.microbench(p, n).items():
                        layer[f"functions.px{px}.{key}"] = v
            else:
                ctx.say(f"{wl.name}: set-up {setup:.3f} s (warm-up operation "
                        f"{warm_s:.3f} s), {len(results)} timed ops, walls "
                        + ", ".join(f"{w:.3f}" for w in walls) + " s")
            errors = wl.end_checks()
            failed += len(errors)
            failures += errors
    finally:
        stop_jvm(spark)
        tracer.write(os.path.join(WORK, "traces", f"{ctx.run_id}.jsonl"))
        shutil.rmtree(os.path.join(WORK, "jobs", ctx.run_id), ignore_errors=True)

    for f in failures:
        print(f"FAILED: {f}", flush=True)
    if args.trace:
        return emit(ctx, spec["per_layer"], layer, attempted, failed)
    values = {
        "setup_s": setup,
        "wall_s": harness.median(walls),
        "items_per_s": wl.items / harness.median(walls) if timed else 0.0,
        "shuffle_write_mb": harness.median([r["shuffle_write_mb"] for r in timed] or [0]),
        "peak_rss_mb": max([r["peak_rss_mb"] for r in timed] or [0]),
        "success_frac": max(0, attempted - failed) / attempted,
    }
    if timed:
        record_walls(wl.name, args.seed, [r["wall_s"] for r in timed if not r["errors"]])
        for k, v in wl.quality(timed).items():
            ctx.say(f"{k} = {v:.6f}")
    # measured every run, but too noisy here for a bound: per-layer metric
    ctx.say(f"peak_rss_mb = {values.pop('peak_rss_mb'):.6f} MB")
    return emit(ctx, spec["end_to_end"], values, attempted, failed)


def emit(ctx, metrics: list[dict], values: dict, attempted: int, failed: int) -> dict:
    out, missing = {}, []
    for m in metrics:
        v = values.get(m["name"])
        if v is None:
            missing.append(m["name"])
            v = 0.0
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
        ctx.say(f"{m['name']} = {float(v):.6f} {m['unit']}")
    if missing:
        ctx.say("not exercised by this workload (reported as 0): " + ", ".join(missing))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}


def main(argv=None) -> int:
    args = parse(argv)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    if importlib.util.find_spec("arhivum_spark") is None:
        print(f"arhivum_spark is not importable from {REPO}: run from the root "
              "of a checkout of the program", file=sys.stderr)
        return 2
    spec = load_spec()
    result = run(args, spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
