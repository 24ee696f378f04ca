"""The ``keys`` workload: the image-dedup job on a 64 px datagen corpus.

One operation is what ``arhivum_spark.cli.run`` does with
``--captions-out``: ``run_pipeline``, the cluster-table write,
``caption_pairs`` and the caption write, on a fresh stage root. Each output
is checked against the planted ground truth of ``datagen``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time

from pyspark.sql import functions as F

from arhivum_spark import datagen
from arhivum_spark.config import DedupConfig
from arhivum_spark.operators.connected_components import connected_components
from arhivum_spark.operators.lsh import candidate_edges_compact
from arhivum_spark.plans.image_dedup import caption_pairs, run_pipeline
from arhivum_spark.sources.checkpoints import StageStore
from bench_recall import pair_count

import kernels
from harness import Tracer
from stages import STAGES, TracedStageStore

N_IMAGES = 2000
PX = 64
MIN_RECALL = 0.99
KEEP_CORPORA = 4


def make_corpus(spark, work: str, p: datagen.GenParams, partitions: int) -> str:
    """Generate the corpus once per (workload, seed, n, px) and keep it on
    disk; later runs with the same seed reuse it."""
    root = os.path.join(work, "corpora")
    path = os.path.join(root, f"keys-s{p.seed}-n{p.n}-px{p.img_hw}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    datagen.images_df(spark, p, partitions=partitions).write.mode(
        "overwrite"
    ).parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    # bound the cache: keep the newest few corpora
    kept = sorted(glob.glob(os.path.join(root, "keys-*")), key=os.path.getmtime)
    for old in kept[:-KEEP_CORPORA]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def dup_pair_recall(truth, pred) -> tuple[float, int]:
    """Share of planted same-cluster pairs that share a predicted cluster,
    and the number of truth rows missing from the output."""
    merged = truth.merge(pred, on="image_id", how="left", suffixes=("_t", "_p"))
    lost = int(merged["cluster_id_p"].isna().sum())
    total = pair_count(merged.groupby("cluster_id_t").size().values)
    hit = pair_count(
        merged.groupby(["cluster_id_t", "cluster_id_p"]).size().values
    )
    return (hit / total if total else 1.0), lost


def caption_pair_recall(truth, captions, got) -> float:
    """Recall of ``datagen.truth_caption_pairs`` with covering semantics:
    the caption stage collapses identical captions to their min-id
    representative, so a pair also counts when it is linked through the
    representatives of both ends. ``covered`` is the inner function of
    ``bench_recall.caption_recall``, which cannot be imported on its own."""
    got_set = set(zip(got["id_a"], got["id_b"])) | set(zip(got["id_b"], got["id_a"]))
    rep = captions.groupby("caption")["image_id"].min()
    id_rep = dict(zip(captions["image_id"], captions["caption"].map(rep)))

    def covered(a: str, b: str) -> bool:
        if (a, b) in got_set:
            return True
        ra, rb = id_rep[a], id_rep[b]
        return (
            (a == ra or (a, ra) in got_set)
            and (b == rb or (b, rb) in got_set)
            and (ra == rb or (ra, rb) in got_set)
        )

    hits = sum(covered(a, b) for a, b in zip(truth["image_id_a"], truth["image_id_b"]))
    return hits / len(truth)


class KeysWorkload:
    name = "keys"

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.cfg = DedupConfig()
        self.params = datagen.GenParams(n=N_IMAGES, seed=seed, img_hw=PX)
        self.items = N_IMAGES
        self.gen_s = 0.0
        self.truth = None  # built at the first check, after the timed call
        self.jobs_root = os.path.join(ctx.work, "jobs", ctx.run_id)

    # -- set-up -----------------------------------------------------------
    def open(self, spark) -> None:
        """Open the corpus; generate it first if no earlier run has. The
        generation is timed on its own, outside set-up."""
        t0 = time.perf_counter()
        parts = 2 * self.ctx.settings["cores"]
        self.corpus = make_corpus(spark, self.ctx.work, self.params, parts)
        self.gen_s += time.perf_counter() - t0
        self.images = spark.read.parquet(self.corpus)
        self.spark = spark

    def load_truth(self) -> None:
        """The ground truth the gate checks against."""
        self.truth = datagen.truth_clusters(self.params)
        self.caption_truth = datagen.truth_caption_pairs(self.params)
        self.captions = self.images.select("image_id", "caption").toPandas()

    # -- one operation ----------------------------------------------------
    def job(self, tag, images, tracer: Tracer, root: str | None = None) -> dict:
        if root is None:
            root = os.path.join(self.jobs_root, str(tag))
            shutil.rmtree(root, ignore_errors=True)
        stages_root = os.path.join(root, "stages")
        spark, counters = self.spark, self.ctx.counters
        store = (
            TracedStageStore(spark, stages_root, tracer, counters)
            if tracer.enabled
            else StageStore(spark, stages_root)
        )
        group = f"job:{self.ctx.run_id}:{tag}"
        writes = {}
        self.ctx.rss.reset()
        with tracer.span("job", tag=str(tag)), counters.group(group):
            t0 = time.perf_counter()
            clusters = run_pipeline(images, store, self.cfg)
            w0 = time.perf_counter()
            with tracer.span("cluster_write"):
                clusters.write.mode("overwrite").parquet(os.path.join(root, "clusters"))
            writes["cluster_write_s"] = time.perf_counter() - w0
            with tracer.span("caption_pairs"):
                caps = caption_pairs(store.read("s1_signatures"), store, self.cfg)
            w0 = time.perf_counter()
            with tracer.span("caption_write"):
                caps.write.mode("overwrite").parquet(os.path.join(root, "captions"))
            writes["caption_write_s"] = time.perf_counter() - w0
            wall = time.perf_counter() - t0
        spark_totals = counters.read(group)
        stages = getattr(store, "stages", {})
        for rec in stages.values():
            spark_totals["shuffle_write_mb"] += rec["shuffle_write_mb"]
        return {
            "root": root,
            "wall_s": wall,
            "shuffle_write_mb": spark_totals["shuffle_write_mb"],
            "peak_rss_mb": self.ctx.rss.peak,
            "stages": stages,
            "trace_self_s": getattr(store, "self_s", 0.0),
            **writes,
        }

    def check(self, res: dict) -> list[str]:
        """Correctness gate of one job; returns the failures found."""
        if self.truth is None:
            self.load_truth()
        spark, root = self.spark, res["root"]
        clusters = spark.read.parquet(os.path.join(root, "clusters"))
        captions = spark.read.parquet(os.path.join(root, "captions"))
        c = clusters.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(image_id, cluster_id))").alias("x"),
            F.countDistinct("cluster_id").alias("k"),
        ).first()
        cc = captions.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(id_a, id_b, pair_class))").alias("x"),
        ).first()
        sums = {"rows": c["n"], "clusters": c["k"], "cluster_xor": c["x"],
                "caption_rows": cc["n"], "caption_xor": cc["x"]}
        recall, lost = dup_pair_recall(
            self.truth, clusters.select("image_id", "cluster_id").toPandas()
        )
        cap_recall = caption_pair_recall(
            self.caption_truth, self.captions,
            captions.select("id_a", "id_b").toPandas(),
        )
        res.update(checksums=sums, dup_pair_recall=recall,
                   caption_pair_recall=cap_recall)
        self.ctx.say(f"{self.name} job {os.path.basename(root)}: "
                     f"checksums {json.dumps(sums)} dup_pair_recall {recall:.6f} "
                     f"caption_pair_recall {cap_recall:.6f}")
        errors = []
        if recall < MIN_RECALL:
            errors.append(f"dup_pair_recall {recall:.6f} < {MIN_RECALL}")
        if lost:
            errors.append(f"{lost} truth rows missing from the cluster table")
        if cap_recall < MIN_RECALL:
            errors.append(f"caption_pair_recall {cap_recall:.6f} < {MIN_RECALL}")
        if sums["rows"] != self.params.n:
            errors.append(f"cluster table has {sums['rows']} rows, corpus {self.params.n}")
        # the first passing job at this seed sets the reference. It is kept
        # apart from the corpus cache, which evicts old corpora, so every
        # later job at the seed, in this run or another, is held to it
        ref_dir = os.path.join(self.ctx.work, "checksums")
        ref_path = os.path.join(ref_dir, os.path.basename(self.corpus) + ".json")
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                ref = json.load(f)
            if sums != ref:
                errors.append(f"checksums {sums} differ from the first job at "
                              f"this seed {ref}")
        elif not errors:
            os.makedirs(ref_dir, exist_ok=True)
            with open(ref_path, "w") as f:
                json.dump(sums, f)
        return errors

    def op(self, k: int) -> dict:
        res = self.job(k, self.images, Tracer(False))
        res["errors"] = self.check(res)
        res["attempted"], res["failed"] = 1, int(bool(res["errors"]))
        shutil.rmtree(res["root"], ignore_errors=True)
        return res

    def end_checks(self) -> list[str]:
        return []  # every job is checked as it ends

    def quality(self, results: list[dict]) -> dict:
        ok = [r for r in results if "dup_pair_recall" in r]
        return {
            "quality.dup_pair_recall": min(r["dup_pair_recall"] for r in ok),
            "quality.caption_pair_recall": min(r["caption_pair_recall"] for r in ok),
        }

    # -- traced run ---------------------------------------------------------
    def traced(self, tracer: Tracer) -> tuple[dict, list[str], int]:
        """One traced job and its resume from the s1/s2 snapshot (two
        operations), and the operator counters of its committed stages."""
        m: dict[str, float] = {}
        res = self.job("traced", self.images, tracer)
        errors = self.check(res)
        m.update(self.quality([res]))
        m["trace.wall_s"] = res["wall_s"]
        m["trace.self_s"] = res["trace_self_s"]
        m["peak_rss_mb"] = res["peak_rss_mb"]
        covered = sum(r["wall_s"] for r in res["stages"].values())
        covered += res["cluster_write_s"] + res["caption_write_s"]
        m["job.cluster_write_s"] = res["cluster_write_s"]
        m["job.caption_write_s"] = res["caption_write_s"]
        m["stages.uncovered_s"] = res["wall_s"] - covered
        m["stages.uncovered_frac"] = (res["wall_s"] - covered) / res["wall_s"]
        for stage in STAGES:
            rec = res["stages"][stage]
            for key in ("wall_s", "write_s", "jobs", "shuffle_write_mb",
                        "spill_mb", "peak_exec_mem_mb", "executor_run_s",
                        "rows_out"):
                m[f"{stage}.{key}"] = float(rec[key])
        stages_root = os.path.join(res["root"], "stages")
        m.update(self.operator_counters(stages_root))
        m["checkpoints.write_s"] = sum(r["write_s"] for r in res["stages"].values())
        m["checkpoints.bytes_written_mb"] = sum(
            r["bytes_mb"] for r in res["stages"].values()
        )

        # resume: a fresh root holding only the committed s1/s2 snapshot,
        # as after a driver loss just after s2 commits
        t0 = time.perf_counter()
        resume_root = os.path.join(self.jobs_root, "resume")
        restore_snapshot(stages_root, os.path.join(resume_root, "stages"),
                         ("s1_signatures", "s2_exact"))
        m["resume.restore_s"] = time.perf_counter() - t0
        resumed = self.job("resume", self.images, tracer, root=resume_root)
        # check() holds the resumed checksums to the uninterrupted job's
        errors += self.check(resumed)
        m["resume.wall_s"] = resumed["wall_s"]
        m["checkpoints.reused_stages"] = float(
            sum(r["reused"] for r in resumed["stages"].values())
        )
        for stage in ("s1_signatures", "s3_candidates"):
            m[f"resume.{stage}.wall_s"] = resumed["stages"][stage]["wall_s"]
        self.ctx.say("resume: " + ", ".join(
            f"{s} {'reused' if r['reused'] else 'computed'}"
            for s, r in resumed["stages"].items()))

        m["arrow.px64.identity_ms"] = kernels.arrow_identity_ms(self.images, N_IMAGES)
        return m, errors, 2

    def operator_counters(self, stages_root: str) -> dict:
        """Domain counters of each operator, read from the outputs of its
        public function on the committed stage snapshots."""
        spark, cfg = self.spark, self.cfg
        store = StageStore(spark, stages_root)
        sigs, exact = store.read("s1_signatures"), store.read("s2_exact")
        reps = exact.filter(~F.col("is_duplicate")).select("image_id")
        rep_sigs = sigs.join(reps, "image_id", "left_semi")
        candidates = candidate_edges_compact(rep_sigs, cfg).count()
        verified = store.read("s3_candidates").count()
        near = store.read("s3b_psnr")
        psnr_out = near.count()
        bound = cfg.psnr_max_inflight_edges
        batches = math.ceil(verified / bound) if bound and verified > bound else 1
        cc: dict = {}
        connected_components(
            reps.select(F.col("image_id").alias("id")),
            near.select("src", "dst").distinct(),
            max_iters=cfg.cc_max_iters, id_col="id", stats=cc,
        )
        pairs = dict(
            store.read("s5_captions").groupBy("pair_class").count().collect()
        )
        return {
            "lsh.candidate_edges": float(candidates),
            "lsh.verified_edges": float(verified),
            "lsh.verify_pass_ratio": verified / candidates if candidates else 0.0,
            "psnr.edges_in": float(verified),
            "psnr.edges_out": float(psnr_out),
            "psnr.pass_ratio": psnr_out / verified if verified else 0.0,
            "psnr.batches": float(batches),
            "cc.rounds": float(cc.get("rounds", 0)),
            "cc.fallback": float(bool(cc.get("fallback", False))),
            "exact.dup_rows": float(exact.filter(F.col("is_duplicate")).count()),
            "captions.simhash_pairs": float(pairs.get("caption_simhash", 0)),
            "captions.substring_pairs": float(pairs.get("caption_substring", 0)),
        }


def restore_snapshot(src: str, dst: str, stages) -> None:
    """Copy committed stage snapshots and their manifest entries."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    with open(os.path.join(src, "manifest.json")) as f:
        manifest = json.load(f)
    for stage in stages:
        shutil.copytree(os.path.join(src, stage), os.path.join(dst, stage))
    kept = {s: manifest["stages"][s] for s in stages}
    with open(os.path.join(dst, "manifest.json"), "w") as f:
        json.dump({"stages": kept}, f)
