"""End-to-end image near-duplicate detection & clustering pipeline.

The Spark shape of the reference's scan lifecycle (SURVEY.md §3.1):

    stage 1  signatures   read images -> sha256 + MinHash + SimHash + pHash
                          (one Arrow-batched decode pass; bytes projected
                          away immediately after — never shuffled)
    stage 2  exact        first-wins dup flag on content_sha256; only
                          distinct-content representatives continue (the
                          reference's skip-work-for-duplicates optimization)
    stage 3  candidates   LSH band explode -> hot-key salting -> star edges
                          + phash-gated bucket-local pairs -> one
                          signature-agreement verification pass
    stage 3b psnr         decoded-pixel PSNR re-check of the stage-3 edges
    stage 4  clusters     connected components over exact+near edges,
                          representative election (best-copy window), final
                          cluster table
    stage 5  captions     SimHash near-dup caption pairs + substring
                          (suffix) containment pairs — separate output

The stages form a DAG, not a chain. s3 reads s1 and s2, s3b reads s3
(and the images), s4 reads only s2 and s3b (s2 carries each row's fmt
and content_sha256 through from s1), and s5 reads only s1.

    s1 ──> s2 ──> s3 ──> s3b ──> s4      (caller's thread)
     │      └────────────────────^
     └──> s5                             (one worker thread, from s1's
                                          commit until s4 returns)

Every stage commits a snapshot via StageStore (resume-mid-pipeline), so
the two branches commit and resume independently. All joins on
ids/signatures only.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from arhivum_spark.config import DedupConfig
from arhivum_spark.functions.signatures import attach_signatures
from arhivum_spark.operators import dedup_exact
from arhivum_spark.operators.connected_components import connected_components
from arhivum_spark.operators.lsh import candidate_edges_compact, verify_edges
from arhivum_spark.session import ARROW_BATCH_FOR_BINARY
from arhivum_spark.sources.checkpoints import StageStore

# the job's stages, s1 first and s4 after s3b; s5 (committed beside
# s2..s4 by run_pipeline, or by caption_pairs alone) can commit anywhere
# after s1
STAGES = (
    "s1_signatures",
    "s2_exact",
    "s3_candidates",
    "s3b_psnr",
    "s4_clusters",
    "s5_captions",
)


def psnr_verify_edges(
    edges: DataFrame, images: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Decoded-pixel PSNR re-check of candidate edges: keep pairs with
    PSNR >= cfg.psnr_edge_min_db (separates near-dups, ~20 dB worst case
    for the 5%-blocks-perturbed class, from unrelated pairs at ~8 dB; see
    config.py). Same-content lossy re-encodes additionally clear a
    strict 40 dB roundtrip invariant.

    Plan shape (the naive version — join bytes for src, then again for
    dst — sort-merge-shuffles the multi-GB bytes table TWICE and
    anti-scales; measured 67s@local[8] -> 130s@local[32] at 600k images):
    instead, broadcast the small (id -> edge, side) map onto ONE streaming
    pass over the images table, hash-shuffle exactly two byte payloads
    per edge on the pair key, and pair rows inside each partition with a
    sort-within-partitions + carry-aware mapInPandas — shuffle traffic is
    2 payloads/edge total, the images table itself is never shuffled and
    nothing byte-sized is ever sorted globally.

    This is the only stage after s1 that touches pixels. Pairs whose
    decoded shapes differ are dropped (not a duplicate), identical pixels
    give PSNR = inf. Reads (image_id, bytes) of `images`. Returns
    (src, dst, psnr_db).

    In-flight shuffle bound (cliff #5, BENCH.md): the payload shuffle is
    ~2 encoded images per edge, so its high-water mark grows with the
    surviving-edge count — measured ~58 GB at 4.8M images, past a single
    box's storage (kernel OOM). The edges are verified in
    n = ceil(edges / cfg.psnr_max_inflight_edges) hash-batches, batch k
    being the edges with pmod(xxhash64(src, dst), n) == k; the bound also
    caps each batch's broadcast side map at two rows per edge. Every
    batch but the last has its scored result pinned (DISK_ONLY) and its
    payload-shuffle files released (lineage truncated + JVM GC ->
    ContextCleaner) before the next batch shuffles. The trade is one
    extra images scan per extra batch. A single batch (every edge set up
    to the bound) is never pinned, so it keeps its lineage and recomputes
    on executor loss.

    `edges` is scanned once to count it and once per batch: callers pass
    a materialized frame (the pipeline passes the committed s3 snapshot).
    """
    n_batches = max(1, -(-edges.count() // cfg.psnr_max_inflight_edges))
    batch_of = F.pmod(F.xxhash64("src", "dst"), F.lit(n_batches))
    parts = []
    for b in range(n_batches):
        part = _psnr_scored(
            edges.filter(batch_of == b).select("src", "dst"), images, cfg
        )
        if b < n_batches - 1:
            part = part.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
            # the finished batch's payload shuffle is unreachable now
            # (the checkpoint truncated its lineage); one JVM GC lets
            # ContextCleaner delete its files before the next batch
            # shuffles — this is what bounds the high-water mark
            edges.sparkSession._jvm.System.gc()
        parts.append(part)
    return reduce(DataFrame.unionByName, parts)


def _psnr_scored(
    pairs: DataFrame, images: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """One PSNR verification pass over an edge subset: returns
    (src, dst, psnr_db) for the pairs clearing cfg.psnr_edge_min_db.
    The (id -> edge, side) side map is always broadcast onto the images
    scan; the caller bounds its size. See psnr_verify_edges for the plan
    shape."""
    from collections.abc import Iterator

    from arhivum_spark import codec

    thresh = float(cfg.psnr_edge_min_db)

    side_map = (
        pairs.select(
            F.col("src").alias("image_id"), "src", "dst",
            F.lit(0).alias("_side"),
        )
        .unionByName(
            pairs.select(
                F.col("dst").alias("image_id"), "src", "dst",
                F.lit(1).alias("_side"),
            )
        )
    )
    # NEVER dedup/shuffle the images frame itself here — that moves every
    # byte payload; duplicate image_ids are instead handled side-aware in
    # the pair walk below.
    joined = images.select("image_id", "bytes").join(
        F.broadcast(side_map), "image_id"
    )
    payload = joined.select("src", "dst", "_side", F.col("bytes").alias("_b"))

    def pair_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None  # a pair can straddle Arrow batch boundaries
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            src = pdf["src"].to_numpy()
            dst = pdf["dst"].to_numpy()
            side = pdf["_side"].to_numpy()
            blobs = pdf["_b"].to_numpy()
            n = len(src)
            out_src, out_dst, out_psnr = [], [], []
            i = 0
            while i < n:
                if i == n - 1:
                    carry = pdf.iloc[[i]]
                    break
                # side-aware pairing: a duplicate image_id upstream emits
                # >2 rows per (src,dst) — requiring side 0 then side 1
                # guarantees a cross-image comparison and never compares
                # two copies of the same side (PSNR=inf false pass)
                if (
                    src[i] == src[i + 1]
                    and dst[i] == dst[i + 1]
                    and side[i] == 0
                    and side[i + 1] == 1
                ):
                    try:
                        pa = codec.decode_any(bytes(blobs[i]))
                        pb = codec.decode_any(bytes(blobs[i + 1]))
                        v = (
                            codec.psnr(pa, pb)
                            if pa.shape == pb.shape
                            else -1.0
                        )
                    except NotImplementedError:
                        # no codec for this format / codec misconfiguration:
                        # an INFRASTRUCTURE failure, not a verdict.
                        # Mapping it to -1 would silently reject 100% of
                        # candidate edges and commit a plausible-looking
                        # empty s3b snapshot — fail the stage loudly.
                        raise
                    except Exception:
                        v = -1.0
                    out_src.append(src[i])
                    out_dst.append(dst[i])
                    out_psnr.append(v)
                    i += 2
                else:
                    # unmatched row (partner lost upstream) — drop it
                    i += 1
            yield pd.DataFrame(
                {"src": out_src, "dst": out_dst, "psnr_db": out_psnr}
            )

    src_t = dict(pairs.dtypes)["src"]
    dst_t = dict(pairs.dtypes)["dst"]
    return (
        payload.repartition("src", "dst")
        .sortWithinPartitions("src", "dst", "_side")
        .mapInPandas(
            pair_partition,
            schema=f"src {src_t}, dst {dst_t}, psnr_db double",
        )
        .filter(F.col("psnr_db") >= thresh)
    )


@contextmanager
def pinned_reader_batch(spark, rows: int = ARROW_BATCH_FOR_BINARY):
    """Bound the session's parquet vectorized-reader batch
    (``spark.sql.parquet.columnarReaderBatchSize``) to ``rows`` for the
    duration of the block, restoring the prior value on exit. The default,
    256 rows (the pandas-UDF Arrow batch bound), keeps an images table
    averaging ~23 KB of encoded bytes per row at ~6 MB per thread.

    The reader reserves batch_rows x avg-cell-bytes CONTIGUOUS bytes per
    task thread; on multi-KB binary image columns the 4096-row default is
    ~95 MB/thread — a guaranteed heap OOM at 32 threads on a 16 GB heap
    (measured at 2.4M images, round 4; hit AGAIN in round 5 through the
    caption-only harness path that called attach_signatures without the
    pipeline's pin — hence this shared guard). ANY plan that scans an
    image-bytes parquet with pandas UDFs downstream must run inside this.
    """
    conf = spark.conf
    key = "spark.sql.parquet.columnarReaderBatchSize"
    prior = conf.get(key, None)
    conf.set(key, str(rows))
    try:
        yield
    finally:
        if prior is None:
            conf.unset(key)
        else:
            conf.set(key, prior)


def run_pipeline(
    images: DataFrame,
    store: StageStore,
    cfg: DedupConfig = DedupConfig(),
    captions: bool = True,
) -> DataFrame:
    """images -> committed cluster table (image_id, cluster_id, is_duplicate,
    representative_id, content_sha256). Resumes from committed stages.

    captions: also commit s5 (see caption_pairs) to ``store``. s5 reads
    only the s1 signatures, so it starts as soon as s1 commits and runs on
    one worker thread beside s2..s4. The thread carries the caller's local
    properties (job group, scheduler pool) and the session's tags, so its
    Spark jobs are the caller's jobs. It is joined before this returns: no
    thread outlives the call. If s2..s4 fail, the error is raised once s5
    has finished, with s5's error (if any) chained at the end of its
    context; if only s5 fails, its error is raised. Afterwards
    ``caption_pairs(sigs, store, cfg)`` on the same store is a read of the
    committed snapshot.

    Side effect: bounds the session's parquet vectorized-reader batch to
    ``ARROW_BATCH_FOR_BINARY`` rows for the DURATION of the pipeline, s5
    included — every scan this pipeline performs carries multi-KB binary
    payloads (see pinned_reader_batch). The prior session value is
    restored on return so unrelated queries sharing the session keep the
    default (wide) vectorized-scan batches.
    """
    with pinned_reader_batch(images.sparkSession):
        return _run_pipeline_stages(images, store, cfg, captions)


@contextmanager
def _beside(spark, side):
    """Run ``side()`` (if given) on one worker thread while the block runs
    and join it when the block exits, however it exits. The block's error
    wins and gets ``side``'s error chained at the end of its context (and
    named in a note, since PySpark raises its converted errors with the
    context display suppressed); ``side``'s error alone is re-raised."""
    if side is None:
        yield
        return
    errors: list[BaseException] = []

    def target() -> None:
        try:
            side()
        except BaseException as e:  # handed to the joining thread
            errors.append(e)

    worker = threading.Thread(
        target=inheritable_thread_target(spark)(target), name="s5_captions"
    )
    worker.start()
    try:
        yield
    except BaseException as err:
        worker.join()
        if errors:
            tail = err
            while tail.__context__ is not None:
                tail = tail.__context__
            tail.__context__ = errors[0]
            err.add_note(f"s5_captions failed as well: {errors[0]!r}")
        raise
    worker.join()
    if errors:
        raise errors[0]


def _run_pipeline_stages(
    images: DataFrame,
    store: StageStore,
    cfg: DedupConfig,
    captions: bool,
) -> DataFrame:
    sigs = store.read_or_compute(
        "s1_signatures",
        lambda: attach_signatures(images, cfg),
        materialize_first=True,  # pandas-UDF stage (see StageStore.write)
    )

    side = (lambda: caption_pairs(sigs, store, cfg)) if captions else None
    with _beside(images.sparkSession, side):
        return _image_chain(images, sigs, store, cfg)


def _image_chain(
    images: DataFrame,
    sigs: DataFrame,
    store: StageStore,
    cfg: DedupConfig,
) -> DataFrame:
    """s2 -> s3 -> s3b -> s4 over the committed s1 signatures."""

    def exact_stage() -> DataFrame:
        # fmt rides along for s4's representative election, so s4 reads
        # no s1 column
        return dedup_exact.flag_duplicates(
            sigs.select("image_id", "content_sha256", "fmt"),
            hash_col="content_sha256",
            id_col="image_id",
        )
    exact = store.read_or_compute("s2_exact", exact_stage)

    def candidate_stage() -> DataFrame:
        reps = exact.filter(~F.col("is_duplicate")).select("image_id")
        rep_sigs = sigs.join(reps, "image_id", "left_semi")
        cand = candidate_edges_compact(rep_sigs, cfg)
        return verify_edges(cand, rep_sigs, cfg)
    sig_edges = store.read_or_compute("s3_candidates", candidate_stage)
    near_edges = store.read_or_compute(
        "s3b_psnr",
        lambda: psnr_verify_edges(sig_edges, images, cfg),
        materialize_first=True,  # pandas-UDF stage
    )

    def cluster_stage() -> DataFrame:
        # CC runs over near-dup edges between exact-representatives ONLY:
        # byte-identical duplicates inherit their representative's component
        # through one join afterwards — they never enter label propagation
        # (at 10^12 rows the exact-dup star edges would dominate the CC
        # graph while carrying zero connectivity information). No
        # distinct() on the edges: duplicate edges cannot change a
        # component minimum.
        reps = exact.filter(~F.col("is_duplicate")).select(
            F.col("image_id").alias("id")
        )
        comp = connected_components(
            reps, near_edges.select("src", "dst"),
            max_iters=cfg.cc_max_iters, id_col="id",
        )
        # every row -> its exact-representative's component
        rows = exact.select(
            "image_id",
            F.col("representative_id").alias("_rep"),
            "fmt",
            "content_sha256",
        )
        members = rows.join(
            comp.select(F.col("id").alias("_rep"), "component"), "_rep"
        ).drop("_rep")
        # representative election (W2/J5): lossless copies first, then id asc
        w = Window.partitionBy("component").orderBy(
            F.when(F.col("fmt") == "png", 0).otherwise(1).asc(),
            F.col("image_id").asc(),
        )
        return (
            members.withColumn("representative_id", F.first("image_id").over(w))
            .withColumn(
                "is_duplicate", F.col("image_id") != F.col("representative_id")
            )
            .select(
                "image_id",
                F.col("component").alias("cluster_id"),
                "is_duplicate",
                "representative_id",
                "content_sha256",
            )
        )

    return store.read_or_compute("s4_clusters", cluster_stage)


def caption_pairs(
    sigs: DataFrame, store: StageStore, cfg: DedupConfig = DedupConfig()
) -> DataFrame:
    """Caption near-dup pairs: SimHash banding + substring containment,
    committed as s5 (id_a, id_b, pair_class). run_pipeline calls this on
    its worker thread beside s2..s4; called afterwards on the same store,
    it reads that snapshot back. On a store where s5 was never run it
    computes and commits the stage here."""
    from arhivum_spark.operators.dedup_text import (
        simhash_near_pairs,
        substring_pairs,
    )

    def compute() -> DataFrame:
        near = simhash_near_pairs(
            sigs.select("image_id", "simhash"), cfg,
            id_col="image_id", simhash_col="simhash",
        ).select("id_a", "id_b", F.lit("caption_simhash").alias("pair_class"))
        # collapse_identical: the boilerplate-caption cohort (north-rule
        # skew case) would otherwise enumerate all ~g^2 mutual-containment
        # pairs through one hot join key (10^12 pairs for a million-row
        # cohort at scale); rep-level edges + identity stars cover the
        # same relation (expansion-equivalence test-gated)
        subs = substring_pairs(
            sigs.select(F.col("image_id").alias("id"), F.col("caption").alias("text")),
            cfg,
            collapse_identical=True,
        ).select(
            F.col("contained_id").alias("id_a"),
            F.col("container_id").alias("id_b"),
            F.lit("caption_substring").alias("pair_class"),
        )
        return near.unionByName(subs)

    return store.read_or_compute("s5_captions", compute)
