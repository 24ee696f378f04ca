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
    stage 4  clusters     connected components over exact+near edges,
                          representative election (best-copy window), final
                          cluster table
    stage 5  captions     SimHash near-dup caption pairs + substring
                          (suffix) containment pairs — separate output

Every stage commits a snapshot via StageStore (resume-mid-pipeline) and
appends per-partition metrics. All joins on ids/signatures only.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from arhivum_spark.config import DedupConfig
from arhivum_spark.functions.signatures import attach_signatures
from arhivum_spark.operators import dedup_exact
from arhivum_spark.operators.connected_components import connected_components
from arhivum_spark.operators.lsh import candidate_edges_compact, verify_edges
from arhivum_spark.sources.checkpoints import StageStore


def psnr_verify_edges(
    edges: DataFrame,
    images: DataFrame,
    cfg: DedupConfig,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Decoded-pixel PSNR re-check of candidate edges: keep pairs with
    PSNR >= cfg.psnr_edge_min_db (separates near-dups, ~20 dB worst case
    for the 5%-blocks-perturbed class, from unrelated pairs at ~8 dB; see
    config.py). Same-content lossy re-encodes additionally clear the
    strict cfg.psnr_verify_db roundtrip invariant.

    Plan shape (the naive version — join bytes for src, then again for
    dst — sort-merge-shuffles the multi-GB bytes table TWICE and
    anti-scales; measured 67s@local[8] -> 130s@local[32] at 600k images):
    instead, broadcast the tiny (id -> edge, side) map onto ONE streaming
    pass over the images table, hash-shuffle exactly two byte payloads
    per edge on the pair key, and pair rows inside each partition with a
    sort-within-partitions + carry-aware mapInPandas — shuffle traffic is
    2 payloads/edge total and nothing byte-sized is ever sorted globally.
    When the edge set exceeds cfg.psnr_broadcast_max_edges the side map
    would blow the broadcast limit, so the map join falls back to a
    shuffle hash join keyed on id (same 2-payloads/edge bound; only the
    join strategy changes — identical output on both paths, test-gated).

    This is the only stage after s1 that touches pixels. Pairs whose
    decoded shapes differ are dropped (not a duplicate), identical pixels
    give PSNR = inf. Adds `psnr_db`.

    In-flight shuffle bound (cliff #5, BENCH.md): the payload shuffle is
    ~2 encoded images per edge, so its high-water mark grows with the
    surviving-edge count — measured ~58 GB at 4.8M images, past a single
    box's storage (kernel OOM). Edge sets above
    cfg.psnr_max_inflight_edges are verified in ceil(n/bound) hash-split
    batches: each batch's side map is broadcast-small, each batch's
    scored result is pinned (DISK_ONLY) and its payload-shuffle files
    released (lineage truncated + JVM GC -> ContextCleaner) before the
    next batch shuffles. The trade is one extra images scan per extra
    batch; identical output to the single-shot path (test-gated).
    """
    pairs = edges.select("src", "dst")
    n_edges = pairs.count()
    bound = cfg.psnr_max_inflight_edges
    if bound is not None and bound <= 0:
        raise ValueError(
            "psnr_max_inflight_edges must be >= 1 (or None to disable "
            f"batching), got {bound}"
        )
    if bound is not None and n_edges > bound:
        n_batches = -(-n_edges // bound)
        # broadcast-vs-shuffle is a per-BATCH decision: each batch holds
        # ~ceil(n_edges/n_batches) edges, which may fit the broadcast
        # bound even when the configured in-flight bound does not
        batch_edges = -(-n_edges // n_batches)
        # DISK_ONLY like every other pin in this stage: the batching
        # path only activates on multi-million-edge sets, and parking
        # the pair frame on-heap would erode the contiguous-allocation
        # headroom the byte-bearing batch scans need (cliff #4/#5)
        split = pairs.withColumn(
            "_pb", F.pmod(F.xxhash64("src", "dst"), F.lit(n_batches))
        ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        parts = []
        for b in range(n_batches):
            part = _psnr_scored(
                split.filter(F.col("_pb") == b).drop("_pb"),
                images,
                cfg,
                id_col,
                bytes_col,
                use_broadcast=batch_edges <= cfg.psnr_broadcast_max_edges,
            ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
            parts.append(part)
            # the finished batch's payload shuffle is unreachable now
            # (the checkpoint truncated its lineage); one JVM GC lets
            # ContextCleaner delete its files before the next batch
            # shuffles — this is what bounds the high-water mark
            edges.sparkSession._jvm.System.gc()
        scored = parts[0]
        for p in parts[1:]:
            scored = scored.unionByName(p)
        return edges.join(scored, ["src", "dst"])
    return edges.join(
        _psnr_scored(
            pairs,
            images,
            cfg,
            id_col,
            bytes_col,
            use_broadcast=n_edges <= cfg.psnr_broadcast_max_edges,
        ),
        ["src", "dst"],
    )


def _psnr_scored(
    pairs: DataFrame,
    images: DataFrame,
    cfg: DedupConfig,
    id_col: str,
    bytes_col: str,
    use_broadcast: bool,
) -> DataFrame:
    """One PSNR verification pass over an edge subset: returns
    (src, dst, psnr_db) for the pairs clearing cfg.psnr_edge_min_db.
    See psnr_verify_edges for the plan shape."""
    from collections.abc import Iterator

    from arhivum_spark import codec
    from arhivum_spark.operators.multimodal import _decode_any

    thresh = float(cfg.psnr_edge_min_db)

    side_map = (
        pairs.select(
            F.col("src").alias(id_col), "src", "dst", F.lit(0).alias("_side")
        )
        .unionByName(
            pairs.select(
                F.col("dst").alias(id_col), "src", "dst",
                F.lit(1).alias("_side"),
            )
        )
    )
    # Side-map join strategy: broadcast while the edge subset is small
    # (the common case — signature verification already filtered, and the
    # inflight-edge batching keeps subsets below the bound); past it the
    # map outgrows broadcast, so switch to a shuffle hash join keyed on
    # id. Identical output either way.
    # (NEVER dedup/shuffle the images frame itself here — that moves every
    # byte payload; duplicate image_ids are instead handled side-aware in
    # the pair walk below.)
    if use_broadcast:
        joined = images.select(id_col, bytes_col).join(
            F.broadcast(side_map), id_col
        )
    else:
        # the hint matters: without it Catalyst picks sort-merge
        # (preferSortMergeJoin defaults true), which SORTS the multi-GB
        # byte payloads on id — the exact anti-scaling pattern this
        # function exists to avoid. SHUFFLE_HASH builds the hash table
        # from the small side-map side and streams the bytes through.
        joined = images.select(id_col, bytes_col).join(
            side_map.hint("shuffle_hash"), id_col
        )
    payload = joined.select(
        "src", "dst", "_side", F.col(bytes_col).alias("_b")
    )

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
                        pa = _decode_any(bytes(blobs[i]), "")
                        pb = _decode_any(bytes(blobs[i + 1]), "")
                        v = (
                            codec.psnr(pa, pb)
                            if pa.shape == pb.shape
                            else -1.0
                        )
                    except NotImplementedError:
                        # decode_external stub / codec misconfiguration:
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
def pinned_reader_batch(spark, rows: int | None):
    """Bound the session's parquet vectorized-reader batch
    (``spark.sql.parquet.columnarReaderBatchSize``) to ``rows`` for the
    duration of the block, restoring the prior value on exit.

    The reader reserves batch_rows x avg-cell-bytes CONTIGUOUS bytes per
    task thread; on multi-KB binary image columns the 4096-row default is
    ~95 MB/thread — a guaranteed heap OOM at 32 threads on a 16 GB heap
    (measured at 2.4M images, round 4; hit AGAIN in round 5 through the
    caption-only harness path that called attach_signatures without the
    pipeline's pin — hence this shared guard). ANY plan that scans an
    image-bytes parquet with pandas UDFs downstream must run inside this.
    ``rows=None`` is a no-op passthrough.
    """
    if rows is None:
        yield
        return
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
) -> DataFrame:
    """images -> committed cluster table (image_id, cluster_id, is_duplicate,
    representative_id, content_sha256). Resumes from committed stages.

    Side effect: bounds the session's parquet vectorized-reader batch to
    ``cfg.parquet_batch_rows`` for the DURATION of the pipeline — every
    scan this pipeline performs carries multi-KB binary payloads (see
    pinned_reader_batch). The prior session value is restored on return
    so unrelated queries sharing the session keep the default (wide)
    vectorized-scan batches.
    """
    with pinned_reader_batch(images.sparkSession, cfg.parquet_batch_rows):
        return _run_pipeline_stages(images, store, cfg)


def _run_pipeline_stages(
    images: DataFrame,
    store: StageStore,
    cfg: DedupConfig,
) -> DataFrame:
    sigs = store.read_or_compute(
        "s1_signatures",
        lambda: attach_signatures(images, cfg),
        materialize_first=True,  # pandas-UDF stage (see StageStore.write)
    )

    def exact_stage() -> DataFrame:
        return dedup_exact.flag_duplicates(
            sigs.select("image_id", "content_sha256"),
            hash_col="content_sha256",
            id_col="image_id",
        )
    exact = store.read_or_compute("s2_exact", exact_stage)

    def candidate_stage() -> DataFrame:
        reps = exact.filter(~F.col("is_duplicate")).select("image_id")
        rep_sigs = sigs.join(reps, "image_id", "left_semi")
        cand = candidate_edges_compact(rep_sigs, cfg)
        return verify_edges(cand, rep_sigs, cfg)
    near_edges = store.read_or_compute("s3_candidates", candidate_stage)

    if cfg.psnr_verify_enabled:
        sig_edges = near_edges
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
        rows = exact.select("image_id", F.col("representative_id").alias("_rep"))
        labeled = rows.join(
            comp.select(F.col("id").alias("_rep"), "component"), "_rep"
        ).drop("_rep")
        # representative election (W2/J5): lossless copies first, then id asc
        members = labeled.join(
            sigs.select(F.col("image_id").alias("_sid"), "fmt", "content_sha256"),
            F.col("image_id") == F.col("_sid"),
        ).drop("_sid")
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
    """Caption near-dup pairs: SimHash banding + substring containment."""
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
