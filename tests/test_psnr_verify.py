"""Decoded-pixel PSNR verification of candidate edges (pipeline stage s3b,
`plans.image_dedup.psnr_verify_edges`): verdicts, hash-batching, plan
shape, and duplicate-id and codec-error handling (s1 shares the codec
dispatch)."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from arhivum_spark import codec
from arhivum_spark.config import DedupConfig
from arhivum_spark.functions.signatures import attach_signatures
from arhivum_spark.plans import image_dedup
from arhivum_spark.plans.image_dedup import psnr_verify_edges

# lossy re-encode roundtrip invariant: same content decodes >= 40 dB
ROUNDTRIP_MIN_DB = 40.0


def _mini_images_and_edges(spark):
    rng = np.random.default_rng(11)
    rows, edges = [], []
    for i in range(8):
        px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        rows.append((f"img{i}", codec.encode_lossless(px)))
        # a lossy re-encode partner: high PSNR, keeps the edge
        rows.append((f"img{i}x", codec.encode_lossy(px, 8)))
        edges.append((f"img{i}", f"img{i}x"))
    # one unrelated pair: low PSNR, dropped
    edges.append(("img0", "img5"))
    images = spark.createDataFrame(rows, ["image_id", "bytes"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    return images, edf


def test_psnr_verify_filters_false_edges(spark):
    """s3b: a lossy re-encode pair survives AND clears the strict 40 dB
    roundtrip invariant; a 5%-blocks-perturbed near-dup survives the edge
    bound; an edge between DIFFERENT images is dropped even if LSH
    proposed it, as is a decoded-shape mismatch."""
    cfg = DedupConfig()
    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    perturbed = base.copy()
    perturbed[:8, :8] = rng.integers(0, 256, size=(8, 8, 3))  # ~6% of blocks
    rows = [
        (1, bytearray(codec.encode_lossless(base))),
        (2, bytearray(codec.encode_lossy(base, 8))),   # re-encode of base
        (3, bytearray(codec.encode_lossless(other))),  # unrelated
        (4, bytearray(codec.encode_lossless(base[:16]))),  # shape mismatch
        (5, bytearray(codec.encode_lossless(perturbed))),  # near-dup
    ]
    images = spark.createDataFrame(rows, ["image_id", "bytes"])
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], ["src", "dst"]
    )
    out = psnr_verify_edges(edges, images, cfg)
    got = {(r.src, r.dst): r.psnr_db for r in out.collect()}
    assert set(got) == {(1, 2), (1, 5)}
    assert got[(1, 2)] >= ROUNDTRIP_MIN_DB
    assert got[(1, 5)] >= cfg.psnr_edge_min_db


def test_psnr_inflight_batching_matches_single_shot(spark, monkeypatch):
    """Cliff #5 regression: the PSNR stage's in-flight shuffle bound
    (DedupConfig.psnr_max_inflight_edges, a constant read on the driver,
    lowered here) splits the edge set into hash-batches verified
    sequentially — output must be identical to the single batch the
    constant gives (same edges, same psnr_db) at every batch count, and
    an empty edge set verifies to nothing."""
    images, edges = _mini_images_and_edges(spark)
    cfg = DedupConfig()

    def run(edf):
        return {
            (r.src, r.dst, round(r.psnr_db, 6))
            for r in psnr_verify_edges(edf, images, cfg).collect()
        }

    base = run(edges)
    assert len(base) == 8
    empty = edges.limit(0)
    assert run(empty) == set()
    for bound in (5, 3, 2, 1):  # 9 edges -> 2, 3, 5 and 9 batches
        monkeypatch.setattr(DedupConfig, "psnr_max_inflight_edges", bound)
        assert run(edges) == base
    assert run(empty) == set()


def _nodes(plan):
    """Every node of a physical plan (JVM SparkPlan), pre-order."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _unwrap(node):
    """Skip the whole-stage-codegen wrappers above an operator."""
    while _kind(node) in ("InputAdapter", "WholeStageCodegenExec"):
        node = node.children().apply(0)
    return node


def _output(node) -> set[str]:
    attrs = node.output()
    return {attrs.apply(i).name() for i in range(attrs.size())}


@pytest.mark.parametrize("bound,n_batches", [(600_000, 1), (3, 3)])
def test_psnr_plan_broadcasts_side_map_and_shuffles_only_payloads(
    spark, tmp_path, monkeypatch, bound, n_batches
):
    """The one verification path, per batch: the images scan streams
    through a BroadcastHashJoin against the (id -> edge, side) map, no
    sort-merge or shuffled hash join appears anywhere, and the only
    exchange carrying the byte payload is the (src, dst) repartition —
    two payloads per edge, the images table never shuffled."""
    images, edges = _mini_images_and_edges(spark)
    images.write.parquet(str(tmp_path / "images"))
    edges.write.parquet(str(tmp_path / "edges"))
    images = spark.read.parquet(str(tmp_path / "images"))
    edges = spark.read.parquet(str(tmp_path / "edges"))

    batches = []
    scored = image_dedup._psnr_scored

    def recording(*args, **kwargs):
        out = scored(*args, **kwargs)
        batches.append(out)
        return out

    monkeypatch.setattr(image_dedup, "_psnr_scored", recording)
    # adaptive execution plans lazily behind AdaptiveSparkPlanExec; the
    # static physical plan is the one whose shape is under test
    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        monkeypatch.setattr(DedupConfig, "psnr_max_inflight_edges", bound)
        out = psnr_verify_edges(edges, images, DedupConfig())
        assert len(batches) == n_batches
        plans = [
            df._jdf.queryExecution().executedPlan() for df in [out, *batches]
        ]
        for plan in plans:
            kinds = {_kind(n) for n in _nodes(plan)}
            assert "SortMergeJoinExec" not in kinds
            assert "ShuffledHashJoinExec" not in kinds
        # only the last batch stays lazy: the batches before it are pinned
        # (RDD scans), and a single batch keeps its lineage to the images
        assert sum(
            _kind(n) == "FileSourceScanExec" and "bytes" in _output(n)
            for n in _nodes(plans[0])
        ) == 1
        for plan in plans[1:]:
            nodes = _nodes(plan)
            (join,) = [n for n in nodes if _kind(n) == "BroadcastHashJoinExec"]
            built, streamed = (
                (_unwrap(join.right()), join.left())
                if join.buildSide().toString() == "BuildRight"
                else (_unwrap(join.left()), join.right())
            )
            assert _kind(built) == "BroadcastExchangeExec"
            assert "bytes" not in _output(built)
            assert any(
                _kind(n) == "FileSourceScanExec" and "bytes" in _output(n)
                for n in _nodes(streamed)
            )
            carriers = [
                n for n in nodes
                if "Exchange" in _kind(n) and {"bytes", "_b"} & _output(n)
            ]
            assert [_kind(n) for n in carriers] == ["ShuffleExchangeExec"]
            partitioning = re.sub(
                r"#\d+L?", "", carriers[0].outputPartitioning().toString()
            )
            assert partitioning.startswith("hashpartitioning(src, dst, ")
        assert len(out.collect()) == 8
    finally:
        spark.conf.set(key, prior)


def test_psnr_ignores_duplicate_image_ids(spark):
    images, edges = _mini_images_and_edges(spark)
    # re-ingested copy of one id: without the id-dedup guard the pair walk
    # could compare a row against its own copy (PSNR=inf false pass)
    dup = images.filter(F.col("image_id") == "img0").limit(1)
    scored = psnr_verify_edges(edges, images.unionByName(dup), DedupConfig())
    base = psnr_verify_edges(edges, images, DedupConfig())
    assert {(r.src, r.dst, round(r.psnr_db, 6)) for r in scored.collect()} == {
        (r.src, r.dst, round(r.psnr_db, 6)) for r in base.collect()
    }


def test_psnr_kernel_raises_on_codec_infra_error(spark):
    """Bytes the in-repo codec does not know make codec.decode_any raise
    NotImplementedError (the documented external-codec swap-in point).
    That is an infrastructure failure, not a 'not a duplicate' verdict:
    it must fail the stage loudly instead of silently scoring every edge
    PSNR=-1 and committing an empty snapshot."""
    images = spark.createDataFrame(
        [("a", bytearray(b"\x89PNGnotreally")), ("b", bytearray(b"junk"))],
        "image_id string, bytes binary",
    )
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(Exception, match="NotImplementedError"):
        psnr_verify_edges(edges, images, DedupConfig()).collect()


def test_signatures_raise_on_codec_infra_error(spark):
    """s1 decodes through the same dispatch as s3b: bytes the in-repo
    codec does not know (a real JPEG) raise the external-codec
    NotImplementedError, not a zlib error from the container decoder."""
    images = spark.createDataFrame(
        [("a", bytearray(b"\xff\xd8\xff\xe0notreally"), "", "jpeg", 0)],
        "image_id string, bytes binary, caption string, fmt string, "
        "phash long",
    )
    with pytest.raises(Exception, match="NotImplementedError.*'jpeg'"):
        attach_signatures(images, DedupConfig()).collect()

