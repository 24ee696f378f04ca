"""Round-3 operator tests:
embedding-LSH stacked-planes bucketing, mixed-zone group skip,
vectorized SimHash parity, and the approximate-operator recall guards
(the last: re-measure recall of every approximate path that is registered
against an EXACT oracle, so a corpus/seed/config drift fails with a recall
number instead of an opaque driver hash mismatch)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE_DIR


# ---------------------------------------------------------------------------
# Embedding LSH: stacked-planes bucketing


def test_stacked_planes_match_per_table_reference(spark):
    """rhp_table_buckets (one stacked einsum over all tables) must be
    bit-identical to the readable per-table rhp_signature path it
    replaced — guards the seed/stacking arithmetic."""
    from arhivum_spark.operators import embeddings as E

    rng = np.random.default_rng(9)
    rows = [
        (i, [float(x) for x in rng.standard_normal(12)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    base = E.with_norm(df).select(
        F.col("vec_id").alias("_cid"), "vecd"
    )
    nbits, n_tables, seed = 3, 4, 17
    stacked = {
        (r["_cid"], r["table"]): r["bucket"]
        for r in E.rhp_table_buckets(base, 12, nbits, n_tables, seed).collect()
    }
    for t in range(n_tables):
        planes = E.hyperplanes(12, nbits, seed=seed + 1000 * t)
        ref = {
            r["_cid"]: r["bucket"]
            for r in E.rhp_signature(base, planes).collect()
        }
        for cid, b in ref.items():
            assert stacked[(cid, t)] == b


# ---------------------------------------------------------------------------
# Mixed-zone duplicate-group skip (DEDUPLICATION.md:59-77)


def test_group_dedup_gate_skips_mixed_groups(spark):
    from arhivum_spark.operators.zones import group_dedup_gate

    rows = [
        # group h1: all eligible -> kept
        (1, "h1", "MEDIA"), (2, "h1", "DOCUMENTS"),
        # group h2: one SOFTWARE member -> whole group skipped
        (3, "h2", "MEDIA"), (4, "h2", "SOFTWARE"), (5, "h2", "MEDIA"),
        # group h3: null zone blocks too
        (6, "h3", "BOOKS"), (7, "h3", None),
        # singleton eligible group -> kept
        (8, "h4", "MEDIA"),
    ]
    df = spark.createDataFrame(rows, "id int, sha string, zone string")
    kept = {r["id"] for r in group_dedup_gate(df, "sha").collect()}
    assert kept == {1, 2, 8}


# ---------------------------------------------------------------------------
# SimHash: vectorized batch kernel is bit-for-bit the scalar reference


def test_simhash_batch_matches_scalar_reference():
    import random

    from arhivum_spark.functions import simhash as sh

    random.seed(13)
    vocab = ["alpha", "beta", "gamma", "x", "yy", "zzz", "word" * 12]
    caps = [
        " ".join(random.choice(vocab) for _ in range(random.randint(0, 15)))
        for _ in range(400)
    ]
    caps += ["", "   ", "a\tb\nc\rd", None, "solo", " pad  ", "tok " * 500]
    ref = np.array(
        [sh.simhash64((c or "").split()) for c in caps], dtype=np.int64
    )
    assert (sh.simhash_batch(caps) == ref).all()


# ---------------------------------------------------------------------------
# Audio multimodal plumbing (deterministic fake codec, real Spark shapes)


def test_audio_meta_and_frames(spark):
    from arhivum_spark import codec
    from arhivum_spark.operators.multimodal import (
        audio_frame_energy,
        audio_meta,
    )

    rng = np.random.default_rng(3)
    rows = []
    for i in range(6):
        n = 1600 * (i + 1)  # 0.1s .. 0.6s at 16 kHz
        samples = (rng.standard_normal((n, 2)) * 1000).astype(np.int16)
        rows.append((i, codec.encode_audio(samples, 16000)))
    rows.append((99, b"not-audio"))  # undecodable -> ok=false, job survives
    df = spark.createDataFrame(rows, "audio_id int, bytes binary")

    meta = {r["audio_id"]: r for r in audio_meta(df).collect()}
    assert len(meta) == 7
    assert not meta[99]["ok"]
    for i in range(6):
        m = meta[i]
        assert m["ok"] and m["sample_rate"] == 16000 and m["channels"] == 2
        assert m["n_samples"] == 1600 * (i + 1)
        assert abs(m["duration_s"] - 0.1 * (i + 1)) < 1e-6
        assert m["rms"] > 0

    fr = audio_frame_energy(
        df.filter(F.col("audio_id") < 90), frame_ms=100
    ).collect()
    per_clip = {}
    for r in fr:
        per_clip.setdefault(r["audio_id"], []).append(r)
    # 0.1s frames at 16 kHz -> clip i has exactly i+1 full frames
    for i in range(6):
        assert len(per_clip[i]) == i + 1
        assert all(x["frame_rms"] > 0 for x in per_clip[i])

    # on_error="skip": undecodable clips emit zero frames, decodable ones
    # are unchanged (mixed-quality corpus needs no prior decodability join)
    fr_skip = audio_frame_energy(df, frame_ms=100, on_error="skip").collect()
    assert len(fr_skip) == len(fr)
    assert {r["audio_id"] for r in fr_skip} == set(range(6))
    with pytest.raises(Exception):  # default stays strict
        audio_frame_energy(df, frame_ms=100).collect()
    with pytest.raises(ValueError):
        audio_frame_energy(df, on_error="ignore")


# ---------------------------------------------------------------------------
# Recall guards for every approximate operator registered against an exact
# oracle (ADVICE round 2): fail with a NUMBER when corpus/config drifts.


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet")


def _pair_set(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_recall_guard_emb_neardup(spark, emb):
    from arhivum_spark.operators import embeddings as E

    exact = _pair_set(E.cosine_neardup_pairs(emb, threshold=0.4))
    approx = _pair_set(
        E.rhp_neardup_pairs(emb, threshold=0.4, nbits=2, n_tables=16)
    )
    recall = len(exact & approx) / len(exact)
    precision = len(exact & approx) / max(1, len(approx))
    assert recall == 1.0 and precision == 1.0, (
        f"emb near-dup drifted: recall={recall:.4f} precision={precision:.4f}"
        " — re-measure (nbits, n_tables) before touching the registry oracle"
    )


def test_recall_guard_emb_ann_topk(spark, emb):
    from arhivum_spark.operators import embeddings as E

    qids = emb.select("vec_id").filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in E.cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in E.rhp_ann_topk(emb, qids, k=5, nbits=2, n_tables=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall == 1.0, f"ANN recall drifted: {recall:.4f}"


def test_ivf_probe_topk(spark, emb):
    from arhivum_spark.operators import embeddings as E

    qids = emb.select("vec_id").filter(F.col("vec_id") < 5)
    exact = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in E.cosine_topk(emb, qids, k=5).collect()
    )
    # probing every cell degenerates to exact search
    full = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in E.ivf_probe_topk(
            emb, qids, k=5, n_cells=8, nprobe=8
        ).collect()
    )
    assert full == exact
    # planted near-identical neighbors land in the query's own cell:
    # nprobe=1 must find them
    rng = np.random.default_rng(21)
    rows = []
    for i in range(10):
        center = rng.standard_normal(16)
        rows.append((i * 10, [float(x) for x in center]))
        rows.append(
            (i * 10 + 1, [float(x) for x in center + rng.standard_normal(16) * 1e-3])
        )
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    qids2 = df.select("vec_id").filter(F.col("vec_id") % 10 == 0)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in E.ivf_probe_topk(
            df, qids2, k=1, n_cells=4, nprobe=1, seed=7
        ).collect()
    }
    for i in range(10):
        assert got[(i * 10, 1)] == i * 10 + 1


def test_recall_guard_docs_minhash_lsh(spark):
    from arhivum_spark.config import DedupConfig
    from arhivum_spark.operators.dedup_text import minhash_lsh_pairs
    from arhivum_spark.operators.text_analysis import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_ORACLE_DIR}/documents.parquet")
    exact = {
        tuple(sorted((str(r.id_a), str(r.id_b))))
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.2, id_col="doc_id"
        ).collect()
    }
    sdocs = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    lsh = minhash_lsh_pairs(
        sdocs, DedupConfig(min_signature_agreement=0.5),
        id_col="doc_id", text_col="text",
    )
    approx = {tuple(sorted((r.id_a, r.id_b))) for r in lsh.collect()}
    recall = len(exact & approx) / len(exact)
    precision = len(exact & approx) / max(1, len(approx))
    assert recall == 1.0 and precision == 1.0, (
        f"doc MinHash-LSH drifted: recall={recall:.4f} "
        f"precision={precision:.4f}"
    )
