"""Training-data pipeline operators: ANN recall vs exact oracle, LSH doc
dedup recall vs exact n-gram Jaccard, multimodal binary plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from arhivum_spark import codec
from arhivum_spark.config import DedupConfig
from arhivum_spark.operators import embeddings, multimodal, text_analysis
from arhivum_spark.operators.dedup_text import minhash_lsh_pairs
from tests.conftest import SF_ORACLE_DIR


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet")
    df.cache().count()
    return df


def test_ann_recovers_planted_near_duplicates(spark, emb):
    """Hyperplane LSH targets near-duplicates (cosine >~ 0.9), where
    P[bit agrees] = 1 - theta/pi is high. Plant a perturbed copy of each of
    50 vectors (cosine ~0.98); ANN top-5 must contain the planted partner
    for >= 95% of queries, and reported cosines must be exact."""
    import pandas as pd

    base = emb.toPandas()
    rng = np.random.default_rng(7)
    planted = []
    for i in range(50):
        v = np.array(base.iloc[i]["embedding"], dtype=np.float64)
        noise = rng.standard_normal(len(v)) * 0.1 * np.linalg.norm(v) / np.sqrt(len(v))
        planted.append(
            {
                "vec_id": 10_000 + i,
                "embedding": (v + noise).astype(np.float32).tolist(),
                "label": int(base.iloc[i]["label"]),
            }
        )
    full = spark.createDataFrame(
        pd.concat([base, pd.DataFrame(planted)], ignore_index=True),
        schema="vec_id long, embedding array<float>, label int",
    )
    qids = full.select("vec_id").filter(F.col("vec_id") >= 10_000)
    ann = embeddings.rhp_ann_topk(
        full, qids, k=5, nbits=8, n_tables=8
    ).toPandas()
    found = {
        q: set(g["neighbor_id"]) for q, g in ann.groupby("query_id")
    }
    hits = sum(
        1 for i in range(50) if i in found.get(10_000 + i, set())
    )
    assert hits >= 48, f"planted-partner recall {hits}/50"

    exact = embeddings.cosine_topk(full, qids, k=5).toPandas()
    merged = ann.merge(
        exact, on=["query_id", "neighbor_id"], suffixes=("_ann", "_exact")
    )
    assert np.allclose(merged["cosine_ann"], merged["cosine_exact"])


def test_doc_lsh_recall_vs_exact_jaccard(spark):
    """MinHash+LSH doc pairs must recover every exact pair with 3-gram
    Jaccard >= 0.5 (bands=32, r=4 -> P[detect] ~ 1-(1-0.5^4)^32 ~ 0.87 per
    band config, but the planted near-dups in documents sit far above the
    threshold)."""
    docs = spark.read.parquet(f"{SF_ORACLE_DIR}/documents.parquet")
    exact = text_analysis.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, id_col="doc_id"
    ).toPandas()
    cfg = DedupConfig(min_signature_agreement=0.4)
    got = minhash_lsh_pairs(
        docs.withColumn("doc_id", F.col("doc_id").cast("string")),
        cfg, id_col="doc_id", text_col="text",
    ).toPandas()
    got_pairs = {
        (min(int(a), int(b)), max(int(a), int(b)))
        for a, b in zip(got["id_a"], got["id_b"])
    }
    truth_pairs = {
        (min(a, b), max(a, b)) for a, b in zip(exact["id_a"], exact["id_b"])
    }
    missing = truth_pairs - got_pairs
    recall = 1 - len(missing) / max(len(truth_pairs), 1)
    assert recall >= 0.99, f"doc LSH recall {recall:.3f}, missing {missing}"


def test_media_meta_roundtrip(spark):
    docs = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    media = multimodal.synth_media_from_ids(docs, id_col="doc_id")
    meta = multimodal.attach_media_meta(media, id_col="doc_id").toPandas()
    assert meta["ok"].all()
    for _, r in meta.iterrows():
        i = int(r["doc_id"])
        assert r["dec_w"] == 8 + i % 9
        fill = (i * 37) % 256
        expect = fill if i % 2 == 1 else min((fill // 8) * 8 + 4, 255)
        assert abs(r["mean_pixel"] - expect) < 1e-9


def test_media_meta_bad_rows_isolated(spark):
    good = multimodal.synth_media_from_ids(
        spark.range(0, 5).select(F.col("id").alias("doc_id")), id_col="doc_id"
    )
    bad = spark.createDataFrame(
        [(999, bytearray(b"JFIFnotreal"), "jpeg")], "doc_id long, bytes binary, fmt string"
    )
    meta = multimodal.attach_media_meta(
        good.unionByName(bad), id_col="doc_id"
    ).toPandas()
    assert meta[meta["doc_id"] == 999]["ok"].iloc[0] == False  # noqa: E712
    assert meta[meta["doc_id"] != 999]["ok"].all()


def test_resize_and_frame_sample_plumbing(spark):
    docs = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    media = multimodal.synth_media_from_ids(docs, id_col="doc_id")
    resized = multimodal.resize_images(media, 4, id_col="doc_id").toPandas()
    assert (resized["w"] == 4).all() and len(resized) == 10
    px = codec.decode(bytes(resized.iloc[0]["bytes"]))
    assert px.shape == (4, 4, 3)

    frames = multimodal.sample_frames(
        media.withColumnRenamed("doc_id", "video_id"),
        n_frames=2, id_col="video_id",
    ).toPandas()
    assert set(frames["frame_index"]) == {0, 1}
    assert len(frames) == 20


def test_decode_external_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        codec.decode_any(b"\x89PNG1234", "png")
