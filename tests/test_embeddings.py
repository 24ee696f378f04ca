"""Embedding operators (operators/embeddings.py): the bucketed-LSH near-dup
path's degenerate-bucket valve and cluster recovery, the Lloyd's
quantizer behind ivf_probe_topk, and the empty-corpus contract."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from arhivum_spark.operators import embeddings
from arhivum_spark.operators.connected_components import connected_components
from tests.conftest import SF_ORACLE_DIR


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet")
    df.cache().count()
    return df


# ---------------------------------------------------------------------------
# Bucketed-LSH near-dup pairs: degenerate-bucket valve + cluster recovery


def test_emb_valve_bounds_identical_vector_cohort(spark):
    n, cap = 5000, 64
    ident = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(n)], "vec_id int, embedding array<float>"
    )
    pairs = embeddings.rhp_neardup_pairs(
        ident, nbits=2, n_tables=2, max_bucket_members=cap
    )
    c = pairs.count()
    # every row lands in ONE bucket per table and every pair verifies; the
    # draw keeps an expected `cap` members -> O(n_tables * cap^2) pairs,
    # nowhere near n^2/2
    assert 0 < c <= 2 * cap * cap
    assert c < n * (n - 1) // 2 / 100


def test_emb_neardup_pairs_recover_planted_clusters(spark):
    rng = np.random.default_rng(5)
    rows = []
    for c in range(4):  # 4 tight clusters of 6 near-identical vectors
        center = rng.standard_normal(16)
        center /= np.linalg.norm(center)
        for j in range(6):
            v = center + rng.standard_normal(16) * 0.01
            rows.append((c * 6 + j, [float(x) for x in v]))
    for i in range(40):  # noise rows, far from everything
        v = rng.standard_normal(16) * 3
        rows.append((100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = embeddings.rhp_neardup_pairs(
        df, threshold=0.98, nbits=4, n_tables=8, seed=3
    )
    comp = connected_components(
        df.select(F.col("vec_id").alias("id")),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="id",
    )
    got = {r["id"]: r["component"] for r in comp.collect()}
    for c in range(4):
        members = {got[c * 6 + j] for j in range(6)}
        assert members == {c * 6}, f"cluster {c} split: {members}"
    for i in range(40):
        assert got[100 + i] == 100 + i  # noise stays isolated


def test_rhp_ops_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embeddings.rhp_neardup_pairs(empty).count() == 0
    q = spark.createDataFrame([], "vec_id long")
    assert embeddings.rhp_ann_topk(empty, q).count() == 0


# ---------------------------------------------------------------------------
# Lloyd's quantizer: _lloyd_refine + the _assign_udf kernel, from the
# seeded init ivf_probe_topk uses


def _base(df):
    return embeddings.with_norm(df).select(F.col("vec_id").alias("_id"), "vecd")


def _seeded_init(base, n_cells, seed=42):
    init = (
        base.withColumn("_h", F.xxhash64(F.col("_id").cast("string"), F.lit(seed)))
        .orderBy("_h")
        .limit(n_cells)
        .select("vecd")
        .collect()
    )
    return np.array([list(r[0]) for r in init], dtype=np.float64)


def _lloyd_cells(df, n_iters, n_cells) -> pd.DataFrame:
    """(vec_id, cell) after `n_iters` refinements of the seeded init."""
    base = _base(df)
    cents = embeddings._lloyd_refine(
        base.select("vecd"), _seeded_init(base, n_cells), n_iters
    )
    return (
        base.withColumn("cell", embeddings._assign_udf(cents)("vecd"))
        .select(F.col("_id").alias("vec_id"), "cell")
        .toPandas()
    )


def test_lloyd_assign_deterministic_and_total(spark, emb):
    cells = _lloyd_cells(emb, n_iters=2, n_cells=8)
    assert len(cells) == emb.count()
    assert cells["cell"].between(0, 7).all()
    again = _lloyd_cells(emb, n_iters=2, n_cells=8)
    assert cells.sort_values("vec_id")["cell"].tolist() == (
        again.sort_values("vec_id")["cell"].tolist()
    )


def test_lloyd_refine_matches_local_numpy_oracle(spark, emb):
    """_lloyd_refine (distributed mapInPandas partial sums) vs a
    definitional single-process numpy Lloyd's on the collected corpus:
    centroids allclose after each of 3 iterations (summation ORDER
    differs across partitions, so exact bit-equality is not the
    contract) and the final assignment is identical."""
    base = _base(emb)
    cents = _seeded_init(base, 8)
    x = np.array(
        [list(r[0]) for r in base.orderBy("_id").select("vecd").collect()],
        dtype=np.float64,
    )
    ref = cents.copy()
    got = cents.copy()
    for _ in range(3):
        # definitional oracle iteration
        d2 = ((x[:, None, :] - ref[None, :, :]) ** 2).sum(axis=2)
        cell = np.argmin(d2, axis=1)
        for c in range(len(ref)):
            if (cell == c).any():
                ref[c] = x[cell == c].mean(axis=0)
        got = embeddings._lloyd_refine(base.select("vecd"), got, 1)
        assert np.allclose(got, ref, atol=1e-8), "centroids diverged"
    d2 = ((x[:, None, :] - ref[None, :, :]) ** 2).sum(axis=2)
    ref_cell = np.argmin(d2, axis=1)
    got_cell = np.array(
        [
            r["cell"]
            for r in base.withColumn(
                "cell", embeddings._assign_udf(got)("vecd")
            )
            .orderBy("_id")
            .select("cell")
            .collect()
        ]
    )
    assert (got_cell == ref_cell).all()


def test_lloyd_refine_high_dim_no_codegen_blowup(spark):
    """d=1024: the old per-dimension F.sum(element_at) agg compiled ~1000
    aggregate expressions per iteration; the partial-sum path must handle
    production dims in ordinary time. 400 rows x 1024 dims, 2 iterations,
    plus empty-cell preservation (16 cells, clustered data -> some cells
    can empty out and must keep their previous centroid)."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((400, 1024)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(400), "embedding": list(map(list, vecs))}
        ),
        schema="vec_id long, embedding array<float>",
    )
    cells = _lloyd_cells(df, n_iters=2, n_cells=16)
    assert len(cells) == 400
    assert cells["cell"].between(0, 15).all()
