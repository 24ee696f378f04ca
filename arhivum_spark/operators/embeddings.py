"""Embedding similarity search & near-duplicate detection.

Brute-force cosine is the exact baseline (and the DuckDB-oracle-checkable
query); random-hyperplane LSH bucketing is the 10^12-row scale path — the
same blocking-then-verify shape as the image MinHash pipeline
(operators/lsh.py), with sign-bit signatures instead of MinHash bands.

All vector math is JVM-side (`zip_with`/`aggregate` over array<double>) —
no Python in the hot path. Hyperplane signatures are computed with array
intrinsics from a broadcast literal plane matrix (seeded, so both the test
oracle and the job derive identical buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds `vecd` (array<double>) and `norm` columns — compute norms once,
    before any join fans the row out."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn("vecd", vecd).withColumn(
        "norm", F.sqrt(_dot("vecd", "vecd"))
    )


def _round_half_up6(x):
    """Round to 6 decimals HALF-UP (away from zero) — the rule Spark's
    F.round and DuckDB's round() use. np.round is half-to-EVEN, so a
    kernel using it diverges from the exact-oracle paths at 6th-decimal
    ties (e.g. cosine 0.1015625 -> 0.101562 vs 0.101563), breaking the
    documented same-output contract at threshold boundaries."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _probe_dim(df: DataFrame, vec_col: str):
    """Length of the first non-null embedding, or None when the corpus
    has no non-null vectors — callers return an empty typed frame
    instead of crashing on `None[0]`. EAGER (runs one Spark job)."""
    row = (
        df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    )
    return None if row is None else len(row[0])


def _rhp_capped_buckets(
    df: DataFrame,
    nbits: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
    max_bucket_members: int,
):
    """Shared preamble of the rhp_* operators: dim probe, with_norm base,
    multi-table bucketing, cap valve, and (vecd, norm) re-joined onto the
    capped bucket rows for verification. Returns (capped, id_type) —
    capped is None for an empty/all-null corpus, else (_cid, table,
    bucket, vecd, norm). EAGER (the dim probe)."""
    id_type = dict(df.dtypes)[id_col]
    dim = _probe_dim(df, vec_col)
    if dim is None:
        return None, id_type
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("_cid"), "vecd", "norm"
    )
    bucketed = rhp_table_buckets(
        base.select("_cid", "vecd"), dim, nbits, n_tables, seed
    )
    capped = _cap_buckets(bucketed, max_bucket_members).join(base, "_cid")
    return capped, id_type


def _rank_topk(cands: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail of the top-k operators. `cands` pairs each
    query (query_id, qvec, qnorm) with a candidate row (_cid, vecd, norm);
    self-matches are dropped, cosine is rounded to 6 decimals, and each
    query keeps its first k by (cosine desc, _cid asc)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("_cid"))
    return (
        cands.filter(F.col("_cid") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(_dot("vecd", "qvec") / (F.col("norm") * F.col("qnorm")), 6),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            F.col("_cid").alias("neighbor_id"),
            "cosine",
            F.col("rk").alias("rank"),
        )
    )


def cosine_topk(
    df: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    query_ids: DataFrame with column `id_col` selecting the query rows out
    of `df`. The query side is broadcast — the corpus side streams, so the
    plan is a single broadcast nested-loop + per-query top-k window. The
    scale path is `rhp_ann_topk`: the same ranking tail over an equi-join
    on LSH buckets instead of the crossJoin.
    """
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("_cid"), "vecd", "norm"
    )
    q = (
        # dropDuplicates: a repeated query id would duplicate every
        # candidate row and corrupt the row_number rank sequence (the
        # approximate paths are shielded by their own dedup)
        base.join(
            query_ids.select(F.col(id_col).alias("_cid")).dropDuplicates(),
            "_cid",
        )
        .select(
            F.col("_cid").alias("query_id"),
            F.col("vecd").alias("qvec"),
            F.col("norm").alias("qnorm"),
        )
    )
    return _rank_topk(base.crossJoin(F.broadcast(q)), k)


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — exact O(n^2)
    verify. Small-scale oracle; the scale path `rhp_neardup_pairs` blocks
    by LSH bucket so only bucket-mates are compared."""
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("_id"), "vecd", "norm"
    )
    a = base.select(
        F.col("_id").alias("id_a"),
        F.col("vecd").alias("va"),
        F.col("norm").alias("na"),
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        F.col("vecd").alias("vb"),
        F.col("norm").alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def rhp_table_buckets(
    base: DataFrame,
    dim: int,
    nbits: int,
    n_tables: int,
    seed: int = 42,
    vec_col: str = "vecd",
) -> DataFrame:
    """(_cid, table, bucket) for ALL tables in ONE Arrow-batched pass.

    The planes of every table are stacked into one (n_tables*nbits, dim)
    matrix so each row does a single einsum instead of n_tables*nbits
    catalyst dot expressions; per-table seeds match `hyperplanes(dim,
    nbits, seed + 1000*t)` exactly, so buckets are bit-identical to the
    per-table `rhp_signature` path. BLAS-free einsum (nested-thread rule,
    docs/ENGINEERING_NOTES.md)."""
    from pyspark.sql.functions import pandas_udf

    planes = np.vstack(
        [hyperplanes(dim, nbits, seed=seed + 1000 * t) for t in range(n_tables)]
    )
    weights = (2 ** np.arange(nbits)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)  # (n, d)
        bits = (np.einsum("nd,kd->nk", x, planes) >= 0).astype(np.int64)
        per_table = np.einsum(
            "ntb,b->nt", bits.reshape(len(x), n_tables, nbits), weights
        )
        return pd.Series(list(per_table))

    return base.select(
        "_cid", F.posexplode(buckets(vec_col)).alias("table", "bucket")
    )


def _cap_buckets(bucketed: DataFrame, cap: int) -> DataFrame:
    """Degenerate-bucket valve (the embedding twin of the image LSH
    max_pairs_per_band, lsh.salted_candidate_edges): buckets with more
    than `cap` members keep an EXPECTED `cap` of them by deterministic
    hash draw, so a pathological cohort (zero vectors, boilerplate
    embeddings) that lands 10^9 rows in one (table, bucket) contributes
    O(cap^2) candidate pairs instead of O(n^2). Singleton buckets are
    dropped map-side (they can't produce pairs). The bucket-size frame
    has at most n_tables * 2^nbits rows — always broadcastable, and the
    join against it fuses into the consumer stage. Lazy; returns
    (table, bucket, _cid)."""
    # two consumers (size count + the join below) — pin the signature-UDF
    # output once or the Arrow kernel runs twice: the broadcast size job
    # runs first and fills the checkpoint the join then reads
    bucketed = bucketed.localCheckpoint(eager=False)
    sizes = bucketed.groupBy("table", "bucket").agg(F.count("*").alias("_bn"))
    multi = sizes.filter(F.col("_bn") >= 2)
    return (
        bucketed.join(F.broadcast(multi), ["table", "bucket"])
        .filter(
            (F.col("_bn") <= cap)
            | (
                F.pmod(
                    F.xxhash64("_cid", F.col("table"), F.col("bucket")),
                    F.col("_bn"),
                )
                < cap
            )
        )
        .select("table", "bucket", "_cid")
    )


def rhp_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_members: int = 4096,
) -> DataFrame:
    """Blocked near-dup pairs: LSH buckets -> per-bucket exact-cosine verify.

    Same output contract as cosine_neardup_pairs (which stays as the exact
    small-scale oracle) but blocked by the (table, bucket) LSH keys; recall
    depends on (nbits, n_tables) vs the threshold's angle — the registered
    query pins a config measured at recall 1.0 on its corpus
    (tests/test_round3_ops.py::test_recall_guard_emb_neardup re-measures
    it).

    Scale shape (round-3 rewrite): verification happens INSIDE each
    bucket via one applyInPandas einsum over the bucket's member matrix,
    and only the surviving (id_a, id_b, cosine) triples leave the bucket —
    cross-table dedup then runs over bare ids. The previous plan deduped
    candidate ids first and re-joined both 512-byte vectors onto every
    pair (at sf0.1 a ~12 GB shuffle for 12.5M pairs); now vectors ride the
    bucket explode exactly once (n * n_tables rows) and no pair ever
    carries a payload. Degenerate buckets are capped by _cap_buckets, so
    per-task work is bounded by max_bucket_members^2 regardless of skew.

    EAGER: constructing this plan runs a Spark job (the dim probe).
    """
    capped, id_type = _rhp_capped_buckets(
        df, nbits, n_tables, seed, id_col, vec_col, max_bucket_members
    )
    if capped is None:
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double"
        )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_cid"].to_numpy()
        x = np.array(pdf["vecd"].tolist(), dtype=np.float64)
        nrm = pdf["norm"].to_numpy(dtype=np.float64)
        m = len(ids)
        out_a, out_b, out_c = [], [], []
        # row-chunked m x m cosine: keeps the score block cache-resident
        # even at the bucket cap; einsum stays BLAS-free (nested-thread
        # rule, docs/ENGINEERING_NOTES.md)
        step = 256
        for i0 in range(0, m, step):
            i1 = min(i0 + step, m)
            block = np.einsum("id,jd->ij", x[i0:i1], x) / np.outer(
                nrm[i0:i1], nrm
            )
            bi, bj = np.nonzero(_round_half_up6(block) >= threshold)
            keep = (bi + i0) < bj  # upper triangle only, no self-pairs
            bi, bj = bi[keep], bj[keep]
            ia, ib = ids[bi + i0], ids[bj]
            swap = ia > ib
            out_a.append(np.where(swap, ib, ia))
            out_b.append(np.where(swap, ia, ib))
            out_c.append(_round_half_up6(block[bi, bj]))
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    return (
        capped.groupBy("table", "bucket")
        .applyInPandas(per_bucket, schema=schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    """Seeded random hyperplanes (nbits, dim) — identical across processes."""
    return np.random.default_rng(seed).standard_normal((nbits, dim))


def rhp_signature(
    df: DataFrame, planes: np.ndarray, vec_col: str = "vecd"
) -> DataFrame:
    """Random-hyperplane sign signature as an int64 bucket key, via array
    intrinsics over a literal plane matrix (JVM-side, no Python).

    P[sign bits agree] = 1 - theta/pi per bit — Charikar's SimHash for
    vectors; `nbits` trades recall for bucket size.
    """
    bits = []
    for j in range(planes.shape[0]):
        plane = F.array(*[F.lit(float(x)) for x in planes[j]])
        bits.append(
            F.when(_dot(vec_col, plane) >= 0, F.lit(1)).otherwise(F.lit(0))
            * F.lit(int(2**j))
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.withColumn("bucket", bucket.cast("long"))


def rhp_ann_topk(
    df: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
    nbits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_members: int = 4096,
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing an LSH bucket with the
    query in ANY of `n_tables` independent hyperplane tables; exact cosine
    rank within candidates.

    Scale shape: ONE stacked-planes signature pass over the corpus
    (rhp_table_buckets) instead of n_tables separate projections; queries
    are broadcast; the crossJoin of cosine_topk becomes an equi-join on
    (table, bucket). Recall is tunable via (nbits, n_tables) — tested
    against the exact oracle in tests/test_training_ops.py. Buckets above
    `max_bucket_members` are down-sampled by _cap_buckets — in a
    degenerately hot bucket both corpus and query membership degrade
    gracefully (other tables still contribute) instead of the join
    exploding quadratically.

    Contract note: a query whose buckets are ALL singletons (an isolated
    out-of-distribution vector sharing no bucket with any other row in
    any table, or one sampled out of a capped hot bucket in every table)
    yields ZERO output rows for that query_id — LSH-bucket ANN has no
    candidates to rank, it does not fall back to a scan. Callers needing
    a guaranteed top-k per query lower `nbits` / raise `n_tables`, or
    use the exact `cosine_topk`; ivf_probe_topk (nprobe>=1 cells per
    query) never drops a query and is the engine's covering-search path.

    EAGER: constructing this plan runs a Spark job (the dim probe).
    """
    capped, id_type = _rhp_capped_buckets(
        df, nbits, n_tables, seed, id_col, vec_col, max_bucket_members
    )
    if capped is None:
        return df.sparkSession.createDataFrame(
            [],
            f"query_id {id_type}, neighbor_id {id_type}, "
            "cosine double, rank int",
        )
    # two consumers below (query projection + candidate side) — pin once
    # or the bucketing pass + payload join run twice
    bucketed = capped.localCheckpoint(eager=False)
    q = (
        bucketed.join(query_ids.select(F.col(id_col).alias("_cid")), "_cid")
        .select(
            F.col("_cid").alias("query_id"),
            F.col("vecd").alias("qvec"),
            F.col("norm").alias("qnorm"),
            "table",
            "bucket",
        )
    )
    cands = (
        bucketed.join(F.broadcast(q), ["table", "bucket"])
        .select("query_id", "qvec", "qnorm", "_cid", "vecd", "norm")
        .dropDuplicates(["query_id", "_cid"])
    )
    return _rank_topk(cands, k)


def _assign_udf(cents: np.ndarray):
    """Vectorized argmin-distance assignment over broadcast centroids.

    argmin ||x - c||^2 = argmin (c.c - 2 x.c) — x.x is constant per row;
    einsum keeps it BLAS-free (no nested-thread thrash in workers).
    """
    from pyspark.sql.functions import pandas_udf

    c2 = (cents * cents).sum(axis=1)  # (k,)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)  # (n, d)
        dots = np.einsum("nd,kd->nk", x, cents)
        return pd.Series(np.argmin(c2[None, :] - 2 * dots, axis=1))

    return assign


def _lloyd_refine(
    base: DataFrame, cents: np.ndarray, n_iters: int
) -> np.ndarray:
    """`n_iters` Lloyd's iterations over `base` (columns: `vecd`), updating
    the k x d centroid matrix driver-side. Returns the refined matrix.

    Scale shape: each iteration is ONE mapInPandas pass emitting per-
    partition partial sums — assignment (einsum argmin) and accumulation
    (np.add.at / bincount) fused in the same Arrow batch loop, classic
    map-side combine. The executor->driver frame is O(partitions * k)
    rows of d-doubles; the driver reduces it with one np.add.at. At
    production dims (d = 512-1024) this replaces the previous
    one-`F.sum(element_at(vecd, i))`-column-PER-DIMENSION aggregation,
    whose ~1000 aggregate expressions per iteration hit codegen compile
    pressure and a pathologically wide partial-agg row (the assignment
    side always avoided when-chain codegen for the same reason).
    Empty cells keep their previous centroid (standard Lloyd's
    convention, matches the old agg path which had no row to update with).
    """
    k, d = cents.shape
    for _ in range(n_iters):
        c = cents.copy()  # bind per-iteration snapshot for the closure
        c2 = (c * c).sum(axis=1)

        def partial_sums(batches, _c=c, _c2=c2):
            sums = np.zeros((k, d))
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.array(pdf["vecd"].tolist(), dtype=np.float64)
                cell = np.argmin(
                    _c2[None, :] - 2 * np.einsum("nd,kd->nk", x, _c), axis=1
                )
                np.add.at(sums, cell, x)
                counts += np.bincount(cell, minlength=k)
            nz = np.flatnonzero(counts)
            yield pd.DataFrame(
                {"cell": nz.astype("int32"), "n": counts[nz], "s": list(sums[nz])}
            )

        parts = base.select("vecd").mapInPandas(
            partial_sums, schema="cell int, n long, s array<double>"
        ).collect()
        sums = np.zeros((k, d))
        counts = np.zeros(k, dtype=np.int64)
        for r in parts:
            sums[r["cell"]] += np.asarray(r["s"], dtype=np.float64)
            counts[r["cell"]] += r["n"]
        nz = counts > 0
        cents = cents.copy()
        cents[nz] = sums[nz] / counts[nz, None]
    return cents


def fixed_centroid_assign(
    df: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-pass IVF assignment against FIXED centroids = the first
    `n_cells` rows by id (cell i = i-th smallest id). Deterministic and
    SQL-expressible (argmin of c.c - 2 x.c over k literal centroids), so it
    carries the DuckDB oracle for the IVF operator; the iterative Lloyd's
    refinement (`_lloyd_refine`, run by ivf_probe_topk) shares the same
    assignment kernel and is pytest-gated instead."""
    base = with_norm(df, vec_col).select(F.col(id_col).alias("_id"), "vecd")
    init = (
        base.orderBy("_id").limit(n_cells).select("vecd").collect()
    )
    centroids = np.array([list(r[0]) for r in init], dtype=np.float64)
    return base.withColumn("cell", _assign_udf(centroids)("vecd")).select(
        F.col("_id").alias(id_col), "cell"
    )


def ivf_probe_topk(
    df: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    n_iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-probe approximate top-k: the inverted-file search path that
    complements brute force (exact baseline) and hyperplane LSH.

    Corpus rows are assigned to `n_cells` Lloyd's cells (_lloyd_refine,
    then the _assign_udf kernel); each query ranks ONLY the rows in the `nprobe` cells whose
    centroids are nearest to it — candidates per query ~ nprobe/n_cells of
    the corpus. Scale shape: the driver holds k x d centroids and the
    (tiny) query set; the corpus is touched by one cell-assignment pass
    and one equi-join on cell — never collected, never crossJoined.
    nprobe = n_cells degenerates to exact search (tested).
    """
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("_cid"), "vecd", "norm"
    )
    # centroids via the shared Lloyd's kernel (deterministic seeded init)
    init = (
        base.withColumn("_h", F.xxhash64(F.col("_cid").cast("string"), F.lit(seed)))
        .orderBy("_h")
        .limit(n_cells)
        .select("vecd")
        .collect()
    )
    cents = np.array([list(r[0]) for r in init], dtype=np.float64)
    cents = _lloyd_refine(base.select("vecd"), cents, n_iters)
    # three consumers (qrows collect, query projection, candidate side)
    # — pin once or the with_norm scan + pandas-UDF centroid assignment
    # over the full corpus runs three times
    celled = base.withColumn(
        "cell", _assign_udf(cents)("vecd")
    ).localCheckpoint(eager=False)
    # probe cells per query: query set is small by contract -> driver-side
    # argsort against the k x d centroid matrix, broadcast back as a frame
    qrows = (
        celled.join(query_ids.select(F.col(id_col).alias("_cid")), "_cid")
        .select("_cid", "vecd", "norm")
        .collect()
    )
    spark = df.sparkSession
    probe_rows = []
    c2 = (cents * cents).sum(axis=1)
    for r in qrows:
        q = np.array(list(r["vecd"]), dtype=np.float64)
        dist = c2 - 2 * np.einsum("kd,d->k", cents, q)
        for cell in np.argsort(dist, kind="stable")[:nprobe]:
            probe_rows.append((r["_cid"], int(cell)))
    probes = spark.createDataFrame(
        probe_rows, schema=f"query_id {dict(df.dtypes)[id_col]}, cell int"
    )
    q = (
        celled.join(
            F.broadcast(
                probes.select(F.col("query_id").alias("_cid")).distinct()
            ),
            "_cid",
        )
        .select(
            F.col("_cid").alias("query_id"),
            F.col("vecd").alias("qvec"),
            F.col("norm").alias("qnorm"),
        )
        .join(F.broadcast(probes), "query_id")
    )
    cands = celled.join(F.broadcast(q), "cell").dropDuplicates(
        ["query_id", "_cid"]
    )
    return _rank_topk(cands, k)
