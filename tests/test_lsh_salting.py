"""Hot-band salting: skew split + connectivity preservation (north rule:
all-black images / boilerplate captions make degenerate LSH band keys)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arhivum_spark.config import DedupConfig
from arhivum_spark.operators.connected_components import connected_components
from arhivum_spark.operators.lsh import salted_candidate_edges

HOT_N = 4000


def _bucket(spark, lo, hi, band, key, phash=None):
    """band_keys rows for ids [lo, hi) in one (band, key). phash defaults
    to a hash of the id: spread ~32 bits apart, so the bucket-local pair
    gate passes no pair and only star edges remain."""
    return spark.range(lo, hi).select(
        F.col("id").alias("image_id"),
        F.xxhash64("id").alias("phash") if phash is None
        else F.lit(phash).cast("long").alias("phash"),
        F.lit(band).alias("band"),
        (F.col("id") if key is None else F.lit(key)).cast("long").alias("key"),
    )


def _bands(spark):
    """One pathologically hot (band,key) bucket + 500 singleton keys."""
    return _bucket(spark, 0, HOT_N, 0, 777).unionByName(
        _bucket(spark, 10_000, 10_500, 1, None)
    )


@pytest.mark.parametrize("threshold", [3, 64])
def test_hot_band_salted_but_connected(spark, threshold):
    """threshold 3 samples at rate 1 (every row counted), 64 at 3/64."""
    cfg = DedupConfig(hot_band_threshold=threshold)
    edges = salted_candidate_edges(_bands(spark), cfg)

    # skew split: no hub carries the whole hot bucket (the quadratic/straggler
    # guard) — max star degree ~ HOT_N/SALT_BUCKETS plus the hub chain
    deg = (
        edges.select(F.col("src").alias("v"))
        .groupBy("v").count().agg(F.max("count")).first()[0]
    )
    assert deg < HOT_N / 4, f"hot bucket not split: max hub degree {deg}"

    # connectivity: CC over the star+chain edges must keep the hot cohort
    # in ONE component
    vertices = _bands(spark).select(F.col("image_id").alias("id")).distinct()
    comp = connected_components(vertices, edges, id_col="id")
    hot_components = (
        comp.filter(F.col("id") < HOT_N).select("component").distinct().count()
    )
    assert hot_components == 1

    # cold singleton keys generate no edges among themselves
    cold_edges = edges.filter(
        (F.col("src") >= 10_000) | (F.col("dst") >= 10_000)
    ).count()
    assert cold_edges == 0


def test_max_pairs_per_band_caps_bucket_edges(spark):
    """A bucket above max_pairs_per_band emits ~cap star edges, not one per
    member (SURVEY §4 per-band pair cap); buckets below the cap are
    untouched."""
    cfg = DedupConfig(hot_band_threshold=100_000, max_pairs_per_band=50)
    big = _bucket(spark, 0, 500, 0, 7)
    small = _bucket(spark, 1000, 1030, 1, 8)
    # equal phashes: the pair gate passes every non-hub member pair
    same = _bucket(spark, 2000, 2010, 2, 9, phash=0)
    edges = salted_candidate_edges(
        big.unionByName(small).unionByName(same), cfg
    )
    n_big = edges.filter(F.col("dst") < 1000).count()
    n_small = edges.filter(F.col("dst").between(1000, 1999)).count()
    n_same = edges.filter(F.col("dst") >= 2000).count()
    # hash-draw keeps an expected `cap` members of the big bucket
    assert 20 <= n_big <= 100, f"cap not enforced: {n_big} edges"
    assert n_small == 29  # below cap: every member star-linked
    # 9 star edges + C(9, 2) gated non-hub pairs
    assert n_same == 9 + 36


def test_sampled_detection_misses_small_buckets_harmlessly(spark):
    """Keys well below the default threshold stay unsalted — star edges
    still link their members (correctness unaffected; only partition size
    guarantees relax)."""
    cfg = DedupConfig()
    small = _bucket(spark, 0, 40, 0, 5)
    edges = salted_candidate_edges(small, cfg)
    vertices = small.select(F.col("image_id").alias("id"))
    comp = connected_components(vertices, edges, id_col="id")
    assert comp.select("component").distinct().count() == 1


def _salted_bucket_count(spark, threshold, n_buckets=20, size=200):
    """How many of n_buckets size-member (band, key) buckets get salted at
    this threshold, and whether each bucket stays one CC component. An
    unsalted bucket is one star whose hub carries size - 1 edges; a salted
    one splits into salt buckets whose hubs are linked by the hub chain."""
    bands = spark.range(0, n_buckets * size).select(
        F.col("id").alias("image_id"),
        F.xxhash64("id").alias("phash"),
        F.lit(0).alias("band"),
        (F.col("id") / size).cast("long").alias("key"),
    )
    edges = salted_candidate_edges(
        bands, DedupConfig(hot_band_threshold=threshold)
    )
    deg = (
        edges.groupBy((F.col("src") / size).cast("long").alias("key"), "src")
        .count()
        .groupBy("key")
        .agg(F.max("count").alias("deg"))
    )
    salted = deg.filter(F.col("deg") < size - 1).count()
    vertices = bands.select(F.col("image_id").alias("id"))
    comp = connected_components(vertices, edges, id_col="id")
    components = comp.select("component").distinct().count()
    return salted, components


def test_hot_band_threshold_salts_moderate_bucket(spark):
    """hot_band_threshold is live below the default. A 200-member bucket
    expects 9.4 sampled rows at threshold 64 (rate 3/64), so it is salted
    almost surely (P[< 3 sampled] ~ 0.005); at the default 300 (rate 1%)
    it expects 2 and is salted only when the draw reaches 3 (P ~ 0.32).
    Twenty such buckets keep both bounds far from the seeded draw's
    noise. Salted or not, every bucket stays one component: star and
    pair edges stay inside one salt bucket, so only the hub-chain edges
    link a salted bucket's parts."""
    salted, components = _salted_bucket_count(spark, 64)
    assert salted >= 18, f"only {salted}/20 buckets salted at threshold 64"
    assert components == 20
    salted, components = _salted_bucket_count(spark, 300)
    assert salted <= 12, f"{salted}/20 buckets salted at the default"
    assert components == 20


def test_hot_key_detection_ignores_partitioning(spark):
    """The hot-key draw is a per-row hash, so the same rows give the same
    edges however they are partitioned. A 200-member bucket at the default
    threshold sits near the salting decision (3 of an expected 2 sampled
    rows); a per-partition seeded sample salted it at 2 partitions only."""
    results = []
    for parts in (1, 2, 3, 8):
        bands = spark.range(0, 200, numPartitions=parts).select(
            F.col("id").alias("image_id"),
            F.xxhash64("id").alias("phash"),
            F.lit(0).alias("band"),
            F.lit(5).cast("long").alias("key"),
        )
        edges = salted_candidate_edges(bands, DedupConfig())
        results.append(sorted(tuple(r) for r in edges.collect()))
    assert all(r == results[0] for r in results[1:])


def test_config_rejects_hot_band_threshold_below_one():
    """0 would divide by zero only once s3 runs, after s1 and s2 are
    committed."""
    for bad in (0, -1, None):
        with pytest.raises(ValueError, match="hot_band_threshold"):
            DedupConfig(hot_band_threshold=bad)
    assert DedupConfig(hot_band_threshold=1).hot_band_threshold == 1
