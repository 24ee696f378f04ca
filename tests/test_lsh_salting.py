"""LSH banding and candidate edges (operators/lsh.py): band keys, star
edges plus phash-gated bucket-local pairs, signature verification, and
exact hot-key salting — skew split + connectivity preservation (north
rule: all-black images / boilerplate captions make degenerate LSH band
keys)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arhivum_spark.config import DedupConfig
from arhivum_spark.operators.connected_components import connected_components
from arhivum_spark.operators.lsh import (
    band_keys,
    candidate_edges_compact,
    salted_candidate_edges,
    verify_edges,
)

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
    """The 4,000-member key is hot at a low and at a moderate threshold."""
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
    """A key below the default threshold stays one unsalted bucket: its
    hub is star-linked to every other member."""
    cfg = DedupConfig()
    small = _bucket(spark, 0, 40, 0, 5)
    edges = salted_candidate_edges(small, cfg)
    assert sorted(tuple(r) for r in edges.collect()) == [
        (0, i) for i in range(1, 40)
    ]


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
    """hot_band_threshold is live below the default: every 200-member
    bucket is salted at threshold 64 and none at the default 300. Salted
    or not, every bucket stays one component: star and pair edges stay
    inside one salt bucket, so only the hub-chain edges link a salted
    bucket's parts."""
    assert _salted_bucket_count(spark, 64) == (20, 20)
    assert _salted_bucket_count(spark, 300) == (0, 20)


@pytest.mark.parametrize("threshold", [64, 300])
def test_hot_key_rule_is_exact_at_the_threshold(spark, threshold):
    """A key of exactly hot_band_threshold members is salted; one of
    threshold - 1 members is not."""
    assert _salted_bucket_count(spark, threshold, 1, threshold) == (1, 1)
    assert _salted_bucket_count(spark, threshold, 1, threshold - 1) == (0, 1)


def test_hot_key_detection_ignores_partitioning(spark):
    """Hot keys come from an exact count and the salt from a per-row
    hash, so the same rows give the same edges however they are
    partitioned. The 200-member bucket sits exactly at the threshold, so
    it is salted at every partitioning."""
    results = []
    for parts in (1, 2, 3, 8):
        bands = spark.range(0, 200, numPartitions=parts).select(
            F.col("id").alias("image_id"),
            F.xxhash64("id").alias("phash"),
            F.lit(0).alias("band"),
            F.lit(5).cast("long").alias("key"),
        )
        edges = salted_candidate_edges(
            bands, DedupConfig(hot_band_threshold=200)
        )
        results.append(sorted(tuple(r) for r in edges.collect()))
    assert all(r == results[0] for r in results[1:])


def test_config_rejects_hot_band_threshold_below_one():
    """0 would divide by zero only once s3 runs, after s1 and s2 are
    committed."""
    for bad in (0, -1, None):
        with pytest.raises(ValueError, match="hot_band_threshold"):
            DedupConfig(hot_band_threshold=bad)
    assert DedupConfig(hot_band_threshold=1).hot_band_threshold == 1


def _sig_rows(spark, sigs, phash):
    """sig_df with long ids: sigs {id: minhash list}, phash {id: long}."""
    rows = [(i, [int(v) for v in mh], phash[i]) for i, mh in sigs.items()]
    return spark.createDataFrame(
        rows, "image_id long, minhash array<int>, phash long"
    )


def _bands_rows(spark, buckets, phash):
    """Hand-built band_keys frame: buckets {(band, key): [ids]}."""
    rows = [
        (i, phash[i], band, key)
        for (band, key), ids in buckets.items()
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "image_id long, phash long, band int, key long"
    )


# Hub-collider fixtures: the measured 2.4M/4.8M split-cluster mechanism
# (BENCH.md round 5). A FOREIGN one-band collider holds the bucket's min
# id, so it is elected star hub; both (hub, true-member) star edges fail
# signature verification, and the true pair — present in the bucket —
# loses its connectivity unless the bucket also emits member pairs.
_K = DedupConfig().num_perm
_BASE = list(range(_K))
_REENC = _BASE[:100] + [1000 + i for i in range(_K - 100)]  # 100/128 with base
_COLL1 = [2000 + i for i in range(_K)]
_COLL2 = [3000 + i for i in range(_K)]
# phash: true members 0-2 bits apart, colliders ~half the bits away
_FAR1 = 0x5A5A5A5A5A5A5A5A
_FAR2 = 0x3C3C3C3C3C3C3C3C


def _candidates_and_verified(spark, buckets, sigs, phash, cfg=DedupConfig()):
    cand = salted_candidate_edges(_bands_rows(spark, buckets, phash), cfg)
    sig_df = _sig_rows(spark, sigs, phash)
    cand_rows = [(r.src, r.dst) for r in cand.collect()]
    verified = verify_edges(cand, sig_df, cfg).collect()
    return cand_rows, [(r.src, r.dst) for r in verified]


def test_bucket_pairs_recover_foreign_hub_orphans(spark):
    """One foreign collider (id 1) is the bucket minimum: both star edges
    fail verification; the gated member pair (10, 11) recovers the true
    pair."""
    sigs = {1: _COLL1, 10: _BASE, 11: _REENC}
    phash = {1: _FAR1, 10: 0, 11: 1}
    stars = spark.createDataFrame([(1, 10), (1, 11)], "src long, dst long")
    # the failure mode: plain stars orphan the true pair
    sig_df = _sig_rows(spark, sigs, phash)
    assert verify_edges(stars, sig_df, DedupConfig()).count() == 0

    cand, got = _candidates_and_verified(
        spark, {(0, 77): [1, 10, 11]}, sigs, phash
    )
    assert sorted(cand) == [(1, 10), (1, 11), (10, 11)]
    assert got == [(10, 11)]


def test_bucket_pairs_recover_multi_collider_bucket(spark):
    """Two foreign colliders below the true pair in id order: a min-id
    re-election among the rejects would pick collider 2 and still orphan
    the pair (8 of the 10 splits at 2.4M). Bucket-local pairs verify the
    true pair directly; the collider x member pairs are phash-gated out
    before scoring."""
    cand, got = _candidates_and_verified(
        spark,
        {(0, 77): [1, 2, 10, 11]},
        {1: _COLL1, 2: _COLL2, 10: _BASE, 11: _REENC},
        {1: _FAR1, 2: _FAR2, 10: 0, 11: 1},
    )
    assert sorted(cand) == [(1, 2), (1, 10), (1, 11), (10, 11)]
    assert got == [(10, 11)]


def test_clean_bucket_candidates_are_plain_stars(spark):
    """When the hub is a true member and the other members' phashes are
    far apart, the candidates are exactly the star edges and
    verification keeps only the true one. A 2-member bucket emits its
    star edge alone."""
    near = _BASE[:90] + [3000 + i for i in range(_K - 90)]
    far = [4000 + i for i in range(_K)]
    cand, got = _candidates_and_verified(
        spark,
        {(0, 77): [1, 2, 3], (1, 78): [4, 5]},
        {1: _BASE, 2: near, 3: far, 4: _BASE, 5: far},
        {1: 0, 2: _FAR1, 3: _FAR2, 4: 0, 5: 0},
    )
    assert sorted(cand) == [(1, 2), (1, 3), (4, 5)]
    assert got == [(1, 2)]


def test_pair_in_star_and_collider_buckets_emitted_once(spark):
    """An edge verified via one bucket must not be emitted twice through
    another: bucket {10, 11} in band 0 makes (10, 11) a star edge, while
    collider bucket {1, 10, 11} in band 1 (foreign hub 1 fails both star
    edges) re-derives it as a gated member pair. Every edge is oriented
    src < dst, so distinct() leaves the pair exactly once — in the
    candidates and after verification."""
    cand, got = _candidates_and_verified(
        spark,
        {(0, 5): [10, 11], (1, 6): [1, 10, 11]},
        {1: _COLL1, 10: _BASE, 11: _REENC},
        {1: _FAR1, 10: 0, 11: 1},
    )
    assert sorted(cand) == [(1, 10), (1, 11), (10, 11)]
    assert got == [(10, 11)]


def test_clean_bucket_verifies_like_stars_and_pair_emitted_once(spark):
    """Clean bucket (hub 1 is a true member, the others' phashes far
    apart): verifying the bucket candidates gives exactly what verifying
    plain stars gives. And a pair verified in that bucket and re-derived
    as a gated pair of a foreign-hub bucket appears once."""
    cfg = DedupConfig()
    near = _BASE[:90] + [3000 + i for i in range(_K - 90)]
    far = [4000 + i for i in range(_K)]
    sigs = {1: _BASE, 2: near, 3: far}
    phash = {1: 0, 2: _FAR1, 3: _FAR2}
    stars = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    plain = verify_edges(stars, _sig_rows(spark, sigs, phash), cfg).collect()
    plain = sorted((r.src, r.dst) for r in plain)
    _, got = _candidates_and_verified(spark, {(0, 77): [1, 2, 3]}, sigs, phash)
    assert sorted(got) == plain == [(1, 2)]

    # second bucket: foreign hub 0 fails both star edges; members 1 and 2
    # sit 1 pHash bit apart, so (1, 2) is also emitted as a gated pair
    sigs[0] = _COLL1
    phash[0], phash[2] = _FAR1, 1
    cand, got = _candidates_and_verified(
        spark, {(0, 77): [1, 2, 3], (1, 78): [0, 1, 2]}, sigs, phash
    )
    assert sorted(cand) == [(0, 1), (0, 2), (1, 2), (1, 3)]
    assert got == [(1, 2)]


def test_compact_candidates_emit_each_pair_once(spark):
    """Through the string-id seam (candidate_edges_compact): star edges
    and pairs are oriented in xxhash64-surrogate order BEFORE the ids are
    mapped back, so a pair that is a star edge in some bands and a gated
    pair in another still appears once, whatever the string order."""
    r = DedupConfig().rows_per_band
    # the collider img-0 shares only band 0 with the true pair, which
    # shares bands 0..24. Surrogate order is img-0 < img-y < img-b: img-0
    # is band 0's hub, so (img-y, img-b) is a gated pair there and a star
    # edge in bands 1..24, against the string order of its ids
    coll = _BASE[:r] + [5000 + i for i in range(_K - r)]
    sigs = spark.createDataFrame(
        [("img-b", _BASE, 0), ("img-y", _REENC, 1), ("img-0", coll, _FAR1)],
        "image_id string, minhash array<int>, phash long",
    )
    rows = [
        tuple(sorted((e.src, e.dst)))
        for e in candidate_edges_compact(sigs, DedupConfig()).collect()
    ]
    assert sorted(rows) == [
        ("img-0", "img-b"), ("img-0", "img-y"), ("img-b", "img-y")
    ]


def test_band_keys_are_64bit_and_slice_determined(spark):
    """Equal 4-value slices in the same band must collide; the key column
    must be a long (64-bit) — 32-bit keys birthday-collide at n^2 rate
    across rows x bands (the measured superlinear split-cluster source)."""
    cfg = DedupConfig()
    k = cfg.num_perm
    sig_a = list(range(k))
    sig_b = list(range(cfg.rows_per_band)) + [9000 + i for i in range(k - cfg.rows_per_band)]
    df = spark.createDataFrame(
        [("a", sig_a, 0), ("b", sig_b, 0)],
        "image_id string, minhash array<int>, phash long",
    )
    out = band_keys(df, cfg)
    assert dict(out.dtypes)["key"] == "bigint"
    keys = {(r.image_id, r.band): r.key for r in out.collect()}
    # band 0 slices equal -> same key; band 1 slices differ -> different
    assert keys[("a", 0)] == keys[("b", 0)]
    assert keys[("a", 1)] != keys[("b", 1)]
    # same slice value in different bands must not collide (band seed)
    df2 = spark.createDataFrame(
        [("c", list(range(cfg.rows_per_band)) * cfg.bands, 0)],
        "image_id string, minhash array<int>, phash long",
    )
    k2 = [r.key for r in band_keys(df2, cfg).collect()]
    assert len(set(k2)) == len(k2)


def test_bucket_pairs_phash_gate(spark):
    """The quadratic member-pair enumeration is collapsed by a phash
    Hamming gate (config.pair_phash_max_hamming) inside the self-join: a
    signature-agreeing non-hub pair with DISTANT phashes is not a
    candidate (documented residual — impossible for PSNR>=40 near-dups,
    which measure 0-2 bits), while the same pair with close phashes is.
    Star edges are never gated."""

    def run(ph_c):
        return _candidates_and_verified(
            spark,
            {(0, 77): [1, 10, 11]},
            {1: _COLL1, 10: _BASE, 11: _REENC},
            {1: _FAR1, 10: 0, 11: ph_c},
        )

    # close phashes (hamming 1): recovered
    cand, got = run(1)
    assert (10, 11) in cand and got == [(10, 11)]
    # distant phashes (hamming 64): gated out, stars kept
    cand, got = run(-1)
    assert sorted(cand) == [(1, 10), (1, 11)] and got == []


def test_bucket_pairs_recover_pass_fail_asymmetric_pair(spark):
    """est_jaccard is not transitive through a hub: J(H,m1) can pass the
    0.5 threshold while J(H,m2) fails it, with J(m1,m2) well above it.
    The bucket's member pair (m1, m2) is a candidate whatever the star
    edges score, so the true pair is verified directly."""
    # m1 = base; H agrees with m1 on exactly half the positions (passes
    # at >= 0.5); m2 agrees with m1 on 96/128 (passes) but with H on
    # only 32/128 (fails)
    hub = _BASE[: _K // 2] + [6000 + i for i in range(_K - _K // 2)]
    m2 = [7000 + i for i in range(_K // 4)] + _BASE[_K // 4:]
    _cand, got = _candidates_and_verified(
        spark,
        {(0, 77): [1, 2, 3]},
        {1: hub, 2: _BASE, 3: m2},
        {1: 0, 2: 0, 3: 1},
    )
    assert sorted(got) == [(1, 2), (2, 3)]
