"""LSH banding, hot-band salting, and candidate-edge generation.

Generalizes the reference's hash-equality probe join (J1,
ScannedFileRepository.findBySha256) to near-duplicates: the MinHash
signature is split into `bands` bands of `rows_per_band` values; two images
that share any band key are candidates (P[share a band] = 1-(1-J^r)^b).

Scale design (the parts Catalyst can't do for us — SURVEY.md §4):

- **Exact-dedup first**: byte-identical rows are collapsed to one
  representative BEFORE banding (the reference's skip-expensive-work-for-
  duplicates optimization, ScanCommand.java:342-353, applied to the whole
  near-dup stage). Degenerate cohorts (all-black images) collapse from
  billions of rows to a handful of distinct contents.
- **Star edges plus phash-gated bucket-local pairs**: within a
  (band, key, salt) bucket we emit (hub=min_id, member) star edges — O(k)
  per bucket. Buckets of 3..`bucket_allpairs_max` members also emit every
  non-hub member pair whose pHash Hamming distance is at most
  `pair_phash_max_hamming`, gated inside the self-join, so a true pair no
  longer depends on winning hub election (a foreign min-id collider hub
  fails both its star edges at verification). Larger buckets emit stars
  only. One verification pass scores the whole candidate set;
  connected components restores the full cluster. No collect_list, no
  un-gated quadratic pair blowup on hot bands.
- **Exact hot-key salting**: one groupBy(band, key) counts every key's
  members; a key with at least `hot_band_threshold` members gets a salt =
  hash(image_id, band, key) % SALT_BUCKETS appended, splitting a hot
  bucket's window into bounded partitions. Buckets of a salted key are
  re-linked by CC through the exact-dup and multi-band overlap edges (and
  a hub chain from each salt bucket's hub to the key's min id).
- AQE skew-join stays on for the verification join (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arhivum_spark.config import DedupConfig

# salt buckets per hot (band, key): a hot bucket's rows split this many ways
SALT_BUCKETS = 16


def band_keys(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Explode each signature into (image_id, band, key) — JVM-side only.

    key = xxhash64 of the band's signature slice (plus band index so
    identical slices in different bands don't collide). The key MUST be
    64-bit: with 32-bit Murmur3 keys, rows x bands distinct slices
    birthday-collide at an n^2 rate — ~690k falsely-merged buckets at
    2.4M images (76.8M band values), and ~7,400 garbage occupants in
    EVERY bucket at the 10^12-row north-rule scale (3.2e13 values into
    2^32), which would drown the star construction. At 2^64 the 2.4M
    load expects ~1e-4 colliding keys. (Measured at 2.4M, hash
    collisions were NOT the split-cluster source — that is same-slice
    concentration; see salted_candidate_edges — but 64-bit keys are a
    survival requirement at the target scale.)

    The id column that rides through the explode and both downstream
    shuffles should be a LONG, not a string: at rows x bands scale every
    byte of the key is shuffle traffic (see candidate_edges_compact).
    `phash` rides along so the bucket-local pair gate runs inside the
    self-join, before any pair crosses a shuffle.
    """
    r = cfg.rows_per_band
    bands_arr = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda b: F.xxhash64(F.slice(F.col("minhash"), b * r + 1, r), b),
    )
    return sig_df.select(
        "image_id",
        "phash",
        F.posexplode(bands_arr).alias("band", "key"),
    )


def candidate_edges_compact(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """band explode -> salted candidate edges, with a compact long
    surrogate id.

    The 14+-byte string ids would dominate the (rows x bands) explode and
    both window shuffles; a long surrogate (xxhash64 of the id — collision
    odds n^2/2^65) cuts shuffle bytes ~2x. Output edges are mapped back to
    the original id via one broadcast-friendly dictionary join.
    """
    keyed = sig_df.select(
        F.xxhash64("image_id").alias("_iid"),
        "image_id",
        "minhash",
        "phash",
    )
    iid_map = keyed.select("_iid", "image_id")
    bands = band_keys(
        keyed.select(F.col("_iid").alias("image_id"), "minhash", "phash"), cfg
    )
    edges = salted_candidate_edges(bands, cfg)
    src_map = iid_map.select(
        F.col("_iid").alias("src"), F.col("image_id").alias("src_id")
    )
    dst_map = iid_map.select(
        F.col("_iid").alias("dst"), F.col("image_id").alias("dst_id")
    )
    return (
        edges.join(src_map, "src")
        .join(dst_map, "dst")
        .select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"))
    )


def salted_candidate_edges(
    bands: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """(band,key) buckets -> candidate edges (src < dst), salt-split.

    One bucket aggregate: bands.groupBy(band, key) gives each key's
    member count key_n and min id key_hub, kept for keys of 2 or more
    members. A key is 'hot' when key_n >= hot_band_threshold — an exact
    count, not a sample. Hot keys' rows get a per-row salt, and only
    those rows go through a second, small (band, key, salt) aggregate for
    each salt bucket's hub and size; a cold key is one bucket whose hub
    and size are key_hub and key_n. Each bucket emits hub->member star
    edges, and every salt-bucket hub that is not its key's key_hub links
    to it (the hub chain), so a salted key stays one component.

    Why pairs as well as stars: star verification filters (hub, member)
    edges independently, so a FOREIGN collider that holds the bucket's
    min id fails both edges and orphans the true pair sitting in the same
    bucket. Minhash values concentrate (random images share ~6% of
    positions through common shingles), so popular slices recur across
    dozens of images: at 2.4M images the split pairs sat in buckets of
    3-69 mutually-dissimilar members in every one of their 4-12 shared
    bands, the best true member ranked as low as 40th by id. Hence buckets
    of 3..bucket_allpairs_max members also emit every non-hub member pair
    whose pHash Hamming distance is <= pair_phash_max_hamming. The gate
    runs inside the self-join stage: random colliders sit at ~32/64 bits,
    true near-dups at 0-2 (P(random pair <= 16 bits) ~ 3e-5), so only
    ~true-pair volume crosses a shuffle. A 2-member bucket's only pair is
    its star edge, so it is skipped.

    Every edge is oriented src < dst in id order — star (hub = min), pair
    (m1 < m2) and hub chain (key_hub = min) — so the final distinct()
    dedups unordered pairs across buckets and edge kinds.

    Residual recall gap, documented: a true pair is found only through
    winning a hub election (a) in buckets above bucket_allpairs_max, which
    emit stars only — hot-key shrapnel the salting and cap valves already
    bound — and (b) when its pHash Hamming distance exceeds
    pair_phash_max_hamming (PSNR >= 40 dB re-encodes measure 0-2 bits).
    """
    # The one aggregate over every band row, partial-aggregated map-side
    # so a hot key never funnels into one partition (a window over raw
    # (band, key) would — never do that). Band keys are mostly unique, so
    # the >= 2 filter leaves a small table that AQE broadcasts into the
    # member join: the band rows themselves are never shuffled (AQE's
    # skew join splits a hot key if the table ever outgrows a broadcast).
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.count("*").alias("key_n"), F.min("image_id").alias("key_hub"))
        .filter(F.col("key_n") >= 2)
    )
    hot = F.col("key_n") >= cfg.hot_band_threshold
    # rows of multi-member buckets only; pinned because the hot-bucket
    # aggregate, the star edges and the pairs all read them
    salted = (
        bands.join(buckets, ["band", "key"])
        .withColumn(
            # the salt hash MUST mix in (band, key), not just the id: a
            # per-id-only salt gives a true pair the SAME split/co-salt
            # outcome in every hot bucket they share (P[split everywhere]
            # = 1 - 1/SALT_BUCKETS, correlated), whereas per-(band,key)
            # salting makes the draws independent — P[co-salted in at
            # least one of k shared hot bands] = 1-(1-1/s)^k. Residual
            # recall gap (documented): a true pair whose shared band keys
            # are ALL hot and that loses every per-band salt draw AND
            # every salt bucket's hub election; the hub chain only links
            # buckets whose hubs verify against each other (trivially
            # true for the identical-content cohorts that dominate real
            # hot keys).
            "salt",
            F.when(
                hot,
                F.pmod(
                    F.xxhash64("image_id", F.col("band"), F.col("key")),
                    F.lit(SALT_BUCKETS),
                ),
            ).otherwise(F.lit(0)),
        )
        .localCheckpoint(eager=False)
    )
    # hub and size of each salt bucket of a hot key: at most SALT_BUCKETS
    # rows per hot key, so it is broadcast. key_hub is constant within a
    # key, so grouping by it splits no bucket.
    salt_hubs = (
        salted.filter(hot)
        .groupBy("band", "key", "key_hub", "salt")
        .agg(F.min("image_id").alias("_hub"), F.count("*").alias("_n"))
    )
    members = (
        salted.join(
            F.broadcast(salt_hubs.drop("key_hub")),
            ["band", "key", "salt"],
            "left",
        )
        .withColumn("hub", F.coalesce("_hub", "key_hub"))
        .withColumn("bucket_n", F.coalesce("_n", "key_n"))
        .filter(F.col("image_id") != F.col("hub"))
    )
    # max_pairs_per_band (SURVEY §4 degenerate-content valve): a bucket
    # with more than `cap` members emits only ~cap star edges — members are
    # kept by a deterministic hash draw (pmod(h, bucket_n) < cap keeps an
    # expected cap of them). Exact-dedup-first already collapsed identical
    # content, so a bucket this big means pathological near-identical
    # variety; sampled-out members may cost recall there, which is the
    # documented trade. Per (band, key) the bound is SALT_BUCKETS * cap.
    cap = cfg.max_pairs_per_band
    edges = (
        members.filter(
            (F.col("bucket_n") <= cap)
            | (
                F.pmod(
                    F.xxhash64("image_id", F.col("band"), F.col("key")),
                    F.col("bucket_n"),
                )
                < cap
            )
        )
        .select(F.col("hub").alias("src"), F.col("image_id").alias("dst"))
    )
    # bucket-local non-hub pairs, phash-gated before anything leaves the
    # self-join stage (see the docstring)
    pair_side = members.filter(
        F.col("bucket_n").between(3, cfg.bucket_allpairs_max)
    )
    pairs = (
        pair_side.select(
            "band", "key", "salt",
            F.col("image_id").alias("src"), F.col("phash").alias("p1"),
        )
        .join(
            pair_side.select(
                "band", "key", "salt",
                F.col("image_id").alias("dst"), F.col("phash").alias("p2"),
            ),
            ["band", "key", "salt"],
        )
        .filter(F.col("src") < F.col("dst"))
        .filter(
            F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
            <= cfg.pair_phash_max_hamming
        )
        .select("src", "dst")
    )
    hub_chain = salt_hubs.filter(F.col("_hub") != F.col("key_hub")).select(
        F.col("key_hub").alias("src"), F.col("_hub").alias("dst")
    )
    return edges.unionByName(pairs).unionByName(hub_chain).distinct()


def verify_edges(
    edges: DataFrame, sig_df: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Keep candidate edges whose full-signature agreement >= threshold.

    Agreement = fraction of equal MinHash positions (unbiased Jaccard
    estimate, the true-Jaccard generalization of the reference's
    calculateSimilarity proxy), computed with zip_with/aggregate — stays
    in the JVM, no Python. Returns (src, dst, est_jaccard).
    """
    sigs = sig_df.select(
        F.col("image_id").alias("_vid"),
        F.col("minhash").alias("_mh"),
    )
    a = sigs.select(
        F.col("_vid").alias("src"),
        F.col("_mh").alias("mh_a"),
    )
    b = sigs.select(
        F.col("_vid").alias("dst"),
        F.col("_mh").alias("mh_b"),
    )
    agree = F.aggregate(
        F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        edges.join(a, "src")
        .join(b, "dst")
        .withColumn("est_jaccard", agree / F.lit(cfg.num_perm))
        .select("src", "dst", "est_jaccard")
        .filter(F.col("est_jaccard") >= cfg.min_signature_agreement)
    )
