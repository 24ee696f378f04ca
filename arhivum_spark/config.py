"""Pipeline configuration.

One dataclass holds every signature/LSH/clustering knob so "the same
shingle/signature config" (the recall gate's precondition, BASELINE.json
north_rule) is a single value passed through the whole pipeline and pinned
in tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # pixel-block shingles (MinHash domain)
    block: int = 8                # shingle block edge in pixels
    gray_qstep: int = 32          # quadrant-mean quantization (re-encode robust)

    # MinHash signature
    num_perm: int = 128           # k permutations
    minhash_seed: int = 42

    # LSH banding: num_perm = bands * rows_per_band
    bands: int = 32
    rows_per_band: int = 4

    # SimHash over caption tokens
    simhash_bits: int = 64
    simhash_max_hamming: int = 3  # near-dup caption threshold

    # candidate verification
    # est.-Jaccard acceptance: measured class separation with the quadrant
    # shingles is dup pairs J >= ~0.7 (re-encoded worst case) vs random
    # pairs J <= ~0.06; 0.5 sits >5 sigma from both (k=128 estimator)
    min_signature_agreement: float = 0.5
    psnr_verify_db: float = 40.0           # lossy re-encode roundtrip invariant
    # decoded-pixel PSNR re-check of surviving candidate edges; runs as its
    # own pipeline stage re-joining bytes by id for the (few)
    # post-signature-verification edges. The EDGE bound is looser than the
    # roundtrip invariant: a legitimate near-dup with ~5% of pixel blocks
    # replaced sits near 10*log10(255^2 / (0.05 * 255^2/6)) ~= 20.8 dB,
    # while an UNRELATED pair sits at ~7.8 dB (MSE ~= 255^2/6) — 14 dB
    # separates the classes with margin on both sides. Lossy re-encodes of
    # identical content still clear psnr_verify_db and that stricter bound
    # stays the per-row codec invariant (tests/test_pipeline_recall.py).
    psnr_verify_enabled: bool = True
    psnr_edge_min_db: float = 14.0
    # the PSNR stage broadcasts its (id -> edge, side) map onto the images
    # scan while the surviving edge set is small (the common case after
    # signature verification); past this many edges the map would blow the
    # broadcast limit, so the stage falls back to a shuffle hash join keyed
    # on id (2 rows/edge either way — only the join strategy changes)
    psnr_broadcast_max_edges: int = 2_000_000
    # bound on the PSNR stage's in-flight byte shuffle: the stage moves
    # ~2 encoded payloads per edge, so an unbounded edge set makes the
    # shuffle high-water proportional to the surviving-edge count
    # (measured: ~58 GB at 4.8M images with the retry pass — past the
    # box's storage and OOM-killed; BENCH.md cliff #5). Edge sets larger
    # than this are verified in ceil(n/bound) batches: each batch's
    # side map is broadcast-small, its payload shuffle is released
    # before the next batch starts, and the trade is one extra images
    # scan per extra batch (scans are cheap relative to shuffle
    # high-water; at cluster scale this caps per-executor shuffle-disk
    # the same way). None disables batching.
    psnr_max_inflight_edges: int | None = 600_000

    # parquet vectorized-reader batch rows for the binary-heavy images
    # scan. The reader reserves a contiguous column buffer of
    # batch_rows x avg cell bytes PER TASK THREAD: at Spark's default
    # 4096 rows, an images table averaging ~23 KB of encoded bytes per
    # row reserves ~95 MB per thread — 32 local task threads OOMed a
    # 16 GB heap at 2.4M images (measured, round 4). 256 rows (aligned
    # with the pandas-UDF Arrow batch bound, session.py) keeps it at
    # ~6 MB per thread. None leaves the session default untouched.
    parquet_batch_rows: int | None = 256

    # skew handling: bands whose key frequency exceeds this get salted
    hot_band_threshold: int = 64
    # heavy-hitter detection sample fraction (1.0 = exact full count);
    # sampled detection skips a rows*bands-sized shuffle and only needs to
    # catch keys hot enough to matter (see lsh.salted_candidate_edges).
    # NOTE the sampled-count floor of 3 makes the EFFECTIVE salting
    # threshold ~ceil(3 / hot_detect_sample) members (~300 at the 0.01
    # default), not hot_band_threshold itself — keys between the two are
    # usually left unsalted, which is correctness-neutral (star edges still
    # link them) and only relaxes per-partition size bounds.
    hot_detect_sample: float = 0.01
    salt_buckets: int = 16
    max_pairs_per_band: int = 4096         # hard cap per (band,key) group
    # bucket-local pairs (lsh.salted_candidate_edges): buckets of 3 up to
    # this many members emit every non-hub member pair (<= g^2/2 per
    # bucket, before the gate) on top of their star edges, so a true pair
    # does not depend on hub election; larger buckets emit stars only
    bucket_allpairs_max: int = 128
    # those pairs are pre-filtered by phash hamming INSIDE the self-join
    # stage (before any shuffle or signature scoring): random colliders
    # sit at ~32/64 bits, true near-dups at PSNR>=40 measured at 0-2, so
    # this collapses the quadratic enumeration to ~true-pair volume.
    # P(random pair <= 16) ~ 3e-5 keeps noise negligible.
    pair_phash_max_hamming: int = 16

    # connected components
    cc_max_iters: int = 50

    # substring (suffix) pass over captions
    substring_max_tokens: int = 64         # only captions this short can be "contained"

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError("num_perm must equal bands * rows_per_band")
        if self.block < 2 or self.block % 2 != 0:
            # block_shingles packs the four (block/2)^2 quadrant means;
            # an odd block would fail the quadrant reshape inside the
            # signature mapInPandas stage instead of here
            raise ValueError(f"block must be even and >= 2, got {self.block}")
        if not (0 <= self.simhash_max_hamming <= 63):
            # pigeonhole blocking splits 64 bits into max_hamming+1
            # chunks; >= 64 gives zero-width chunks (an all-pairs join)
            raise ValueError(
                "simhash_max_hamming must be in [0, 63], got "
                f"{self.simhash_max_hamming}"
            )
        if self.cc_max_iters < 1:
            # connected_components rejects it too, but only in s4 — after
            # s1..s3b have been computed and committed
            raise ValueError(
                f"cc_max_iters must be >= 1, got {self.cc_max_iters}"
            )


DEFAULT_CONFIG = DedupConfig()
