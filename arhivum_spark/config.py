"""Pipeline configuration.

One dataclass holds every signature/LSH/clustering setting so "the same
shingle/signature config" (the recall gate's precondition, BASELINE.json
north_rule) is a single value passed through the whole pipeline and pinned
in tests.

Only the settings a caller varies are constructor fields: the four
`cli.py` flags and `substring_max_tokens`. Everything else is a class
constant, read the same way (`cfg.num_perm`) but not settable, so a
committed stage snapshot can never have been built with a different
shingle, signature, banding or verification geometry than the one reading
it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar


@dataclass(frozen=True)
class DedupConfig:
    # -- constants ---------------------------------------------------------

    # pixel-block shingles (MinHash domain); block_shingles packs the four
    # (block/2)^2 quadrant means, so the edge is even
    block: ClassVar[int] = 8          # shingle block edge in pixels
    gray_qstep: ClassVar[int] = 32    # quadrant-mean quantization (re-encode robust)

    # LSH banding: num_perm = bands * rows_per_band MinHash permutations
    bands: ClassVar[int] = 32
    rows_per_band: ClassVar[int] = 4
    num_perm: ClassVar[int] = bands * rows_per_band
    minhash_seed: ClassVar[int] = 42

    # SimHash (64-bit) over caption tokens: near-dup caption threshold.
    # Pigeonhole blocking splits the 64 bits into simhash_max_hamming + 1
    # = 4 chunks of 16 bits (dedup_text.simhash_near_pairs)
    simhash_max_hamming: ClassVar[int] = 3

    # bound on the PSNR stage's in-flight byte shuffle: the stage moves
    # ~2 encoded payloads per edge, so an unbounded edge set makes the
    # shuffle high-water proportional to the surviving-edge count
    # (measured: ~58 GB at 4.8M images with the retry pass — past the
    # box's storage and OOM-killed; BENCH.md cliff #5). The edges are
    # verified in ceil(n/bound) hash-batches: each batch's payload
    # shuffle is released before the next batch starts, and the trade is
    # one extra images scan per extra batch (scans are cheap relative to
    # shuffle high-water; at cluster scale this caps per-executor
    # shuffle-disk the same way). Each batch's (id -> edge, side) side
    # map is always broadcast, so the bound also caps the broadcast at
    # two rows per edge: a bound too large to broadcast fails in Spark
    # instead of switching to a join that shuffles every image.
    psnr_max_inflight_edges: ClassVar[int] = 600_000

    # bucket-local pairs (lsh.salted_candidate_edges): buckets of 3 up to
    # this many members emit every non-hub member pair (<= g^2/2 per
    # bucket, before the gate) on top of their star edges, so a true pair
    # does not depend on hub election; larger buckets emit stars only
    bucket_allpairs_max: ClassVar[int] = 128
    # those pairs are pre-filtered by phash hamming INSIDE the self-join
    # stage (before any shuffle or signature scoring): random colliders
    # sit at ~32/64 bits, true near-dups at PSNR>=40 measured at 0-2, so
    # this collapses the quadratic enumeration to ~true-pair volume.
    # P(random pair <= 16) ~ 3e-5 keeps noise negligible.
    pair_phash_max_hamming: ClassVar[int] = 16

    # connected components: label-propagation round cap of s4
    cc_max_iters: ClassVar[int] = 50

    # -- settable fields ---------------------------------------------------

    # candidate verification
    # est.-Jaccard acceptance: measured class separation with the quadrant
    # shingles is dup pairs J >= ~0.7 (re-encoded worst case) vs random
    # pairs J <= ~0.06; 0.5 sits >5 sigma from both (k=128 estimator)
    min_signature_agreement: float = 0.5
    # decoded-pixel PSNR re-check of surviving candidate edges: stage s3b,
    # part of every run, fetches bytes by id for the (few)
    # post-signature-verification edges only. The EDGE bound is looser
    # than the roundtrip invariant: a legitimate near-dup with ~5% of
    # pixel blocks replaced sits near
    # 10*log10(255^2 / (0.05 * 255^2/6)) ~= 20.8 dB,
    # while an UNRELATED pair sits at ~7.8 dB (MSE ~= 255^2/6) — 14 dB
    # separates the classes with margin on both sides. Lossy re-encodes of
    # identical content clear a stricter 40 dB, the per-row codec
    # invariant (tests/test_pipeline_recall.py).
    psnr_edge_min_db: float = 14.0

    # skew handling: a (band, key) bucket of at least this many members
    # is salted. s3 counts every key exactly in the one bucket aggregate
    # it needs for star hubs anyway (see lsh.salted_candidate_edges).
    hot_band_threshold: int = 300
    max_pairs_per_band: int = 4096         # hard cap per (band,key) group

    # substring (suffix) pass over captions
    substring_max_tokens: int = 64         # only captions this short can be "contained"

    def __post_init__(self) -> None:
        # checked here, not where used: a 0 hot_band_threshold divides by
        # zero in s3, after s1 and s2 are committed
        value = self.hot_band_threshold
        if not isinstance(value, int) or value < 1:
            raise ValueError(
                f"hot_band_threshold must be an int >= 1, got {value!r}"
            )
