"""Deterministic synthetic image+caption table with planted duplicate cohorts.

FIXTURES.md §A made concrete. Every row is a pure function of
(row_index, n_rows, seed, params) so generation is embarrassingly parallel —
Spark generates with `spark.range(n).mapInPandas(...)`, no cross-row data
movement: a duplicate row re-derives its base row's pixels from the base
index's seed instead of copying them.

Cohort layout over indices [0, n):
    [0, 70%)           base   — independent images
                         base j with j % 97 == 0  -> all-black image (skew)
                         base j with j % 101 == 0 -> boilerplate caption (skew)
    [70%, 78%)         exact  — byte-identical copy of a base row
    [78%, 86%)         reenc  — same pixels re-encoded lossy (PSNR >= 40 dB)
    [86%, 94%)         perturb— <=5% of 8x8 pixel blocks replaced
    [94%, 100%)        caption— fresh image, caption copied (even rows) or a
                         contiguous sub-span (odd rows — the substring class)

Ground truth: `truth_clusters` assigns every row in an image-level
near-duplicate class (exact/reenc/perturb + the all-black cohort) a cluster
id; caption relations are listed separately in `truth_caption_pairs`.
Mirrors the reference's scenario-duplicates fixture
(scripts/setup-test-fixtures.sh:140-155) at parametric scale.
"""

from __future__ import annotations

from collections.abc import Iterator
import functools
from dataclasses import dataclass

import numpy as np
import pandas as pd

from arhivum_spark import codec
from arhivum_spark.functions import phash as ph

VOCAB = [
    f"{w}{i}"
    for i in range(40)
    for w in ("sunset", "dog", "city", "tree", "ocean", "person", "sky", "car")
]
BOILERPLATE = "stock photo of a generic product on white background"

BASE_FRAC = 0.70
COHORT_FRACS = (("exact", 0.08), ("reenc", 0.08), ("perturb", 0.08), ("caption", 0.06))
ALLBLACK_MOD = 97
BOILER_MOD = 101


@dataclass(frozen=True)
class GenParams:
    n: int
    seed: int = 42
    img_hw: int = 64
    lossy_qstep_base: int = 4
    lossy_qstep_reenc: int = 8


@functools.lru_cache(maxsize=None)
def _bounds(p: GenParams) -> dict[str, tuple[int, int]]:
    # cached: GenParams is frozen/hashable and build_row calls this up to
    # twice per row (cohort_of + base_of) — ~10M redundant rebuilds at
    # the 4.8M corpus otherwise
    n_base = int(p.n * BASE_FRAC)
    out = {"base": (0, n_base)}
    pos = n_base
    for name, frac in COHORT_FRACS:
        cnt = int(p.n * frac)
        out[name] = (pos, pos + cnt)
        pos += cnt
    # remainder (rounding) -> more base-like uniques appended to caption cohort end
    out["tail"] = (pos, p.n)
    return out


def cohort_of(i: int, p: GenParams) -> str:
    for name, (lo, hi) in _bounds(p).items():
        if lo <= i < hi:
            return name if name != "tail" else "base_tail"
    raise IndexError(i)


def base_of(i: int, p: GenParams) -> int:
    """Deterministic base-row index for a derived row (Knuth multiplicative)."""
    n_base = _bounds(p)["base"][1]
    return (i * 2654435761) % n_base


def _rng(p: GenParams, tag: int, j: int) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence([p.seed, tag, j]).generate_state(4)
    )


def base_pixels(j: int, p: GenParams) -> np.ndarray:
    if j % ALLBLACK_MOD == 0:
        return np.zeros((p.img_hw, p.img_hw, 3), dtype=np.uint8)
    return _rng(p, 1, j).integers(0, 256, (p.img_hw, p.img_hw, 3), dtype=np.uint8)


def base_caption(j: int, p: GenParams) -> str:
    if j % BOILER_MOD == 0:
        return BOILERPLATE
    rng = _rng(p, 2, j)
    n_tok = int(rng.integers(5, 31))
    return " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n_tok))


def base_encoding(j: int, p: GenParams) -> tuple[str, int]:
    """(fmt, qstep): odd bases lossless png, even bases lossy jpeg."""
    return ("png", 0) if j % 2 == 1 else ("jpeg", p.lossy_qstep_base)


def build_row(i: int, p: GenParams) -> dict:
    cohort = cohort_of(i, p)
    if cohort in ("base", "base_tail"):
        j, pixels, caption = i, base_pixels(i, p), base_caption(i, p)
        fmt, qstep = base_encoding(i, p)
    else:
        j = base_of(i, p)
        pixels, caption = base_pixels(j, p), base_caption(j, p)
        fmt, qstep = base_encoding(j, p)
        if cohort == "reenc":
            fmt, qstep = "jpeg", p.lossy_qstep_reenc
        elif cohort == "perturb":
            rng = _rng(p, 3, i)
            pixels = pixels.copy()
            tiles = p.img_hw // 8
            n_flip = max(1, int(tiles * tiles * 0.03))
            for _ in range(n_flip):
                ty, tx = rng.integers(0, tiles, 2)
                pixels[ty * 8 : (ty + 1) * 8, tx * 8 : (tx + 1) * 8] = rng.integers(
                    0, 256, (8, 8, 3), dtype=np.uint8
                )
        elif cohort == "caption":
            pixels = _rng(p, 4, i).integers(
                0, 256, (p.img_hw, p.img_hw, 3), dtype=np.uint8
            )
            fmt, qstep = ("png", 0) if i % 2 == 1 else ("jpeg", p.lossy_qstep_base)
            if i % 2 == 1:
                toks = caption.split()
                if len(toks) > 3:  # contiguous sub-span -> substring class
                    caption = " ".join(toks[1 : max(3, len(toks) - 1)])
    data = (
        codec.encode_lossless(pixels)
        if fmt == "png"
        else codec.encode_lossy(pixels, qstep)
    )
    decoded = codec.decode(data)
    return {
        "image_id": f"img-{i:010d}",
        "bytes": data,
        "w": np.int32(p.img_hw),
        "h": np.int32(p.img_hw),
        "fmt": fmt,
        "caption": caption,
        "phash": np.int64(ph.phash64(decoded)),
    }


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def images_df(
    spark,
    p: GenParams,
    partitions: int | None = None,
    lo: int = 0,
    hi: int | None = None,
):
    """Distributed generation: spark.range -> mapInPandas, no shuffle.

    ``lo``/``hi`` generate only the index sub-range [lo, hi) of the SAME
    n-row corpus (build_row is index-pure), so a corpus larger than any
    single storage tier can be written in location-split slices — e.g.
    half to disk, half to tmpfs — and read back as one table with
    ``spark.read.parquet(path_a, path_b)``. Slicing never changes row
    content: images_df(p)[lo:hi] == images_df(p, lo=lo, hi=hi).
    """
    nparts = partitions or spark.sparkContext.defaultParallelism
    hi = p.n if hi is None else hi

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [build_row(int(i), p) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(lo, hi, 1, nparts)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Clustered synthetic embeddings (round 4 — blocking-effectiveness evidence)
#
# Real embedding corpora are CLUSTERED (semantic neighborhoods), not
# isotropic-random: on random low-d vectors at a low threshold, any
# recall-1.0 LSH config provably degenerates to all-pairs
# (docs/ENGINEERING_NOTES.md round-3), so pruning claims need data shaped
# like production embeddings. Every row is a pure function of
# (i, params, seed), as in images_df.


@dataclass(frozen=True)
class EmbParams:
    n: int
    d: int = 256
    n_clusters: int = 60
    cluster_size: int = 10
    sigma: float = 0.15  # within-cluster cos ~= 1/(1+sigma^2) ~ 0.978
    seed: int = 42


def _emb_vector(i: int, p: EmbParams) -> np.ndarray:
    n_clustered = p.n_clusters * p.cluster_size
    if i < n_clustered:
        c = i // p.cluster_size
        center = _emb_rng(p.seed, 20, c).standard_normal(p.d)
        center /= np.linalg.norm(center)
        noise = _emb_rng(p.seed, 21, i).standard_normal(p.d)
        return center + (p.sigma / np.sqrt(p.d)) * noise
    return _emb_rng(p.seed, 22, i).standard_normal(p.d)


def _emb_rng(seed: int, tag: int, j: int) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence([seed, tag, j]).generate_state(4)
    )


def clustered_embeddings_pandas(p: EmbParams) -> pd.DataFrame:
    """Driver-side generation for pytest fixtures / exact numpy oracles."""
    return pd.DataFrame(
        {
            "vec_id": np.arange(p.n, dtype=np.int64),
            "embedding": [
                _emb_vector(i, p).astype(np.float32).tolist()
                for i in range(p.n)
            ],
        }
    )


# ---------------------------------------------------------------------------
# Ground truth (index arithmetic only — no pixels)


def truth_clusters(p: GenParams) -> pd.DataFrame:
    """(image_id, cluster_id) for every row in an image-level dup cluster.

    Cluster id = min image index in the cluster. All all-black bases (and
    their derived rows) form ONE cluster; other clusters are {base} U
    {exact/reenc/perturb rows deriving from it}.
    """
    b = _bounds(p)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    n_base = b["base"][1]
    # all-black rows: build_row applies the ALLBLACK_MOD rule to BASE
    # *and* BASE_TAIL indices (the rounding remainder generates with
    # base_pixels(i) too) — scanning only [0, n_base) omitted a planted
    # black member whenever the tail happened to contain a multiple of
    # 97 (n = 98, 195, 971, ... ; the bench sizes 600k/2.4M/4.8M divide
    # the cohort fractions exactly, so their tails are empty and every
    # recorded recall number is unaffected)
    tail_lo, tail_hi = b["tail"]
    blacks = list(range(0, n_base, ALLBLACK_MOD)) + [
        j for j in range(tail_lo, tail_hi) if j % ALLBLACK_MOD == 0
    ]
    for j in blacks[1:]:
        union(blacks[0], j)
    for name in ("exact", "reenc", "perturb"):
        lo, hi = b[name]
        for i in range(lo, hi):
            union(base_of(i, p), i)
    members: dict[int, list[int]] = {}
    # Nodes = union losers + blacks + THE ROOTS THEMSELVES. A union's
    # winning root never appears as a parent-dict key, so iterating only
    # set(parent) drops every base row from its own cluster — with
    # base_of a bijection (multiplier coprime to n_base) each non-black
    # base has at most one derivative per cohort and EVERY non-black
    # {base, derivative} truth pair degenerated to an excluded singleton.
    # (Round-5 find: the bench recall gate was thereby measuring ONLY the
    # all-black mega-cluster — 16.9M of 16.9M pairs at 600k — while the
    # 142,512 non-black pairs went unchecked. The corrected truth's
    # cluster arithmetic reproduces the pipeline's historical counts
    # exactly: (600000 - 290,842) + 142,513 = 451,671.)
    nodes = set(parent) | set(blacks)
    nodes |= {find(x) for x in list(nodes)}
    for x in nodes:
        members.setdefault(find(x), []).append(x)
    rows = [
        {"image_id": f"img-{i:010d}", "cluster_id": f"img-{root:010d}"}
        for root, mem in members.items()
        if len(mem) > 1  # every truth cluster now has base + derivative(s)
        for i in mem
    ]
    return pd.DataFrame(rows)


def truth_caption_pairs(p: GenParams) -> pd.DataFrame:
    """(image_id_a, image_id_b, dup_class) for caption-relation rows:
    dup_class 'caption_exact' (copied) or 'caption_substring' (sub-span)."""
    lo, hi = _bounds(p)["caption"]
    rows = []
    for i in range(lo, hi):
        j = base_of(i, p)
        toks = base_caption(j, p).split()
        cls = (
            "caption_substring"
            if i % 2 == 1 and len(toks) > 3
            else "caption_exact"
        )
        rows.append(
            {
                "image_id_a": f"img-{j:010d}",
                "image_id_b": f"img-{i:010d}",
                "dup_class": cls,
            }
        )
    return pd.DataFrame(rows)
