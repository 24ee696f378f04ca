"""DedupConfig: the settings a caller can set, and the constants that
every pipeline run shares."""

from __future__ import annotations

import dataclasses

import pytest

from arhivum_spark.config import DedupConfig

CONSTANTS = {
    "block": 8,
    "gray_qstep": 32,
    "num_perm": 128,
    "minhash_seed": 42,
    "bands": 32,
    "rows_per_band": 4,
    "simhash_max_hamming": 3,
    "psnr_max_inflight_edges": 600_000,
    "bucket_allpairs_max": 128,
    "pair_phash_max_hamming": 16,
    "cc_max_iters": 50,
}


def test_fields_are_the_settable_ones():
    assert [f.name for f in dataclasses.fields(DedupConfig)] == [
        "min_signature_agreement",
        "psnr_edge_min_db",
        "hot_band_threshold",
        "max_pairs_per_band",
        "substring_max_tokens",
    ]


def test_constants_are_class_values_read_through_an_instance():
    fields = {f.name for f in dataclasses.fields(DedupConfig)}
    cfg = DedupConfig(min_signature_agreement=0.4, substring_max_tokens=12)
    for name, value in CONSTANTS.items():
        assert name not in fields, name
        assert getattr(DedupConfig, name) == value, name
        assert getattr(cfg, name) == value, name
    assert cfg.num_perm == cfg.bands * cfg.rows_per_band


@pytest.mark.parametrize("name", sorted(CONSTANTS))
def test_constants_are_not_settable(name):
    with pytest.raises(TypeError, match=name):
        DedupConfig(**{name: CONSTANTS[name] // 2})
