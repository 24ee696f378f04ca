"""Round-5 hygiene gates (VERDICT_r04 tasks 5 + ADVICE fixes).

1. Tokenization contract agreement: the Catalyst-side regex split
   (text_analysis._tokens, substring_pairs) and the numpy byte-scan
   kernels (simhash_batch / _gram_hash_batch) must agree on what a token
   is for captions containing tabs/newlines/VT/FF/CR, whitespace runs,
   and NON-separators (\\x1c-\\x1f, NBSP) — the round-4 verdict found the
   two engines disagreed on tab/newline captions.
2. The DuckDB oracle tokenizer (queries._TOKS_SQL) implements the same
   contract, so oracle parity holds on corpora the driver could ever
   grow whitespace into.
3. _cap_buckets fast path (ADVICE): both paths drop singleton buckets
   and feed identical candidate frames.
4. q_st_first_wins with spark.arhivum.scratchDir set (ADVICE medium):
   re-invocable in one process, fresh staging root each time — no
   makedirs crash, no stale-row accumulation in the append-mode sink.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from arhivum_spark.config import DedupConfig
from arhivum_spark.operators import dedup_text, text_analysis

# the documented contract: maximal runs of non-whitespace, whitespace =
# exactly the six ASCII separators (NARROWER than str.split())
_TOKEN_RE = re.compile(r"[^ \t\n\r\x0b\x0c]+")


def _contract_tokens(text: str) -> list[str]:
    return _TOKEN_RE.findall(text)


# adversarial corpus: every separator, runs, mixes, NON-separators that
# str.split() or \s would wrongly treat as whitespace, empty/blank docs
ADVERSARIAL = [
    "plain single space tokens",
    "tab\tseparated\ttokens",
    "newline\nseparated\ntokens",
    "mixed \t\n\x0b\x0c\r all six separators",
    "  leading and trailing  ",
    "runs     of      spaces",
    "\t\n \r",  # whitespace-only -> no tokens
    "",  # empty -> no tokens
    "nbsp\xa0is-not-a-separator",
    "file\x1cgroup\x1drecord\x1eunit\x1fseps are tokens chars",
    "emspace stays glued",
    "a",
    "CRLF\r\nline endings",
]


def test_contract_tokens_is_narrower_than_str_split():
    # sanity on the reference itself: \x1c-\x1f and unicode spaces split
    # under str.split() but are token chars under the contract
    s = "a\x1fb\xa0c"
    assert s.split() == ["a", "b", "c"]  # \x1f AND NBSP split
    assert _contract_tokens(s) == ["a\x1fb\xa0c"]  # neither is a separator


def test_spark_tokens_match_contract(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)],
        schema="id long, text string",
    )
    got = {
        r["id"]: list(r["toks"])
        for r in df.select(
            "id", text_analysis._tokens("text").alias("toks")
        ).collect()
    }
    for i, t in enumerate(ADVERSARIAL):
        assert got[i] == _contract_tokens(t), repr(t)


def test_duckdb_oracle_tokens_match_contract():
    import duckdb

    from arhivum_spark.queries import _TOKS_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (id INT, text VARCHAR)"
    )
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", list(enumerate(ADVERSARIAL))
    )
    rows = con.execute(
        f"SELECT id, {_TOKS_SQL} FROM docs ORDER BY id"
    ).fetchall()
    for i, toks in rows:
        assert list(toks or []) == _contract_tokens(ADVERSARIAL[i]), repr(
            ADVERSARIAL[i]
        )


def test_numpy_kernels_match_contract_on_whitespace():
    """simhash_batch / _gram_hash_batch byte-scan tokenization must agree
    with the contract on the adversarial corpus (scalar references take
    explicit token lists, so agreement == feeding contract tokens)."""
    import numpy as np

    from arhivum_spark.functions import simhash as sh

    ref = np.array(
        [sh.simhash64(_contract_tokens(t)) for t in ADVERSARIAL],
        dtype=np.int64,
    )
    got = sh.simhash_batch(ADVERSARIAL)
    assert (got == ref).all()


def test_substring_pairs_whitespace_captions_definitional_oracle(spark):
    """Containment on captions whose tokens are separated by tabs,
    newlines, and runs must follow the CONTRACT tokens: 'a\\tb' is
    contained in 'x a\\nb y' (same token sequence), and a whitespace-only
    caption contains/is-contained-in nothing."""
    texts = [
        "x a\nb y",          # 0 container
        "a\tb",              # 1 contained in 0 (tokens [a, b])
        "a  b",              # 2 identical tokens -> mutual with 1, in 0
        "a",                 # 3 contained in 0, 1, 2
        " \t\n ",            # 4 no tokens -> no edges
        "",                  # 5 no tokens -> no edges
        "a b",          # 6 ONE token 'a\xa0b' -> no containment
    ]
    toks = [_contract_tokens(t) for t in texts]
    cfg = DedupConfig()
    truth = set()
    for i, ta in enumerate(toks):
        if not (1 <= len(ta) <= cfg.substring_max_tokens):
            continue
        for j, tb in enumerate(toks):
            if i == j or len(ta) > len(tb):
                continue
            if any(
                tb[s : s + len(ta)] == ta
                for s in range(len(tb) - len(ta) + 1)
            ):
                truth.add((i, j))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="id long, text string"
    )
    got = {
        (int(r["contained_id"]), int(r["container_id"]))
        for r in dedup_text.substring_pairs(
            df, cfg, id_col="id", text_col="text"
        ).collect()
    }
    assert got == truth
    assert (1, 0) in truth and (2, 1) in truth  # the cases that regressed


def test_cap_buckets_fast_path_drops_singletons(spark):
    """ADVICE fix: the un-skewed fast path must feed the SAME candidate
    frame as the skewed path — singleton buckets dropped, no _bn column
    leaked."""
    from arhivum_spark.operators.embeddings import _cap_buckets

    rows = (
        [(0, 7, i) for i in range(3)]     # bucket of 3
        + [(0, 8, 10), (0, 8, 11)]        # bucket of 2
        + [(0, 9, 20), (1, 7, 21)]        # two singletons
    )
    bucketed = spark.createDataFrame(
        rows, schema="table int, bucket int, _cid long"
    )
    out = _cap_buckets(bucketed, cap=100)  # max bucket 3 <= cap: fast path
    assert "_bn" not in out.columns
    got = {(r["table"], r["bucket"], r["_cid"]) for r in out.collect()}
    assert got == {(t, b, c) for t, b, c in rows if (t, b) != (0, 9) and (t, b) != (1, 7)}

    skew = _cap_buckets(bucketed, cap=2)  # bucket (0,7) over cap: skew path
    kept = {(r["table"], r["bucket"], r["_cid"]) for r in skew.drop("_bn").collect()}
    # singletons dropped on this path too; hot bucket down-sampled to <= cap
    assert all((t, b) not in {(0, 9), (1, 7)} for t, b, _ in kept)
    hot = [r for r in kept if (r[0], r[1]) == (0, 7)]
    assert 1 <= len(hot) <= 2


def test_st_first_wins_scratch_dir_reinvocable(spark, tmp_path):
    """ADVICE (medium): with spark.arhivum.scratchDir set, two
    invocations in the same driver process must both succeed (fresh
    mkdtemp root each time — the fixed pid-keyed path crashed at
    makedirs) and the second must NOT accumulate stale rows from the
    first's append-mode sink."""
    import os

    from arhivum_spark.queries import q_st_first_wins
    from tests.conftest import SF_TEST_DIR

    scratch = str(tmp_path / "scratch-root")  # not pre-created
    spark.conf.set("spark.arhivum.scratchDir", scratch)
    try:
        r1 = q_st_first_wins(spark, SF_TEST_DIR).toPandas()
        r2 = q_st_first_wins(spark, SF_TEST_DIR).toPandas()
    finally:
        spark.conf.unset("spark.arhivum.scratchDir")
    assert len(r1) == len(r2)
    assert r1["doc_id"].is_unique and r2["doc_id"].is_unique
    assert set(r1["doc_id"]) == set(r2["doc_id"])
    # staging roots are cleaned up best-effort
    leftovers = os.listdir(scratch) if os.path.isdir(scratch) else []
    assert leftovers == []


def test_stage_store_prune_keeps_resume(spark, tmp_path):
    """VERDICT_r04 task 7: prune() must delete abandoned stage roots
    (no _SUCCESS / dangling manifest entries) and superseded metrics
    generations — and a pruned store must resume exactly like an
    unpruned one (committed snapshots untouched)."""
    import json
    import os

    from arhivum_spark.sources.checkpoints import StageStore

    root = str(tmp_path / "store")
    store = StageStore(spark, root)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    store.write("s1", df)
    store.write("s1", df)  # rerun overwrite -> superseded metrics file
    store.write("s2", df.filter("id < 50"))

    # abandoned root WITH a manifest entry but no _SUCCESS (driver killed
    # between job start and commit)
    os.makedirs(os.path.join(root, "s3", "data"))
    m = store._manifest()
    m["stages"]["s3"] = {"committed_at": "never", "write_seconds": 0}
    store._commit_manifest(m)
    # orphan root with NO manifest entry
    os.makedirs(os.path.join(root, "s4", "data"))

    # default grace window: freshly-touched uncommitted roots are a
    # possibly-live write and must NOT be reaped
    untouched = store.prune(keep_last_metrics=2)  # keep both metric gens
    assert untouched["stages"] == [] and untouched["metrics"] == []
    assert os.path.isdir(os.path.join(root, "s3"))
    assert os.path.isdir(os.path.join(root, "s4"))

    removed = store.prune(keep_last_metrics=1, min_age_seconds=0)
    assert set(removed["stages"]) == {"s3", "s4"}
    assert len(removed["metrics"]) == 1  # the older s1 generation
    assert not os.path.exists(os.path.join(root, "s3"))
    assert not os.path.exists(os.path.join(root, "s4"))
    with open(os.path.join(root, "manifest.json")) as f:
        assert set(json.load(f)["stages"]) == {"s1", "s2"}
    mdir = os.path.join(root, "_metrics")
    per_stage = {}
    for fn in os.listdir(mdir):
        per_stage.setdefault(fn.rsplit("-", 1)[0], []).append(fn)
    assert all(len(v) == 1 for v in per_stage.values())

    # a pruned store still resumes: committed stages read back with no
    # recompute; the abandoned stage recomputes cleanly
    store2 = StageStore(spark, root)
    calls = []

    def poisoned():
        calls.append(1)
        return df

    assert store2.read_or_compute("s1", poisoned).count() == 100
    assert store2.read_or_compute("s2", poisoned).count() == 50
    assert calls == []
    assert store2.read_or_compute("s3", lambda: df.limit(7)).count() == 7
    # prune with everything healthy is a no-op
    assert store2.prune(keep_last_metrics=1)["stages"] == []


def test_images_df_range_slices_match_full(spark):
    """Location-split corpus generation (disk+tmpfs halves for inputs
    larger than any single tier): generating [lo, hi) slices of the SAME
    GenParams must reproduce the full corpus exactly — build_row is
    index-pure, so slicing can never change row content."""
    import pandas as pd

    from arhivum_spark import datagen

    p = datagen.GenParams(n=200, seed=7, img_hw=64)
    full = (
        datagen.images_df(spark, p, partitions=4)
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    a = datagen.images_df(spark, p, partitions=2, lo=0, hi=80).toPandas()
    b = datagen.images_df(spark, p, partitions=2, lo=80, hi=200).toPandas()
    split = (
        pd.concat([a, b]).sort_values("image_id").reset_index(drop=True)
    )
    assert len(a) == 80 and len(b) == 120
    assert split.equals(full)


def test_pinned_reader_batch_contextmanager(spark):
    """Round-5 regression: the reader-batch pin must be usable by ANY
    image-bytes scan (the caption-only harness hit the round-4 OOM by
    calling attach_signatures outside run_pipeline's pin): set inside the
    block, restore-to-prior or restore-to-unset after, None = no-op."""
    from arhivum_spark.plans.image_dedup import pinned_reader_batch

    key = "spark.sql.parquet.columnarReaderBatchSize"
    spark.conf.unset(key)
    with pinned_reader_batch(spark, 128):
        assert spark.conf.get(key) == "128"
    assert spark.conf.get(key, None) is None
    spark.conf.set(key, "999")
    try:
        with pinned_reader_batch(spark, 64):
            assert spark.conf.get(key) == "64"
        assert spark.conf.get(key) == "999"
        with pinned_reader_batch(spark, None):
            assert spark.conf.get(key) == "999"
        assert spark.conf.get(key) == "999"
    finally:
        spark.conf.unset(key)


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
    from arhivum_spark.operators.lsh import (
        salted_candidate_edges,
        verify_edges,
    )

    cand = salted_candidate_edges(_bands_rows(spark, buckets, phash), cfg)
    sig_df = _sig_rows(spark, sigs, phash)
    cand_rows = [(r.src, r.dst) for r in cand.collect()]
    verified = verify_edges(cand, sig_df, cfg).collect()
    return cand_rows, [(r.src, r.dst) for r in verified]


def test_bucket_pairs_recover_foreign_hub_orphans(spark):
    """One foreign collider (id 1) is the bucket minimum: both star edges
    fail verification; the gated member pair (10, 11) recovers the true
    pair."""
    from arhivum_spark.operators.lsh import verify_edges

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


def test_verify_edges_rehub_no_duplicate_edges(spark):
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


def test_verify_edges_retry_pairs_identity_on_clean_and_no_dup_edges(spark):
    """Clean bucket (hub 1 is a true member, the others' phashes far
    apart): verifying the bucket candidates gives exactly what verifying
    plain stars gives. And a pair verified in that bucket and re-derived
    as a gated pair of a foreign-hub bucket appears once."""
    from arhivum_spark.operators.lsh import verify_edges

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
    from arhivum_spark.operators.lsh import candidate_edges_compact

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


def test_prune_does_not_clobber_concurrent_commit(spark, tmp_path):
    """prune() re-reads the manifest immediately before its commit and
    applies only the recorded deletions: a stage committed by a
    concurrent write() AFTER prune's initial manifest snapshot (during
    the slow mtime walks) must survive. Committing the stale snapshot
    would un-commit the stage — the next resume recomputes it and a
    later prune reaps the good data as abandoned. The race is injected
    through is_committed(), which prune calls once per stage root after
    taking its snapshot."""
    import json
    import os

    from arhivum_spark.sources.checkpoints import StageStore

    root = str(tmp_path / "store")
    store = StageStore(spark, root)
    df = spark.range(10)
    store.write("s_live", df)
    # abandoned root (no manifest entry, no _SUCCESS) so prune has a
    # deletion to record — the manifest-commit path must still run
    os.makedirs(os.path.join(root, "s_dead", "data"))

    # injection point: prune's rmtree of the abandoned root — it fires
    # AFTER the manifest snapshot and walks, BEFORE the locked manifest
    # commit (the exact window the re-read protects). (The old hook,
    # per-entry is_committed, is no longer called by prune.)
    from arhivum_spark.sources import checkpoints as cp

    real_rmtree = cp.shutil.rmtree
    state = {"fired": False}

    def racing_rmtree(path, **kw):
        if not state["fired"]:
            state["fired"] = True
            # the concurrent writer: full commit protocol for a NEW stage
            d = os.path.join(root, "s_concurrent", "data")
            os.makedirs(d)
            open(os.path.join(d, "_SUCCESS"), "w").close()
            m = store._manifest()
            m["stages"]["s_concurrent"] = {
                "committed_at": "now", "write_seconds": 0.0,
            }
            store._commit_manifest(m)
        return real_rmtree(path, **kw)

    cp.shutil.rmtree = racing_rmtree
    try:
        removed = store.prune(min_age_seconds=0)
    finally:
        cp.shutil.rmtree = real_rmtree

    assert "s_dead" in removed["stages"]
    with open(os.path.join(root, "manifest.json")) as f:
        stages = set(json.load(f)["stages"])
    assert stages == {"s_live", "s_concurrent"}
    assert store.is_committed("s_concurrent")


def test_prune_survives_root_vanishing_mid_walk(spark, tmp_path):
    """A stage root deleted between prune's listdir and its mtime walk
    (another prune, an external cleanup) must be skipped, not crash the
    pass after some roots were already reaped."""
    import os
    import shutil

    from arhivum_spark.sources.checkpoints import StageStore

    root = str(tmp_path / "store")
    store = StageStore(spark, root)
    store.write("s_live", spark.range(5))
    os.makedirs(os.path.join(root, "s_ghost", "data"))

    # injection point: the first os.stat of the ghost root inside the
    # quiet-window walk — the dir existed at listdir time, vanishes
    # before its mtime check. (The old hook, per-entry is_committed, is
    # no longer called by prune.)
    real_stat = os.stat
    state = {"fired": False}

    def vanishing_stat(path, *a, **kw):
        if not state["fired"] and str(path).endswith("s_ghost"):
            state["fired"] = True
            shutil.rmtree(os.path.join(root, "s_ghost"))
            raise FileNotFoundError(path)
        return real_stat(path, *a, **kw)

    os.stat = vanishing_stat
    try:
        removed = store.prune(min_age_seconds=0)  # must not raise
    finally:
        os.stat = real_stat
    assert "s_ghost" not in removed["stages"]
    assert store.is_committed("s_live")


def test_band_keys_are_64bit_and_slice_determined(spark):
    """Equal 4-value slices in the same band must collide; the key column
    must be a long (64-bit) — 32-bit keys birthday-collide at n^2 rate
    across rows x bands (the measured superlinear split-cluster source)."""
    from arhivum_spark.operators.lsh import band_keys

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


def test_session_disables_parquet_vectored_io(spark):
    """Round-5 regression (scale cliff #4, BENCH.md): parquet 1.16's
    Hadoop vectored IO allocates one on-heap ByteBuffer per COLUMN CHUNK
    (~130 MB for a media bytes column's row group) per task thread,
    bypassing the classic path's 8 MB maxAllocationSize splitting — 32
    threads of humongous G1 allocations + GCLocker OOMed a 4.8M-image
    scan on the 16 GB heap. Engine sessions must pin it off so chunk
    reads stay 8 MB-bounded regardless of input row-group size."""
    assert (
        spark.conf.get("spark.hadoop.parquet.hadoop.vectored.io.enabled")
        == "false"
    )


def test_session_raises_gclocker_retry_bound(spark):
    """Round-5 regression (BENCH.md cliff #4, second mechanism): Java 17
    G1 throws OutOfMemoryError after GCLockerRetryAllocationCount
    (default 2) retries when JNI critical sections (32 concurrent snappy
    decompressors) starve the collector — without attempting a full GC.
    Engine sessions raise the bound on driver AND executor JVMs."""
    for side in ("driver", "executor"):
        opts = spark.conf.get(f"spark.{side}.extraJavaOptions")
        assert "-XX:GCLockerRetryAllocationCount=64" in opts
        assert "-XX:+UnlockDiagnosticVMOptions" in opts


def test_psnr_inflight_batching_matches_single_shot(spark):
    """Round-5 cliff #5 regression: the PSNR stage's in-flight shuffle
    bound (cfg.psnr_max_inflight_edges) splits the edge set into
    hash-batches verified sequentially — output must be identical to the
    unbatched path (same edges, same psnr_db), across batch counts, and
    compose with the shuffle-join side-map fallback."""
    from tests.test_round3_ops import _mini_images_and_edges
    from arhivum_spark.config import DedupConfig
    from arhivum_spark.plans.image_dedup import psnr_verify_edges

    images, edges = _mini_images_and_edges(spark)

    def run(cfg):
        return {
            (r.src, r.dst, round(r.psnr_db, 6))
            for r in psnr_verify_edges(edges, images, cfg).collect()
        }

    base = run(DedupConfig(psnr_max_inflight_edges=None))
    assert len(base) == 8
    # 9 edges -> 2, 3, 5 batches; plus batching with the non-broadcast map
    for cfg in (
        DedupConfig(psnr_max_inflight_edges=5),
        DedupConfig(psnr_max_inflight_edges=3),
        DedupConfig(psnr_max_inflight_edges=2),
        DedupConfig(psnr_max_inflight_edges=4, psnr_broadcast_max_edges=0),
    ):
        assert run(cfg) == base

    # 0 is not a valid bound (None is the documented "disable batching"
    # spelling) — must fail fast, not ZeroDivisionError mid-pipeline
    with pytest.raises(ValueError, match="psnr_max_inflight_edges"):
        psnr_verify_edges(edges, images, DedupConfig(psnr_max_inflight_edges=0))


def test_required_java_opts_survive_caller_extra_conf():
    """extra_conf supplying its own extraJavaOptions must not silently
    drop the GCLocker workaround (BENCH.md cliff #4) — the flags merge,
    caller's last so a deliberate -XX override still wins."""
    from arhivum_spark.session import (
        _REQUIRED_JAVA_OPTS,
        _with_required_java_opts,
    )

    merged = _with_required_java_opts("-Xss8m")
    assert merged.startswith(_REQUIRED_JAVA_OPTS)
    assert merged.endswith("-Xss8m")
    # idempotent when the caller already carries the required flags
    assert _with_required_java_opts(merged) == merged


# ---------------------------------------------------------------------------
# round-5 close: retry completeness, SHJ fallback plan shape, infra-error
# propagation in the PSNR kernel


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


def test_psnr_fallback_join_is_shuffle_hash(spark):
    """The non-broadcast side-map fallback must plan as a shuffled hash
    join — a sort-merge join would SORT the multi-GB byte payloads on
    id, the anti-scaling pattern psnr_verify_edges exists to avoid."""
    from arhivum_spark.plans.image_dedup import _psnr_scored

    images = spark.createDataFrame(
        [("a", bytearray(b"x")), ("b", bytearray(b"y"))],
        "image_id string, bytes binary",
    )
    pairs = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = _psnr_scored(
        pairs, images, DedupConfig(), "image_id", "bytes",
        use_broadcast=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_psnr_kernel_raises_on_codec_infra_error(spark):
    """Undecodable-by-the-in-repo-codec bytes route to decode_external,
    which raises NotImplementedError (the documented external-codec
    swap-in point). That is an infrastructure failure, not a 'not a
    duplicate' verdict: it must fail the stage loudly instead of
    silently scoring every edge PSNR=-1 and committing an empty
    snapshot."""
    import pytest as _pytest

    from arhivum_spark.plans.image_dedup import psnr_verify_edges

    images = spark.createDataFrame(
        [("a", bytearray(b"\x89PNGnotreally")), ("b", bytearray(b"junk"))],
        "image_id string, bytes binary",
    )
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(Exception, match="NotImplementedError"):
        psnr_verify_edges(edges, images, DedupConfig()).collect()


# ---------------------------------------------------------------------------
# dedup_text review fixes


def test_collapse_identical_skips_tokenless_texts(spark):
    """Module contract: a token-less text (null / empty / whitespace-only)
    contains nothing and is contained in nothing. The collapse path must
    not star-link identical token-less texts — and null texts must not
    all fold into one xxhash64(NULL) group."""
    from arhivum_spark.operators.dedup_text import substring_pairs

    cfg = DedupConfig()
    df = spark.createDataFrame(
        [
            ("a", ""), ("b", ""),             # identical empty
            ("c", " \t\n"), ("d", " \t\n"),   # identical whitespace-only
            ("e", None), ("f", None),         # nulls
            ("g", "x y z"), ("h", "x y z"),   # identical REAL text
        ],
        "id string, text string",
    )
    plain = {
        (r.contained_id, r.container_id)
        for r in substring_pairs(df, cfg).collect()
    }
    collapsed = {
        (r.contained_id, r.container_id)
        for r in substring_pairs(df, cfg, collapse_identical=True).collect()
    }
    want = {("g", "h"), ("h", "g")}  # mutual containment, real text only
    assert plain == want
    assert collapsed == want


def test_substring_within_groups_tolerates_null_and_empty(spark):
    from arhivum_spark.operators.dedup_text import (
        substring_pairs_within_groups,
    )

    df = spark.createDataFrame(
        [
            ("g1", "a", "hello world"),
            ("g1", "b", "world"),
            ("g1", "c", None),
            ("g1", "d", ""),
        ],
        "grp string, id string, text string",
    )
    rows = substring_pairs_within_groups(df, "grp").collect()
    got = {(r.contained_id, r.container_id) for r in rows}
    # null/empty neither crash nor appear as vacuous containments
    assert got == {("b", "a")}


def test_simhash_exact_match_blocking_and_config_bounds(spark):
    """simhash_max_hamming=0 is valid exact-match blocking: the width-64
    mask must fold to a signed long literal instead of failing at plan
    build. >= 64 is rejected at config construction."""
    from arhivum_spark.operators.dedup_text import simhash_near_pairs

    cfg = DedupConfig(simhash_max_hamming=0)
    df = spark.createDataFrame(
        [("a", 7), ("b", 7), ("c", 8), ("d", -1)], "id string, simhash long"
    )
    rows = simhash_near_pairs(df, cfg).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in rows} == {("a", "b", 0)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="simhash_max_hamming"):
        DedupConfig(simhash_max_hamming=64)


# ---------------------------------------------------------------------------
# checkpoints / streaming review fixes


def test_manifest_lock_is_exclusive(spark, tmp_path):
    import fcntl

    from arhivum_spark.sources.checkpoints import StageStore

    store = StageStore(spark, str(tmp_path / "store"))
    with store._manifest_lock():
        lockp = store._manifest_path + ".lock"
        assert os.path.exists(lockp)
        with open(lockp, "w") as other:
            import pytest as _pytest

            with _pytest.raises(BlockingIOError):
                fcntl.flock(other, fcntl.LOCK_EX | fcntl.LOCK_NB)
    # released on exit
    with open(store._manifest_path + ".lock", "w") as other:
        fcntl.flock(other, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(other, fcntl.LOCK_UN)


def test_prune_quiet_check_sees_file_mtimes(spark, tmp_path):
    """A live write streaming into already-created part files changes no
    directory entries; the quiet-window check must stat files too, or an
    in-progress stage gets reaped as abandoned."""
    import time as _time

    from arhivum_spark.sources.checkpoints import StageStore

    root = tmp_path / "store"
    store = StageStore(spark, str(root))
    stage = root / "s9_live" / "data" / "_temporary"
    stage.mkdir(parents=True)
    part = stage / "part-00000"
    part.write_bytes(b"streaming...")
    # age every DIRECTORY far past the window; keep the FILE fresh
    old = _time.time() - 10_000
    for d in (
        root, root / "s9_live", root / "s9_live" / "data", stage
    ):
        os.utime(d, (old, old))
    removed = store.prune(min_age_seconds=3600)
    assert removed["stages"] == []  # fresh part file means NOT quiet
    assert part.exists()


def test_prune_metrics_tolerates_concurrent_removal(
    spark, tmp_path, monkeypatch
):
    from arhivum_spark.sources import checkpoints as cp

    store = cp.StageStore(spark, str(tmp_path / "store"))
    mdir = tmp_path / "store" / "_metrics"
    mdir.mkdir(parents=True)
    for ms in (1, 2, 3):
        (mdir / f"s1-{ms}.parquet").write_bytes(b"x")

    real_remove = os.remove

    def racing_remove(path):
        real_remove(path)  # the "other" prune got there first ...
        raise FileNotFoundError(path)  # ... so ours sees ENOENT

    monkeypatch.setattr(cp.os, "remove", racing_remove)
    removed = store.prune(keep_last_metrics=1, min_age_seconds=0)
    # no crash; the files ARE gone (removed by the racing peer), and we
    # honestly claim none as our own
    assert removed["metrics"] == []
    assert sorted(f.name for f in mdir.iterdir()) == ["s1-3.parquet"]


def test_windowed_rates_hash_col_param(spark):
    from arhivum_spark.streaming.ingest import windowed_rates

    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:10", "h1"),
            ("2024-01-01 00:00:20", "h1"),
            ("2024-01-01 00:06:00", "h2"),
        ],
        "event_time string, sha string",
    ).withColumn("event_time", F.col("event_time").cast("timestamp"))
    rows = windowed_rates(df, hash_col="sha").collect()
    got = {str(r.window_start): (r.rows, r.distinct_hashes) for r in rows}
    assert got == {
        "2024-01-01 00:00:00": (2, 1),
        "2024-01-01 00:05:00": (1, 1),
    }


# ---------------------------------------------------------------------------
# embeddings / minhash review fixes


def test_block_shingles_subblock_images_are_content_dependent():
    import numpy as np

    from arhivum_spark.functions.minhash import block_shingles, minhash_batch, permutations

    black = np.zeros((4, 4), dtype=np.float32)
    white = np.full((4, 4), 255.0, dtype=np.float32)
    s_black = block_shingles(black, block=8)
    s_white = block_shingles(white, block=8)
    # two different sub-block images must NOT share a shingle set
    assert set(s_black) != set(s_white)
    a, b = permutations(8, 42)
    sig = minhash_batch([s_black, s_white], a, b)
    assert (sig[0] != sig[1]).any()
    # the marker space is disjoint from tile shingles
    full = block_shingles(np.zeros((16, 16), dtype=np.float32), block=8)
    assert set(s_black).isdisjoint(set(full))
    # zero-pixel image: distinct non-empty sentinel
    empty = block_shingles(np.zeros((0, 0), dtype=np.float32), block=8)
    assert len(empty) == 1 and set(empty).isdisjoint(set(s_black))


def test_config_rejects_odd_block():
    with pytest.raises(ValueError, match="block"):
        DedupConfig(block=7)


def test_rhp_ops_empty_corpus(spark):
    from arhivum_spark.operators.embeddings import (
        rhp_ann_topk,
        rhp_bucket_candidates,
        rhp_neardup_pairs,
        rhp_star_neardup_edges,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    assert rhp_bucket_candidates(empty).count() == 0
    assert rhp_neardup_pairs(empty).count() == 0
    assert rhp_star_neardup_edges(empty).count() == 0
    q = spark.createDataFrame([], "vec_id long")
    assert rhp_ann_topk(empty, q).count() == 0


def test_cosine_topk_duplicate_query_ids(spark):
    from arhivum_spark.operators.embeddings import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([(1,), (1,)], "vec_id long")  # repeated id
    rows = cosine_topk(df, q, k=2).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(rows, key=lambda r: r.rank)]
    # each neighbor exactly once, ranks 1..2 — no duplicated candidates
    assert got == [(2, 1), (3, 2)]


def test_blocked_kernel_rounds_half_up_like_oracle():
    """np.round is half-to-even; Spark/DuckDB round half-up (away from
    zero). The kernel helper must match the oracle rule at exact ties."""
    import numpy as np

    from arhivum_spark.operators.embeddings import _round_half_up6

    x = np.array([0.1015625, -0.1015625, 0.9999995])
    assert list(_round_half_up6(x)) == [0.101563, -0.101563, 1.0]
    # np.round would give 0.101562 (half-even) — the desync this guards
    assert np.round(x[0], 6) != 0.101563


# ---------------------------------------------------------------------------
# zones / detectors / text_analysis / dedup_exact / ordering review fixes


def test_resolve_zones_literal_separator(spark):
    from arhivum_spark.operators.zones import resolve_zones

    df = spark.createDataFrame(
        [(1, "src.src0.zh.doc-1")], "doc_id long, path string"
    )
    zt = spark.createDataFrame(
        [("src.src0", "MEDIA"), ("src.src0.zh", "BACKUP")],
        ["folder_path", "zone"],
    )
    rows = resolve_zones(df, zt, "path", sep=".").collect()
    # an unquoted '.' regex split every char and nothing ever matched
    assert rows[0]["zone"] == "BACKUP" and rows[0]["is_inherited"]


def test_group_dedup_gate_null_hash_rows(spark):
    from arhivum_spark.operators.zones import group_dedup_gate

    df = spark.createDataFrame(
        [
            (1, None, "MEDIA"),    # null hash, eligible zone -> kept
            (2, None, "CODE"),     # null hash, blocking zone -> gated out
            (3, "h1", "MEDIA"),    # clean group -> kept
            (4, "h2", "MEDIA"),    # mixed group (5 blocks) -> gated out
            (5, "h2", "CODE"),
        ],
        "doc_id long, sha string, zone string",
    )
    got = {r.doc_id for r in group_dedup_gate(df, "sha").collect()}
    assert got == {1, 3}


def test_detect_projects_empty_registry(spark):
    from arhivum_spark.operators.detectors import detect_projects

    df = spark.createDataFrame([(1,)], "folder_id long")
    rows = detect_projects(df, []).collect()
    assert rows[0]["project_type"] is None
    assert rows[0]["identifier"] is None
    assert rows[0]["is_code_project"] is False


def test_git_identifier_null_branch_matches_oracle_concat(spark):
    from arhivum_spark.operators.detectors import (
        detect_projects,
        reference_detectors,
    )

    df = spark.createDataFrame(
        [("r1", None, True)], "remote string, branch string, git boolean"
    )
    has = {k: F.lit(False) for k in
           ("pom", "gradle", "package_json", "go_mod", "python", "cargo", "src")}
    has["git"] = F.col("git")
    meta = {k: F.lit(None).cast("string") for k in
            ("group_id", "artifact", "version", "npm_name", "module_path",
             "py_name", "crate", "folder_name")}
    meta["remote"] = F.col("remote")
    meta["branch"] = F.col("branch")
    rows = detect_projects(df, reference_detectors(has, meta)).collect()
    # DuckDB concat ignores NULL -> 'r1@'; F.concat would have nulled it
    assert rows[0]["identifier"] == "r1@"


def test_text_ops_null_text(spark):
    import hashlib

    from arhivum_spark.operators.text_analysis import (
        fingerprint,
        lang_scores,
        quality_features,
        token_counts,
    )

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = lang_scores(df).collect()[0]
    assert r["lang_pred"] == "und" and r["score_en"] == 0
    r = quality_features(df).collect()[0]
    assert r["n_tokens"] == 0 and r["stopword_ratio"] == 0.0
    r = token_counts(df).collect()[0]
    assert r["ws_tokens"] == 0 and r["bpeish_tokens"] == 0
    r = fingerprint(df).collect()[0]
    assert r["fingerprint"] == hashlib.md5(b"").hexdigest()


def test_fingerprint_collapses_all_whitespace_classes(spark):
    from arhivum_spark.operators.text_analysis import fingerprint

    df = spark.createDataFrame(
        [(1, "foo bar"), (2, "foo\nbar"), (3, "\tfoo \t bar ")],
        "doc_id long, text string",
    )
    fps = {r["fingerprint"] for r in fingerprint(df).collect()}
    assert len(fps) == 1  # line-wrapped / tabbed copies collide


def test_best_copy_deterministic_tiebreak(spark):
    from arhivum_spark.operators.dedup_exact import best_copy

    df = spark.createDataFrame(
        [
            ("h", 100, "a/very/long/path", 2),
            ("h", 100, "short", 1),
        ],
        "sha256 string, modified_at long, path string, id long",
    )
    rows = best_copy(df).collect()
    assert len(rows) == 1 and rows[0]["path"] == "short"


def test_global_row_number_rejects_reserved_columns(spark):
    from arhivum_spark.operators.ordering import global_row_number

    df = spark.createDataFrame([(1, 9)], "k long, _rn long")
    with pytest.raises(ValueError, match="_rn"):
        global_row_number(df, "k")


# ---------------------------------------------------------------------------
# codec / scalars / cli / session review fixes


def test_parse_exif_trailer_magic_collision_in_value():
    from arhivum_spark import codec

    blob = b"pixels" + codec.encode_exif_trailer(
        {"camera_model": "EXF0123", "iso": 200}
    )
    out = codec.parse_exif_trailer(blob)
    # rfind lands INSIDE the value; the parser must back up to the real
    # trailer instead of failing (nulling real metadata)
    assert out == {"camera_model": "EXF0123", "iso": 200}


def test_parse_exif_trailer_coincidental_magic_in_payload():
    from arhivum_spark import codec

    # trailer-less blob with a coincidental magic occurrence mid-payload
    blob = b"aaaa" + codec.MAGIC_EXIF + b"\xff\xff\xff\xffgarbagetail"
    assert codec.parse_exif_trailer(blob) is None


def test_codec_header_rejects_non_image_magic():
    import numpy as np

    from arhivum_spark import codec

    audio = codec.encode_audio(np.zeros(100, dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="magic"):
        codec.header(audio)
    with pytest.raises(ValueError, match="magic"):
        codec.header(b"garbage12345")


def test_base_identifier_strips_only_trailing_segment(spark):
    from arhivum_spark.functions.scalars import base_identifier

    df = spark.createDataFrame(
        [
            ("com.example:api:core:1.0",),
            ("com.example:api:client:2.0",),
            ("name:1.0",),
            ("noversion",),
            (":abc",),
            ("::abc",),
        ],
        "ident string",
    )
    got = [
        r["b"] for r in df.select(base_identifier("ident").alias("b")).collect()
    ]
    # 4-segment idents keep their 3rd segment (previously both collapsed
    # to 'com.example:api' — spurious same-base duplicate candidates).
    # A colon at position 0 is not a version separator (the reference's
    # lastColon > 0 guard): ':abc' stays, '::abc' strips at index 1.
    assert got == [
        "com.example:api:core", "com.example:api:client", "name", "noversion",
        ":abc", ":",
    ]


def test_registry_cap_raises_instead_of_asserting():
    """The 50-entry registry cap must survive ``python -O``, which strips
    asserts: it raises RuntimeError."""
    from arhivum_spark.queries import check_registry_cap

    check_registry_cap(dict.fromkeys(range(50)))
    with pytest.raises(RuntimeError, match="51 entries"):
        check_registry_cap(dict.fromkeys(range(51)))


def test_cli_rejects_object_store_stage_dir(spark, tmp_path):
    from arhivum_spark import cli

    with pytest.raises(SystemExit, match="stage-dir"):
        cli.run(
            [
                "--input", str(tmp_path / "in"),
                "--output", str(tmp_path / "out"),
                "--stage-dir", "s3://bucket/stages/run1",
            ],
            spark=spark,
        )


def test_apply_media_runtime_confs(spark):
    from arhivum_spark.session import (
        ARROW_BATCH_FOR_BINARY,
        apply_media_runtime_confs,
    )

    warnings = apply_media_runtime_confs(spark)
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == str(
        ARROW_BATCH_FOR_BINARY
    )
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    assert hc.get("parquet.hadoop.vectored.io.enabled") == "false"
    assert isinstance(warnings, list)  # may be empty under the test session


# ---------------------------------------------------------------------------
# datagen truth / multimodal robustness review fixes


def test_truth_clusters_include_tail_blacks():
    from arhivum_spark import datagen

    p = datagen.GenParams(n=98, img_hw=16)
    # row 97 is in the rounding tail AND a multiple of ALLBLACK_MOD:
    # build_row generates it all-black, so truth must cluster it
    assert datagen.cohort_of(97, p) == "base_tail"
    row = datagen.build_row(97, p)
    import numpy as np

    from arhivum_spark import codec

    px = codec.decode(bytes(row["bytes"]))
    assert (np.asarray(px) == 0).all()
    truth = datagen.truth_clusters(p)
    by_id = dict(zip(truth["image_id"], truth["cluster_id"]))
    assert by_id.get("img-0000000097") == by_id.get("img-0000000000")


def test_extract_exif_nulls_type_mismatched_fields(spark):
    from arhivum_spark import codec
    from arhivum_spark.operators.multimodal import extract_exif

    good = codec.encode_exif_trailer({"iso": 100})
    bad_w = codec.encode_exif_trailer({"width": "x"})      # str into int
    bad_f = codec.encode_exif_trailer({"width": 3.5})      # would truncate
    bad_s = codec.encode_exif_trailer({"camera_make": 5})  # int into str
    df = spark.createDataFrame(
        [
            ("a", bytearray(b"xx" + good)),
            ("b", bytearray(b"xx" + bad_w)),
            ("c", bytearray(b"xx" + bad_f)),
            ("d", bytearray(b"xx" + bad_s)),
        ],
        "image_id string, bytes binary",
    )
    out = {r["image_id"]: r["exif"] for r in extract_exif(df).collect()}
    assert out["a"] is not None and out["a"]["iso"] == 100
    # type mismatches null THIS row — no stage-level ArrowInvalid, no
    # silent 3.5 -> 3 truncation
    assert out["b"] is None and out["c"] is None and out["d"] is None


def test_frame_and_resize_ops_skip_undecodable(spark):
    from arhivum_spark import codec
    from arhivum_spark.operators.multimodal import resize_images, sample_frames

    import numpy as np

    ok = codec.encode_lossless(
        np.zeros((8, 8, 3), dtype=np.uint8)
    )
    df = spark.createDataFrame(
        [("a", bytearray(ok)), ("b", bytearray(b"junkjunkjunk"))],
        "video_id string, bytes binary",
    )
    frames = sample_frames(df, n_frames=2, on_error="skip").collect()
    assert {r["video_id"] for r in frames} == {"a"}
    df2 = df.withColumnRenamed("video_id", "image_id")
    rows = resize_images(df2, 4, on_error="skip").collect()
    assert [r["image_id"] for r in rows] == ["a"]
    # default still fails loudly
    with pytest.raises(Exception):
        sample_frames(df, n_frames=2).collect()
