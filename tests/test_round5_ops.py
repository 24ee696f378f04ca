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
3. _cap_buckets (ADVICE): singleton buckets are dropped whether or not
   any bucket is over the cap.
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


def test_cap_buckets_drops_singletons(spark):
    """ADVICE fix: the cap valve drops singleton buckets with or without a
    bucket over the cap, leaks no _bn column, and down-samples only the
    over-cap bucket."""
    from arhivum_spark.operators.embeddings import _cap_buckets

    rows = (
        [(0, 7, i) for i in range(3)]     # bucket of 3
        + [(0, 8, 10), (0, 8, 11)]        # bucket of 2
        + [(0, 9, 20), (1, 7, 21)]        # two singletons
    )
    bucketed = spark.createDataFrame(
        rows, schema="table int, bucket int, _cid long"
    )
    out = _cap_buckets(bucketed, cap=100)  # max bucket 3 <= cap
    assert out.columns == ["table", "bucket", "_cid"]
    got = {(r["table"], r["bucket"], r["_cid"]) for r in out.collect()}
    assert got == {(t, b, c) for t, b, c in rows if (t, b) != (0, 9) and (t, b) != (1, 7)}

    skew = _cap_buckets(bucketed, cap=2)  # bucket (0,7) over cap
    assert skew.columns == ["table", "bucket", "_cid"]
    kept = {(r["table"], r["bucket"], r["_cid"]) for r in skew.collect()}
    # singletons dropped here too; only the hot bucket is down-sampled
    assert all((t, b) not in {(0, 9), (1, 7)} for t, b, _ in kept)
    hot = [r for r in kept if (r[0], r[1]) == (0, 7)]
    assert 1 <= len(hot) <= 2
    assert {r for r in kept if (r[0], r[1]) == (0, 8)} == {(0, 8, 10), (0, 8, 11)}


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
    block, restore-to-prior or restore-to-unset after."""
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
    finally:
        spark.conf.unset(key)


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


# ---------------------------------------------------------------------------
# streaming and other review fixes


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
