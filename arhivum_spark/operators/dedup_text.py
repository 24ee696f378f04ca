"""Text near-duplicate operators: SimHash blocking, substring containment,
and MinHash-LSH over token shingles.

The caption-side half of the graft pipeline, plus general document dedup
(the training-data-pipeline operators). All blocking/verification math stays
JVM-side; only MinHash signature computation is Python (Arrow-batched).

TOKENIZATION CONTRACT (one definition, both engines): a token is a maximal
run of non-whitespace bytes, where whitespace is exactly the six ASCII
separators space/tab/LF/VT/FF/CR (0x20, 0x09-0x0D — all single bytes in
UTF-8, so the vectorized byte scan handles them for free). Runs of
separators collapse; there are no empty tokens; a text with no tokens
(empty or whitespace-only) has token sequence [] — it contains nothing, is
contained in nothing, and (n-gram kernels only) hashes to a shared
sentinel gram. This is NARROWER than Python str.split(): \\x1c-\\x1f and
Unicode-only spaces (NBSP, EM SPACE, ...) are NOT separators. Implemented
twice — Catalyst side as split on the regex class [ \\t\\n\\x0b\\f\\r]+
plus empty-filter (substring_pairs), numpy side as the byte-class scan in
_gram_hash_batch / simhash_batch — and property-tested for agreement
(tests/test_property_kernels.py).

Window-hash injectivity note: substring_pairs hashes token windows via
concat_ws("\\x1f", tokens). Since \\x1f is NOT a separator, a token may
itself contain \\x1f, and two DIFFERENT equal-count token lists can then
join to the SAME string (["a\\x1fb","c"] vs ["a","b\\x1fc"]) — colliding in
BOTH hashes, since they collide as strings. This is a documented contract
bound, not a probabilistic hash collision: token-substring containment is
exact only for corpora whose tokens are \\x1f-free (every real text
corpus; \\x1f is an ASCII control char). Callers with adversarial bytes
should pre-strip \\x1f or treat it as whitespace upstream.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arhivum_spark.config import DedupConfig
from arhivum_spark.functions import minhash as mh
from arhivum_spark.functions.tokens import (
    splitmix64_np as _splitmix64,  # shared finalizer (one definition)
    token_hashes_batch,
)


def simhash_near_pairs(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "id",
    simhash_col: str = "simhash",
) -> DataFrame:
    """Near-duplicate edges with Hamming(simhash_a, simhash_b) <=
    cfg.simhash_max_hamming — sufficient for clustering (identical
    signatures are star-linked through a representative, not all-pairs).

    Pigeonhole blocking: split 64 bits into (max_hamming+1) chunks — a pair
    within the Hamming budget must agree on at least one whole chunk, so an
    equi-join on (chunk_index, chunk_value) finds every such pair; bit_count
    of the XOR verifies. One shuffle on chunk keys, JVM-only.

    Skew guard (boilerplate captions — north rule): rows with IDENTICAL
    simhash collapse to one representative before the pair join (hamming-0
    star edges emitted directly), so a million-row boilerplate cohort
    contributes one row to the quadratic stage, not 10^12 pairs.
    """
    from pyspark.sql import Window

    flagged = df.select(F.col(id_col).alias("_id"), F.col(simhash_col).alias("_sh"))
    # the window-derived frame feeds THREE lineage branches (identity
    # edges + both sides of the chunk self-join via reps) — pin it or the
    # full-input partitionBy-window shuffle re-executes per branch
    # (exchange reuse is not guaranteed across AQE stages)
    flagged = flagged.withColumn("_rep", F.first("_id").over(
        Window.partitionBy("_sh").orderBy("_id")
    )).localCheckpoint(eager=False)
    identity_edges = (
        flagged.filter(F.col("_id") != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    reps = flagged.filter(F.col("_id") == F.col("_rep")).select("_id", "_sh")

    n_chunks = cfg.simhash_max_hamming + 1
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("_sh"), c * width).bitwiseAND(F.lit(mask))
            for c in range(n_chunks)
        ]
    )
    keyed = reps.select(
        "_id",
        "_sh",
        F.posexplode(chunks).alias("chunk_idx", "chunk_val"),
    )
    a = keyed.select(
        "chunk_idx", "chunk_val", F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
    )
    b = keyed.select(
        "chunk_idx", "chunk_val", F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
    )
    rep_pairs = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= cfg.simhash_max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return rep_pairs.unionByName(identity_edges)


def substring_pairs(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "id",
    text_col: str = "text",
    collapse_identical: bool = False,
) -> DataFrame:
    """Exact token-substring containment: (contained_id, container_id) where
    contained's full token sequence appears contiguously inside container's.

    ``collapse_identical=True`` is the boilerplate skew guard (north rule),
    the substring twin of simhash_near_pairs' identical-signature star
    reduction: rows with IDENTICAL text collapse to one representative
    (min id per dual-hash text group) before the window machinery, and the
    result is rep-level containment edges plus bidirectional identity star
    edges (identical text is mutual containment). A million-row
    boilerplate-caption cohort then contributes ONE row to the quadratic
    matching stage — not 10^12 output pairs through a single hot join
    key. The returned edge set is a COVERING set, not the full pair
    enumeration: (a contained-in b) for non-representatives is recovered
    by substituting through the identity edges (containment is invariant
    under identical-text substitution; test-gated expansion equivalence).
    Default False keeps exact full-pair semantics — the registry query's
    DuckDB oracle enumerates all pairs.

    Distributed generalized-suffix matching: one power-of-two prefix-
    anchor pass plus a full-span check. For candidate length L the anchor
    length is m(L) = 2^floor(log2 L) <= L; containers emit m-token window
    hashes only at the <= log2(substring_max_tokens)+1 anchor lengths
    present among candidates (_anchor_windows: O(n_tok x log
    substring_max_tokens) per container, however many distinct lengths
    exist). One equi-join on (m, window xxhash64 = prefix xxhash64) finds
    every start s where container[s : s+m] may equal the candidate's
    prefix; each hit then verifies the WHOLE span: xxhash64 + md5 of
    slice(container tokens, s, L) must equal the same two hashes of the
    candidate's token list (computed once per candidate), so a 64-bit
    prefix collision costs one extra hit, never a false pair. Hit rows
    are fixed-width (ids, ints, hashes) and meet the container tokens in
    one join on container_id. Residual: a prefix shared by many
    candidates and many containers (a hot boilerplate opening) yields
    |candidates| x |containers| hits before the span check drops the
    non-matches. m(L) is computed by ONE expression on the candidate
    frame, which feeds both the anchor broadcast and the join key, so
    floating-point wobble in floor(log2 L) is self-consistent (any m in
    [1, L] is valid).

    The within-bucket exhaustive variant (true suffix array) is
    substring_pairs_within_groups below.
    """
    if collapse_identical:
        from pyspark.sql import Window

        keyed = df.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_tx")
        ).filter(
            # Token-less texts (null / empty / whitespace-only) contain
            # nothing and are contained in nothing (module contract) —
            # they must NOT form identity-star edges here. Null handling
            # is implicit: F.split(NULL) is NULL and F.size(NULL) = -1.
            # (Without this, xxhash64(NULL) folds every null-text row
            # into ONE seed-constant group and a caption-less corpus
            # gets linked pairwise.)
            F.size(
                F.filter(
                    F.split(F.col("_tx"), "[ \t\n\x0b\f\r]+"),
                    lambda t: t != F.lit(""),
                )
            )
            >= 1
        ).withColumn(
            # dual-hash group key: never sort/shuffle on the raw text twice
            "_rep",
            F.first("_id").over(
                Window.partitionBy(
                    F.xxhash64("_tx"), F.md5("_tx")
                ).orderBy("_id")
            ),
        )
        # keyed feeds the identity edges and the rep matching's three
        # token reads — pin it or the Window's text exchange re-executes
        # per branch (as simhash_near_pairs pins `flagged`)
        keyed = keyed.localCheckpoint(eager=False)
        members = keyed.filter(F.col("_id") != F.col("_rep"))
        identity = members.select(
            F.col("_id").alias("contained_id"),
            F.col("_rep").alias("container_id"),
        ).unionByName(
            members.select(
                F.col("_rep").alias("contained_id"),
                F.col("_id").alias("container_id"),
            )
        )
        reps = keyed.filter(F.col("_id") == F.col("_rep")).select(
            F.col("_id").alias(id_col), F.col("_tx").alias(text_col)
        )
        return substring_pairs(
            reps, cfg, id_col=id_col, text_col=text_col
        ).unionByName(identity)

    # TOKENIZATION (module contract): ASCII-whitespace split, runs
    # collapse, no empty tokens — identical to the Arrow batch kernels
    # (_gram_hash_batch / simhash_batch). A token-less text (empty or
    # whitespace-only) contains nothing and is contained in nothing.
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.filter(
            F.split(F.col(text_col), "[ \t\n\x0b\f\r]+"),
            lambda t: t != F.lit(""),
        ).alias("toks"),
    ).withColumn("n_tok", F.size("toks"))

    m_expr = F.pow(F.lit(2.0), F.floor(F.log2("n_tok"))).cast("int")
    prefix = F.concat_ws("\x1f", F.slice("toks", F.lit(1), F.col("m")))
    full = F.concat_ws("\x1f", "toks")
    cand = toks.filter(
        (F.col("n_tok") >= 1) & (F.col("n_tok") <= cfg.substring_max_tokens)
    ).withColumn("m", m_expr).select(
        F.col("_id").alias("contained_id"),
        F.col("n_tok").alias("len"),
        "m",
        F.xxhash64(prefix).alias("pwh"),
        F.xxhash64(full).alias("fwh"),
        F.md5(full).alias("fwh2"),
    )
    # Anchor lengths stay a (tiny, <= log2(substring_max_tokens)+1 row)
    # FRAME broadcast-joined against the corpus — no driver collect, no
    # extra Spark job, and window emission covers exactly the anchor
    # lengths that can match.
    anchors_df = cand.select("m").distinct()
    windows = _anchor_windows(toks, anchors_df)
    hits = (
        windows.join(
            cand, (windows["m"] == cand["m"]) & (windows["wh"] == cand["pwh"])
        )
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("container_id", "contained_id", "_s", "len", "fwh", "fwh2")
    )
    span = F.concat_ws("\x1f", F.slice("toks", F.col("_s"), F.col("len")))
    return (
        hits.join(
            toks.select(F.col("_id").alias("container_id"), "toks"),
            "container_id",
        )
        .filter(
            (F.xxhash64(span) == F.col("fwh")) & (F.md5(span) == F.col("fwh2"))
        )
        .select("contained_id", "container_id")
        .distinct()
    )


def _anchor_windows(toks: DataFrame, anchors_df: DataFrame) -> DataFrame:
    """(container_id, m, _s, wh): xxhash64 of every contiguous m-token
    window of every text, for each anchor length m in `anchors_df`
    (broadcast — at most log2(substring_max_tokens)+1 rows). Emission is
    therefore O(n_tok * |anchors|) per container. No md5, no tokens: the
    prefix join's hits are checked on their full span afterwards. Split
    out so the planted-long-document test can assert the bound directly."""
    win_slice = F.slice("toks", F.col("_s"), F.col("m"))
    return (
        toks.join(F.broadcast(anchors_df), F.col("m") <= F.col("n_tok"))
        .select(
            F.col("_id").alias("container_id"),
            "m",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tok") - F.col("m") + 1)
            ).alias("_s"),
        )
        .select(
            "container_id",
            "m",
            "_s",
            F.xxhash64(F.concat_ws("\x1f", win_slice)).alias("wh"),
        )
    )


def substring_pairs_within_groups(
    df: DataFrame, group_col: str, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Char-level substring containment inside bounded groups, via a real
    generalized suffix array per group (functions/suffix_array.py) driven by
    applyInPandas — the per-bucket imperative core for corpora the window
    join can't cover (unbounded contained length)."""
    from arhivum_spark.functions.suffix_array import find_contained

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # null/empty texts do not participate: an empty byte sequence is
        # vacuously "contained" everywhere, which is never the wanted
        # semantics (mirrors the module contract's token-less rule), and
        # None.encode() would fail the whole task
        rows = [
            (rid, t) for rid, t in zip(pdf[id_col], pdf[text_col])
            if t is not None and len(t) > 0
        ]
        ids = [rid for rid, _ in rows]
        docs = [
            np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int64)
            for _, t in rows
        ]
        pairs = find_contained(docs)
        return pd.DataFrame(
            {
                "contained_id": [ids[i] for i, _ in pairs],
                "container_id": [ids[j] for _, j in pairs],
            }
        )

    out_schema = f"contained_id {dict(df.dtypes)[id_col]}, container_id {dict(df.dtypes)[id_col]}"
    return df.groupBy(group_col).applyInPandas(per_group, schema=out_schema)


# ---------------------------------------------------------------------------
# Document MinHash over token n-gram shingles


_GRAM_P = np.uint64(0x9E3779B97F4A7C15)
_EMPTY_SENTINEL = np.int64(1)


def _gram_hash_batch(texts: list[str], ngram: int) -> list[np.ndarray]:
    """Deduplicated 64-bit token-n-gram hash sets for a whole Arrow batch
    in ONE numpy pass (replaces per-gram hashlib calls — the round-1
    Python-per-gram kernel was ~10x the cost of everything else in
    docs_minhash_lsh_pairs).

    Pipeline over the concatenated byte buffer of all texts:
    token hash = splitmix64(polynomial-in-bytes mod 2^64), segment-summed
    with add.reduceat; gram hash = splitmix64(polynomial over the n token
    hashes); per-doc dedup via lexsort. Docs shorter than `ngram` tokens
    contribute one whole-sequence gram; empty docs a sentinel (matching the
    previous semantics where "" hashed to a constant).
    """
    n_docs = len(texts)
    if n_docs == 0:
        return []
    # tokenization + token hashing: the ONE shared byte-scan kernel
    # (functions/tokens.py — ASCII-whitespace contract, NUL-safe
    # length-derived doc boundaries)
    tok_hash, doc_of_tok, n_tok_per_doc = token_hashes_batch(texts)
    if len(tok_hash) == 0:
        return [np.array([_EMPTY_SENTINEL]) for _ in range(n_docs)]

    # --- gram hashes: polynomial over n consecutive token hashes ---
    grams_parts: list[np.ndarray] = []
    gram_doc_parts: list[np.ndarray] = []
    T = len(tok_hash)
    if T >= ngram:
        L = T - ngram + 1
        acc = np.zeros(L, dtype=np.uint64)
        for j in range(ngram):
            acc = acc * _GRAM_P + tok_hash[j : j + L]
        same_doc = doc_of_tok[:L] == doc_of_tok[ngram - 1 :]
        grams_parts.append(_splitmix64(acc[same_doc]))
        gram_doc_parts.append(doc_of_tok[:L][same_doc])
    # whole-sequence gram for docs with 1..ngram-1 tokens
    short_docs = np.flatnonzero((n_tok_per_doc > 0) & (n_tok_per_doc < ngram))
    if len(short_docs):
        tok_doc_offsets = np.concatenate(
            ([0], np.cumsum(n_tok_per_doc)[:-1])
        )
        short_hashes = np.empty(len(short_docs), dtype=np.uint64)
        with np.errstate(over="ignore"):  # wraparound mod 2^64 is the point
            for k, d in enumerate(short_docs):
                h = np.uint64(0)
                o = tok_doc_offsets[d]
                for j in range(n_tok_per_doc[d]):
                    h = h * _GRAM_P + tok_hash[o + j]
                short_hashes[k] = h
        grams_parts.append(_splitmix64(short_hashes))
        gram_doc_parts.append(short_docs.astype(np.int64))

    gram = np.concatenate(grams_parts) if grams_parts else np.empty(0, np.uint64)
    gdoc = np.concatenate(gram_doc_parts) if gram_doc_parts else np.empty(0, np.int64)

    # --- per-doc dedup + split ---
    order = np.lexsort((gram, gdoc))
    gram, gdoc = gram[order], gdoc[order]
    keep = np.empty(len(gram), dtype=bool)
    if len(gram):
        keep[0] = True
        keep[1:] = (gram[1:] != gram[:-1]) | (gdoc[1:] != gdoc[:-1])
    gram, gdoc = gram[keep].view(np.int64), gdoc[keep]
    counts = np.bincount(gdoc, minlength=n_docs)
    splits = np.split(gram, np.cumsum(counts)[:-1])
    return [
        s if len(s) else np.array([_EMPTY_SENTINEL]) for s in splits
    ]


def doc_minhash(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """(id, minhash array<int>) over token n-gram shingles — Arrow-batched,
    with batch-vectorized gram hashing (_gram_hash_batch)."""
    a, b = mh.permutations(cfg.num_perm, cfg.minhash_seed)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sets = _gram_hash_batch(
                ["" if t is None else t for t in pdf[text_col]], ngram
            )
            sigs = mh.minhash_batch(sets, a, b)
            yield pd.DataFrame({"id": pdf[id_col].values, "minhash": list(sigs)})

    return df.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        extract, schema=f"id {dict(df.dtypes)[id_col]}, minhash array<int>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """MinHash+LSH near-dup document pairs with signature-agreement scores."""
    from arhivum_spark.operators.lsh import (
        band_keys,
        salted_candidate_edges,
        verify_edges,
    )

    # one materialization of the signature UDF — it feeds the band explode
    # AND both sides of the verification join (3 consumers; without the
    # checkpoint the Arrow kernel runs three times)
    sigs = (
        doc_minhash(df, cfg, id_col, text_col, ngram)
        .withColumn("phash", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    # phash is constant, so the bucket-local pair gate passes every pair:
    # plain bucket-local all-pairs LSH up to cfg.bucket_allpairs_max
    sigs = sigs.select(F.col("id").alias("image_id"), "minhash", "phash")
    cand = salted_candidate_edges(band_keys(sigs, cfg), cfg)
    verified = verify_edges(cand, sigs, cfg)
    return verified.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "est_jaccard"
    )
