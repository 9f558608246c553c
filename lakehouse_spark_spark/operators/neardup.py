"""Near-duplicate detection: n-gram Jaccard, MinHash+LSH, SimHash.

The training-data dedup suite (BASELINE.json north_star). Design:

- ``ngram_jaccard_pairs``: EXACT Jaccard on word n-gram shingle sets,
  computed via an inverted-index self-join on shingles (never a cross
  join): pairs that share no shingle never materialize. The shuffle key
  is the shingle; hot shingles are the skew risk, so extremely frequent
  shingles (> ``max_df`` docs) are dropped — standard practice, they
  carry almost no Jaccard signal. Scales as sum over shingles of df².
- ``minhash_*``: the approximate scale path. Signatures are k
  xxhash64 min-hashes per doc (one narrow pass), LSH banding turns
  near-dup search into an equi-join on (band_id, band_hash) — at 100 TB
  this is the only shape that works: candidate generation is a hash
  shuffle whose key cardinality you control via band width.
- ``simhash``: 64-bit fingerprint whose Hamming distance approximates
  cosine similarity of token multisets; near-dup candidates via the
  pigeonhole block trick (distance ≤ d ⟹ some block of d+1 matches
  exactly), again an equi-join, never a cross join.

All pure DataFrame ops — no UDFs anywhere.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from lakehouse_spark_spark.operators.text import norm_text
from lakehouse_spark_spark.sources.sinks import (
    gc_versioned_dirs,
    resolve_versioned_dir,
    write_manifest_atomic,
)


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, hashed: bool = False
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).
    Documents with fewer than n tokens yield no shingles.

    ``hashed=True`` emits each shingle as its ``xxhash64`` computed
    directly on the token-array SLICE inside the per-position transform
    — the ' '-joined n-word string is never materialized, the per-doc
    ``array_distinct`` dedups longs instead of strings, and the explode
    emits 8 bytes per shingle. Slice equality ≡ joined-string equality
    (tokens are whitespace-split), so equality-based consumers
    (Jaccard/containment/contamination counts) are exact up to the same
    64-bit collision bound their post-hoc hashing already carried.
    Consumers that hash the shingle STRING again with per-seed salts
    (MinHash) keep the default string form."""
    toks = F.split(norm_text(text_col), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    mk = (
        (lambda i: F.xxhash64(F.slice(toks, i + 1, n)))
        if hashed
        else (lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )
    shingles = F.transform(idx, mk)
    return (
        df.filter(F.size(toks) >= n)
        .select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    hash_shingles: bool = True,
    allow_bruteforce: bool = False,
    max_rows_uncapped: int = 1_000_000,
) -> DataFrame:
    """Exact Jaccard over word-n-gram shingle sets for every pair
    sharing ≥1 shingle; keep pairs with round(jaccard,6) >= threshold.

    The UNCAPPED form (``max_df=None``) is a VERIFICATION-ONLY exact
    baseline: a single hot shingle of document frequency df costs df²
    join rows, so on a real corpus the df cap (or the MinHash path) is
    the production shape. Uncapped runs fail fast above
    ``max_rows_uncapped`` input documents unless
    ``allow_bruteforce=True``.

    (Thresholding on the ROUNDED value keeps the predicate decision
    identical across engines despite last-ulp float noise.)

    The (id, shingle) relation feeds four plan branches (df cap, sizes,
    both self-join sides); it is lazily localCheckpointed so
    normalization+shingling runs once instead of per branch — the
    in-plan stand-in for persisting the shingle table between pipeline
    stages at scale.

    ``hash_shingles`` (default) hashes each shingle at MATERIALIZATION
    (xxhash64 over the token slice, inside word_shingles' transform —
    the n-word string never exists): the inverted-index self-join —
    the widest exchange of the operator — carries (long, long)
    rows instead of (long, ~n·8-byte string), measured 2.5x faster at
    sf0.1 with bit-identical output. Jaccard only needs shingle
    EQUALITY, so hashing is semantics-preserving up to 64-bit
    collisions (P ≈ d²/2⁶⁴ over d distinct shingles — at 10¹² shingles
    that's ~5%, at 10⁹ negligible; set False for exact strings).
    """
    if max_df is None:
        from lakehouse_spark_spark.operators.guards import guard_bruteforce

        guard_bruteforce(df, max_rows_uncapped, "ngram_jaccard_pairs (uncapped)", allow_bruteforce)
    sh = word_shingles(df, id_col, text_col, n, hashed=hash_shingles)
    sh = sh.localCheckpoint(eager=False)
    if max_df is not None:
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > max_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    # sizes is O(n_docs) — no broadcast hint; AQE broadcasts it when it
    # actually fits, a forced hint would cap the corpus at driver memory.
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared").cast("double") / (F.col("size_a") + F.col("size_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "size_a", "size_b", "jaccard")
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 64) -> DataFrame:
    """k-permutation MinHash signature per document as array<long>:
    min over shingles of xxhash64(shingle, seed_i).

    One narrow pass: k inline xxhash64 calls fused into the partial
    hash-aggregate by whole-stage codegen — measured faster than the
    hash-a-distinct-shingle-dictionary-then-join alternative (the join
    breaks codegen into extra stages and loses)."""
    sh = word_shingles(df, id_col, text_col, n)
    mins = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"))


def band_rows(signatures: DataFrame, id_col: str, bands: int = 16, num_hashes: int = 64) -> DataFrame:
    """(id, band, band_hash) rows — each signature split into ``bands``
    bands, each band hashed to one long. The LSH candidate-generation
    key, shared verbatim by the one-shot self-join
    (:func:`minhash_lsh_candidates`) and the persisted band index
    (:func:`write_neardup_index`), so index-based candidates are
    byte-identical to in-plan ones."""
    rows_per_band = max(1, num_hashes // bands)
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.concat_ws(",", *[F.element_at("signature", b * rows_per_band + r + 1) for r in range(rows_per_band)]))
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame, id_col: str, bands: int = 16, num_hashes: int = 64
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands, hash each
    band, equi-join on (band, band_hash) → candidate pairs with their
    estimated Jaccard (fraction of agreeing minhashes).

    Shuffle discipline (the 100 TB part): the band join and the
    pair-dedup carry ONLY (id, band, band_hash) — 24 bytes/row — never
    the ~0.5 KB signature arrays; signatures are re-attached to the
    deduped pairs afterwards. The signature table is lazily
    localCheckpointed so the three plan references (band explode + two
    re-attach joins) compute the expensive shingle→minhash pass exactly
    once — the single-query stand-in for what a production pipeline
    does by persisting the signature table between stages
    (:func:`write_neardup_index`)."""
    signatures = signatures.localCheckpoint(eager=False)
    banded = band_rows(signatures, id_col, bands, num_hashes)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    pairs = a.join(b, ["band", "band_hash"]).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    sig_a = signatures.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sig_b = signatures.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    withsigs = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")), lambda v: v == 1))
    return withsigs.select(
        "id_a", "id_b", F.round(agree.cast("double") / F.size("sig_a"), 6).alias("est_jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): :func:`simhash_column` of every row's text."""
    return df.select(F.col(id_col), simhash_column(text_col).alias("simhash"))


def simhash_column(text_col: str) -> Column:
    """64-bit SimHash over whitespace tokens: per bit position, sum +1/-1
    votes weighted by token occurrence, sign → bit (tie = 0).

    Computed entirely IN-ROW with array expressions: SimHash is a
    per-document function, so there is nothing to shuffle — token
    array → xxhash64 per element → ONE F.aggregate pass accumulating a
    63-long vote vector (zip_with against a precomputed power-of-two
    array; bitwiseAND bit test, since shiftright needs a literal),
    then a second tiny aggregate folds sign bits into the long. Runs
    at scan speed with no exchange, and the single-aggregate
    expression tree compiles ~40% faster cold and runs ~30% faster
    warm than 63 separate filter+size trees (and far faster than the
    original explode + 64-column groupBy — identical fingerprints for
    all three). Bit 63 is kept zero so the fingerprint stays a
    positive long."""
    toks = F.split(norm_text(text_col), " ")
    hs = F.transform(toks, lambda x: F.xxhash64(x))
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(63)])
    zeros = F.array(*[F.lit(0) for _ in range(63)])
    votes = F.aggregate(
        hs,
        zeros,
        lambda acc, h: F.zip_with(acc, pow2, lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1)),
    )
    return F.aggregate(
        F.zip_with(votes, pow2, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


# Hot-set broadcast ceiling: the hot-bucket guard's anti-join side is
# bounded by n_fp * keys_per_fp / max_bucket rows — tiny at gated scale,
# but at 10^9 fingerprints it can reach tens of millions of (block,
# value) keys, past driver broadcast comfort. The persisted-index probes
# know n_fp from parquet footer rows, so their hint is SIZE-AWARE:
# broadcast below this many bound keys, unhinted above it (AQE picks the
# strategy from the real aggregated size at runtime). 4M keys x ~24
# B/row ≈ 100 MB.
HOT_BROADCAST_CAP_KEYS = 4_000_000


def _hot_hint(hot: DataFrame, n_fp: int | None, keys_per_fp: int, max_bucket: int):
    bound = None if n_fp is None else (n_fp * keys_per_fp) // max(1, max_bucket)
    return F.broadcast(hot) if bound is None or bound <= HOT_BROADCAST_CAP_KEYS else hot


def fingerprint_block_rows(
    df: DataFrame, id_col: str, fp_col: str, blocks: int, keep_fp: bool = False
) -> DataFrame:
    """(id, block, block_val) pigeonhole-block rows of a 64-bit Hamming
    fingerprint — the candidate-generation key of the single-block
    join, shared verbatim by :func:`simhash_candidates` and the
    persisted media-fingerprint index
    (operators/mediaindex.write_media_fp_index), so index-based
    candidates are byte-identical to in-plan ones (the band_rows
    contract, transposed to Hamming fingerprints)."""
    width = 64 // blocks
    mask = (1 << width) - 1
    bl = [F.shiftright(fp_col, width * i).bitwiseAND(F.lit(mask)) for i in range(blocks)]
    cols = [F.col(id_col)] + ([F.col(fp_col)] if keep_fp else [])
    return df.select(*cols, F.posexplode(F.array(*bl)).alias("block", "block_val"))


def simhash_candidates(
    sim: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates by the pigeonhole principle: split the 64-bit
    fingerprint into ``blocks`` equal-width blocks; any pair with
    Hamming distance < ``blocks`` must agree exactly on ≥1 block →
    equi-join per block, then exact Hamming filter via bit_count(xor).

    RECALL GUARANTEE: complete only for max_hamming <= blocks - 1;
    pairs at wider distances surface only if they happen to share a
    block. Size ``blocks = max_hamming + 1`` for full recall. The
    fingerprint table is lazily localCheckpointed so the vote
    aggregation inside ``simhash`` (or a media decode pass) runs once,
    not once per self-join side. The plan launches no action of its
    own: the join's shape does not depend on the corpus size.

    The single-block join's bucket-value space is only 2^width (256 at
    blocks=8), so its output grows ~n²·blocks/2^width — fine at the
    10^5-10^6 fingerprints an in-plan join sees. A corpus past that
    lives in the persisted media-fingerprint index, whose
    ``pair_blocks=True`` geometry squares the value space
    (operators/mediaindex.write_media_fp_index).

    ``max_bucket`` is the hot-bucket guard the MinHash family's
    ``max_df`` is for shingles: real media corpora are pathologically
    skewed (solid-color/black frames, silence, letterbox bars hash
    IDENTICALLY by the million), one (block, value) bucket holds the
    whole cluster, and the unguarded join materializes its SQUARE.
    With a cap, buckets holding more than ``max_bucket`` distinct docs
    are skipped (one groupBy over the exploded block table the join
    scans anyway — O(n·blocks)). The standard LSH trade applies — a
    true near-dup pair agreeing ONLY in hot buckets goes unseen — but
    EXACT duplicates are exempt: an equal-fingerprint rescue join
    pairs every member of an identical-fingerprint cluster with the
    cluster minimum (O(cluster) star rows, never the square), so the
    flat-frame cluster the cap suppresses still dedups. Candidate
    output is bounded by n·blocks·max_bucket + rescue rows."""
    sim = sim.localCheckpoint(eager=False)
    exploded = fingerprint_block_rows(sim, id_col, "simhash", blocks, keep_fp=True)
    join_on = ["block", "block_val"]
    if max_bucket is not None:
        # hot-bucket guard: count DISTINCT docs per join key (a doc can
        # contribute one row per key by construction, but distinct is
        # the future-proof contract the minhash probe cap settled on),
        # drop buckets above the cap from BOTH join sides at once. The
        # hot set is bounded by n·blocks/max_bucket rows, tiny at the
        # scale an in-plan join runs, so it is broadcast.
        hot = (
            exploded.groupBy(*join_on)
            .agg(F.count_distinct(id_col).alias("__df"))
            .filter(F.col("__df") > max_bucket)
            .select(*join_on)
        )
        exploded = exploded.join(F.broadcast(hot), join_on, "left_anti")
    a = exploded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), *join_on)
    b = exploded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), *join_on)
    pairs = a.join(b, join_on).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "sim_a", "sim_b")
    if max_bucket is not None:
        # equal-fingerprint rescue: the cap must never hide an EXACT
        # duplicate (a solid-color frame cluster is ALL exact dups and
        # ALL hot buckets). Pair every member of an identical-
        # fingerprint cluster with the cluster MINIMUM — a star, O(k)
        # rows where the uncapped join would emit k(k-1)/2 — enough
        # for any keep-the-min / connected-components consumer to drop
        # the whole cluster. Distance is 0 by construction, so the
        # Hamming filter below always keeps these.
        clusters = (
            sim.groupBy("simhash")
            .agg(F.min(id_col).alias("__min_id"), F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .select("simhash", "__min_id")
        )
        rescue = (
            sim.join(clusters, "simhash")
            .filter(F.col(id_col) != F.col("__min_id"))
            .select(
                F.col("__min_id").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("simhash").alias("sim_a"),
                F.col("simhash").alias("sim_b"),
            )
        )
        pairs = pairs.union(rescue)
    pairs = pairs.distinct()
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def verify_pairs_jaccard(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs
    (id_a, id_b) — the verification stage after LSH candidate
    generation. Cost is O(|pairs|), never the inverted-index self-join:
    shingle SETS are attached to each side of the pair and intersected
    per row with array functions."""
    shingle_sets = (
        word_shingles(df, id_col, text_col, n)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("__set"))
        .localCheckpoint(eager=False)  # one shingling pass, two join sides
    )
    a = shingle_sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__set_a"))
    b = shingle_sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__set_b"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__set_a", "__set_b"))
    union = F.size("__set_a") + F.size("__set_b") - inter
    return (
        joined.withColumn("jaccard", F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle-set containment |A∩B|/|A| (and /|B|)
    for pairs sharing ≥1 shingle, kept when EITHER direction's rounded
    containment ≥ threshold. Catches doc-quotes-doc / subset relations
    that symmetric Jaccard dilutes (a 20-token quote inside a 2000-token
    page has Jaccard ~0.01 but containment ~1.0 in the quote's
    direction). Same inverted-index join shape (and df-cap treatment)
    as ``ngram_jaccard_pairs``."""
    sh = word_shingles(df, id_col, text_col, n, hashed=hash_shingles)
    sh = sh.localCheckpoint(eager=False)
    if max_df is not None:
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > max_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b")), "doc_b")
        .withColumn("cont_a_in_b", F.round(F.col("shared").cast("double") / F.col("size_a"), 6))
        .withColumn("cont_b_in_a", F.round(F.col("shared").cast("double") / F.col("size_b"), 6))
    )
    return out.filter(
        (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
    ).select("doc_a", "doc_b", "shared", "size_a", "size_b", "cont_a_in_b", "cont_b_in_a")


def cross_batch_jaccard(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    hash_shingles: bool = True,
) -> DataFrame:
    """Incremental near-dup: exact Jaccard of every NEW-batch document
    against the EXISTING corpus — the arrival-time form of the pair
    join (only (new, old) pairs materialize; the corpus never
    self-joins). At production scale the corpus side's (id, shingle)
    relation is a persisted index updated per batch, exactly like the
    exact-hash incremental dedup (operators/dedup.incremental_dedup).

    Output: (new_id, corpus_id, shared, size_new, size_corpus, jaccard).
    """
    shn = word_shingles(new_df, id_col, text_col, n, hashed=hash_shingles)
    shc = word_shingles(corpus_df, id_col, text_col, n, hashed=hash_shingles)
    shn = shn.localCheckpoint(eager=False)
    shc = shc.localCheckpoint(eager=False)
    sizes_n = shn.groupBy(id_col).agg(F.count(F.lit(1)).alias("size_new"))
    sizes_c = shc.groupBy(id_col).agg(F.count(F.lit(1)).alias("size_corpus"))
    a = shn.select(F.col(id_col).alias("new_id"), "shingle")
    b = shc.select(F.col(id_col).alias("corpus_id"), "shingle")
    shared = a.join(b, "shingle").groupBy("new_id", "corpus_id").agg(F.count(F.lit(1)).alias("shared"))
    return (
        shared.join(sizes_n.select(F.col(id_col).alias("new_id"), "size_new"), "new_id")
        .join(sizes_c.select(F.col(id_col).alias("corpus_id"), "size_corpus"), "corpus_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("size_new") + F.col("size_corpus") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "shared", "size_new", "size_corpus", "jaccard")
    )


# --- Persisted near-dup index: incremental MinHash-LSH ingest ---------
#
# The r9 Bloom template (operators/bloom.py) replayed for the near-dup
# family (r9 verdict task 2): corpus signatures and their banded LSH
# keys are computed ONCE at index build and persisted; every subsequent
# batch finds its near-dup candidates against the accumulated corpus by
# (a) signing ONLY the batch, (b) equi-joining the batch's band rows
# against the persisted band table, and (c) re-attaching signatures
# (batch side in-plan, corpus side from the index) for the est-Jaccard
# filter. Ingest run N is O(batch + index) — the corpus text is never
# re-shingled, never re-signed, never re-read
# (tests/test_neardup_index.py plan-asserts run 2 is corpus-free).

class NeardupIndex(NamedTuple):
    """Persisted MinHash-LSH state: the signature table (the est-Jaccard
    re-attach side), its banded key table (the candidate-generation
    side), and the build parameters a probe must reuse verbatim."""

    signatures: DataFrame  # (__id long, signature array<long>)
    bands: DataFrame       # (__id long, band int, band_hash long)
    n: int                 # shingle width
    num_hashes: int
    n_bands: int
    approx_band_rows: int | None = None  # footer-derived band-table count (free)


def write_neardup_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> NeardupIndex:
    """One-time index construction — the ONLY operation that shingles
    the corpus. Signatures are written first; band rows are derived
    FROM the written signature parquet (so the expensive shingle→
    minhash pass runs exactly once and the two tables are guaranteed
    consistent); the manifest commits the geometry + ingest watermark
    last."""
    spark = corpus.sparkSession
    sigs = minhash_signatures(corpus, id_col, text_col, n=n, num_hashes=num_hashes)
    sigs.select(F.col(id_col).alias("__id"), "signature").write.mode("overwrite").parquet(
        f"{path}/signatures"
    )
    stored = spark.read.parquet(f"{path}/signatures")
    band_rows(stored, "__id", bands, num_hashes).write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    write_manifest_atomic(
        path,
        {"format": 1, "n": int(n), "num_hashes": int(num_hashes), "bands": int(bands),
         "last_batch_id": None},
    )
    return load_neardup_index(spark, path)


def load_neardup_index(spark: SparkSession, path: str) -> NeardupIndex:
    """Tombstoned docs (:func:`delete_from_neardup_index`) are
    anti-joined out of BOTH tables here — the single filter point every
    probe (band join, hot-bucket census, exact-signature rescue,
    signature re-attach) inherits. No ledger on disk → no join.
    ``approx_band_rows`` comes from the band table's parquet footers
    (driver-side metadata, no Spark job) — the free size signal the
    probe's hot-set broadcast decision uses (r14)."""
    from lakehouse_spark_spark.sources.sinks import load_tombstones, parquet_footer_rows

    with open(os.path.join(path, "manifest.json")) as fh:
        mf = json.load(fh)
    band_dir = resolve_versioned_dir(path, mf, "bands")
    sigs = spark.read.parquet(resolve_versioned_dir(path, mf, "signatures"))
    bands = spark.read.parquet(band_dir)
    tomb = load_tombstones(spark, path)
    if tomb is not None:
        tomb = tomb.select("__id")
        sigs = sigs.join(tomb, "__id", "left_anti")
        bands = bands.join(tomb, "__id", "left_anti")
    return NeardupIndex(
        signatures=sigs,
        bands=bands,
        n=int(mf["n"]),
        num_hashes=int(mf["num_hashes"]),
        n_bands=int(mf["bands"]),
        approx_band_rows=parquet_footer_rows(band_dir),
    )


def delete_from_neardup_index(spark: SparkSession, path: str, ids, batch_id: int | None = None) -> bool:
    """Takedown/opt-out for the persisted near-dup family (r14): record
    the doc ids in the index's tombstone ledger
    (sources/sinks.add_tombstones — the shared exactly-once protocol).
    ``ids``: a DataFrame (its only/id column) or an iterable of ints.
    Logically immediate (:func:`load_neardup_index` anti-joins the
    ledger, so no probe, rescue, or hot-bucket census ever sees the doc
    again); physically purged at the next :func:`compact_neardup_index`.
    Re-uploads of the deleted content get a NEW id (the ingest id
    contract), so they are admitted as novel — and then indexed, so
    their own future dups are caught. Single-writer contract."""
    from lakehouse_spark_spark.sources.sinks import add_tombstones, ids_to_frame

    return add_tombstones(ids_to_frame(spark, ids, "__id"), path, batch_id)


def update_neardup_index(
    path: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    batch_id: int | None = None,
    *,
    signatures: DataFrame | None = None,
) -> NeardupIndex:
    """Fold a batch into the index: sign the batch (O(batch) — the
    accumulated corpus is untouched), append signatures, append band
    rows, then advance the manifest watermark. Pass the docs the ingest
    decided to KEEP (novel docs) — near-dup state for dropped docs
    would only bloat the band table. Single-writer contract.

    ``signatures`` (``(id, signature)``, computed with THIS index's
    geometry — the caller's contract) skips the batch re-signing when
    the ingest loop already signed the batch for its probe — the
    shingle→minhash pass is the dominant per-batch cost and should run
    once, not once per stage.

    ``batch_id`` replays are no-ops past the watermark (the bloom
    module's idempotence contract). The watermark advances strictly
    LAST: a crash mid-update replays the whole fold, and the probe path
    tolerates the resulting duplicate rows (pair-distinct on the band
    join; id-dedup on the signature re-attach) — duplicated rows are
    byte-identical, so answers never change. Append ORDER is
    signatures-then-bands: a doc missing its band rows is merely
    invisible as a candidate until the replay completes (at-least-once
    recall, repaired by the replay), while the reverse order could
    surface a candidate whose signature is missing and silently drop
    the pair at the re-attach join."""
    spark = batch.sparkSession
    with open(os.path.join(path, "manifest.json")) as fh:
        mf = json.load(fh)
    last = mf.get("last_batch_id")
    if batch_id is not None and last is not None and batch_id <= last:
        return load_neardup_index(spark, path)
    if signatures is None:
        signatures = minhash_signatures(
            batch, id_col, text_col, n=int(mf["n"]), num_hashes=int(mf["num_hashes"])
        )
    sigs = (
        signatures.select(F.col(id_col).alias("__id"), "signature")
        .localCheckpoint(eager=True)  # one shingle pass feeds both appends
    )
    sigs.write.mode("append").parquet(resolve_versioned_dir(path, mf, "signatures"))
    band_rows(sigs, "__id", int(mf["bands"]), int(mf["num_hashes"])).write.mode("append").parquet(
        resolve_versioned_dir(path, mf, "bands")
    )
    if batch_id is not None:
        write_manifest_atomic(path, {**mf, "last_batch_id": int(batch_id)})
    return load_neardup_index(spark, path)


def compact_neardup_index(spark: SparkSession, path: str, target_file_mb: int = 256) -> tuple[int, int]:
    """Small-files + replay-duplicate maintenance for a streamed-into
    index. Publish protocol (the bloom module's versioned-dir +
    manifest-pointer commit; a ``_swap_dirs`` rename dance's mid-swap
    crash would leave the index unreadable): each table
    is rewritten distinct into a FRESH ``<family>_v{n+1}`` dir, and
    BOTH become current in ONE atomic manifest flip — the
    signature/band tables can never point at mixed generations. Crash
    before the flip: old index fully readable, orphan dirs GC'd by the
    next compaction. Superseded dirs are retained ONE cycle for
    in-flight readers. Returns the new (signature, band) file counts.
    Single-writer contract, like updates. Tombstoned docs (r14) are
    physically PURGED by the rewrite (the ledger itself is retained —
    a not-yet-watermarked fold replay could re-append purged rows)."""
    import math

    from lakehouse_spark_spark.sources.sinks import load_tombstones

    with open(os.path.join(path, "manifest.json")) as fh:
        mf = json.load(fh)
    tomb = load_tombstones(spark, path)
    new_dirs: dict[str, str] = {}
    counts: list[int] = []
    for family in ("signatures", "bands"):
        cur = mf.get(f"{family}_dir", family)
        src = resolve_versioned_dir(path, mf, family)
        size = sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(src) for f in fs
        )
        n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
        cur_v = int(cur.rsplit("_v", 1)[-1]) if "_v" in cur else 0
        next_dir = f"{family}_v{cur_v + 1}"
        rewritten = spark.read.parquet(src).distinct()
        if tomb is not None:
            rewritten = rewritten.join(tomb.select("__id"), "__id", "left_anti")
        rewritten.repartition(n_files).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, next_dir))
        new_dirs[family] = next_dir
        counts.append(n_files)
    write_manifest_atomic(
        path,
        {**mf, "signatures_dir": new_dirs["signatures"], "bands_dir": new_dirs["bands"]},
    )
    for family in ("signatures", "bands"):
        gc_versioned_dirs(path, family, new_dirs[family], retain_dir=mf.get(f"{family}_dir", family))
    if tomb is not None:
        # audit evidence (r15): the deletions this rewrite carried are
        # now physically durable — stamp the purge watermark
        from lakehouse_spark_spark.sources.sinks import record_tombstone_purge

        record_tombstone_purge(path)
    return (counts[0], counts[1])


def neardup_probe_skew_stats(
    index: NeardupIndex,
    max_bucket: int,
    *,
    signatures: DataFrame,
    id_col: str = "__id",
) -> dict:
    """Eager measurement of the hot-bucket guard's effect for ONE probe
    batch against the persisted band index (r14 — the media probe's
    skew observability, transposed; see
    operators/mediaindex.media_probe_skew_stats): hot buckets skipped,
    corpus band rows they held, batch band rows that landed in them,
    and exact-signature rescue pairs. ``signatures`` is the batch's
    (id, signature) frame — the ingest loop already has it (sign-once).
    Record via operators/mediaindex.record_probe_skew, read via
    media_index_skew_health (manifest-generic)."""
    sigs = signatures.select(F.col(id_col).alias("__id"), "signature")
    census = (
        index.bands.groupBy("band", "band_hash")
        .agg(F.count_distinct("__id").alias("__df"), F.count(F.lit(1)).alias("__rows"))
        .filter(F.col("__df") > max_bucket)
    )
    hot = census.select("band", "band_hash").localCheckpoint(eager=True)
    agg = census.agg(
        F.count(F.lit(1)).alias("hot"), F.sum("__rows").alias("skipped")
    ).collect()[0]
    b_bands = band_rows(sigs, "__id", index.n_bands, index.num_hashes)
    batch_in_hot = b_bands.join(hot, ["band", "band_hash"], "semi").count()
    rescue = (
        sigs.select("__id", F.xxhash64("signature").alias("__sh"))
        .join(
            index.signatures.dropDuplicates(["__id"]).select(
                F.col("__id").alias("__cid"), F.xxhash64("signature").alias("__sh")
            ),
            "__sh",
        )
        .filter(F.col("__id") != F.col("__cid"))
        .select("__id")
        .distinct()
        .count()
    )
    return {
        "max_bucket": int(max_bucket),
        "hot_buckets": int(agg["hot"] or 0),
        "skipped_corpus_rows": int(agg["skipped"] or 0),
        "batch_rows_in_hot": int(batch_in_hot),
        "rescue_pairs": int(rescue),
    }


def neardup_candidates_against_index(
    batch: DataFrame,
    index: NeardupIndex,
    id_col: str,
    text_col: str,
    *,
    signatures: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against the accumulated
    corpus, consuming a persisted :class:`NeardupIndex` — the
    arrival-time twin of :func:`minhash_lsh_candidates`, with the
    corpus side read from the index alone. ``signatures`` injects a
    precomputed ``(id, signature)`` frame (this index's geometry) so a
    caller that also folds the batch signs it exactly once.

    Output: (new_id, corpus_id, est_jaccard) — est_jaccard is the
    fraction of agreeing minhashes, byte-identical to what the
    one-shot operator reports for the same pair (same hash functions,
    same banding — :func:`band_rows` is shared code). Pairs whose ids
    are EQUAL are excluded: fresh-batch ids never collide with the
    index in normal operation (the ingest id contract), but a replayed
    micro-batch probes an index already holding its own docs — without
    the exclusion every replayed doc would flag as a 1.0 near-dup of
    itself and the replay would drop the whole batch.

    Plan shape: the batch is shingled+signed once (localCheckpoint —
    feeds the band explode and the re-attach), the band join carries
    only (id, band, band_hash) slim rows, and signatures re-attach to
    the DEDUPED pairs only. The index side is two plain parquet scans;
    duplicate index rows (a partially-replayed append) are neutralized
    by the pair-distinct and an id-dedup on the signature table.

    ``max_bucket`` (r11): boilerplate-heavy corpora (license headers,
    navigation chrome) concentrate thousands of docs into single
    (band, band_hash) buckets, and every probe hitting one pays
    |bucket| candidate rows — the blow-up the one-shot family caps
    with ``max_df``. With a cap, corpus buckets holding more than
    ``max_bucket`` docs are skipped for matching (one extra groupBy
    over the band table the join scans anyway — O(index); persisting
    the counts at fold time is the same cap one optimization further).
    Standard LSH trade: a true NEAR-dup pair agreeing ONLY in hot
    buckets goes unseen, but near-identical docs agree in many bands,
    so non-boilerplate pairs keep their cold-bucket collisions —
    tests plant a 300-doc boilerplate cluster and verify the organic
    pair survives the cap. EXACT duplicates are exempt from the trade:
    an equal-full-signature rescue join (below) surfaces one corpus
    match per batch doc even when every bucket is hot, preserving the
    streaming ingest's exact-dup crash-window fallback."""
    if signatures is None:
        signatures = minhash_signatures(
            batch, id_col, text_col, n=index.n, num_hashes=index.num_hashes
        )
    sigs = (
        signatures.select(F.col(id_col).alias("__id"), "signature")
        .localCheckpoint(eager=False)
    )
    b_bands = band_rows(sigs, "__id", index.n_bands, index.num_hashes).select(
        F.col("__id").alias("new_id"), "band", "band_hash"
    )
    c_bands = index.bands.select(F.col("__id").alias("corpus_id"), "band", "band_hash")
    if max_bucket is not None:
        hot = (
            c_bands.groupBy("band", "band_hash")
            # DISTINCT docs, not raw rows: a partially-replayed append
            # duplicates band rows (the module's tolerated crash state),
            # and a raw count would inflate __df past the cap and
            # falsely disqualify buckets the replay invariant promises
            # are unaffected (r11 review finding)
            .agg(F.count_distinct("corpus_id").alias("__df"))
            .filter(F.col("__df") > max_bucket)
            .select("band", "band_hash")
        )
        # size-aware broadcast (r14): hot keys are bounded by
        # band_rows/max_bucket; the band-table row count comes free
        # from the index's parquet footers, so the hint costs no job
        # and drops past HOT_BROADCAST_CAP_KEYS (AQE decides there)
        c_bands = c_bands.join(
            _hot_hint(hot, index.approx_band_rows, 1, max_bucket),
            ["band", "band_hash"],
            "left_anti",
        )
    pairs = (
        b_bands.join(c_bands, ["band", "band_hash"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )
    if max_bucket is not None:
        # exact-signature rescue (r12): the cap must never hide an EXACT
        # duplicate. A doc whose every band bucket is hot (pure
        # boilerplate) loses all its candidate pairs to the cap — and
        # the streaming ingest's crash-window fallback ("a future exact
        # dup scores est_jaccard 1.0 and drops here") depends on exact
        # dups always surfacing (r11 ADVICE). Identical texts have
        # identical minhash signatures, so one equi-join on a 64-bit
        # full-signature hash restores them: O(batch + index), and
        # capped to ONE corpus match per batch doc (enough to flag the
        # dup; emitting a hot cluster's every member is the blow-up the
        # bucket cap exists to prevent). A hash collision only yields a
        # scored candidate pair — est_jaccard below is computed from the
        # real signatures, so it cannot create a false 1.0.
        sh_n = sigs.select(F.col("__id").alias("new_id"), F.xxhash64("signature").alias("__sh"))
        sh_c = index.signatures.dropDuplicates(["__id"]).select(
            F.col("__id").alias("corpus_id"), F.xxhash64("signature").alias("__sh")
        )
        exact = (
            sh_n.join(sh_c, "__sh")
            .filter(F.col("new_id") != F.col("corpus_id"))
            .groupBy("new_id")
            .agg(F.min("corpus_id").alias("corpus_id"))
            .select("new_id", "corpus_id")
        )
        pairs = pairs.union(exact).distinct()
    sig_n = sigs.select(F.col("__id").alias("new_id"), F.col("signature").alias("sig_n"))
    sig_c = index.signatures.dropDuplicates(["__id"]).select(
        F.col("__id").alias("corpus_id"), F.col("signature").alias("sig_c")
    )
    withsigs = pairs.join(sig_n, "new_id").join(sig_c, "corpus_id")
    agree = F.size(F.filter(F.zip_with("sig_n", "sig_c", lambda x, y: (x == y).cast("int")), lambda v: v == 1))
    return withsigs.select(
        "new_id", "corpus_id", F.round(agree.cast("double") / F.size("sig_n"), 6).alias("est_jaccard")
    )
