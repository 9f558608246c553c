"""Persisted MinHash-LSH near-dup index (operators/neardup.py, round
10): index-based candidates must be byte-identical to the one-shot
operator's cross-set pairs, ingest run 2 must never re-read the corpus
(plan-asserted by deleting the corpus files), and folds must be
idempotent under a replayed batch_id."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from lakehouse_spark_spark.operators.neardup import (
    load_neardup_index,
    minhash_lsh_candidates,
    minhash_signatures,
    neardup_candidates_against_index,
    update_neardup_index,
    write_neardup_index,
)

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    # real fixture text + planted near-dups: for each corpus doc i%9==0
    # a batch doc that drops the last 2 words (high but <1 Jaccard)
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")


def _corpus_batch(docs):
    corpus = docs.filter("doc_id % 3 != 0")
    batch = docs.filter("doc_id % 3 = 0").union(
        docs.filter("doc_id % 9 = 1").select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(F.slice(F.split("text", " "), 1, 40), " ").alias("text"),
        )
    )
    return corpus, batch


def _oneshot_cross_pairs(corpus, batch):
    """Reference: the ONE-SHOT operator over the union, restricted to
    (batch, corpus) pairs, reoriented to (new_id, corpus_id)."""
    union = corpus.unionByName(batch)
    sigs = minhash_signatures(union, "doc_id", "text")
    cand = minhash_lsh_candidates(sigs, "doc_id")
    c_ids = corpus.select(F.col("doc_id").alias("cid"))
    b_ids = batch.select(F.col("doc_id").alias("bid"))
    ab = cand.join(b_ids, cand.id_a == F.col("bid")).join(c_ids, cand.id_b == F.col("cid")).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "est_jaccard"
    )
    ba = cand.join(b_ids, cand.id_b == F.col("bid")).join(c_ids, cand.id_a == F.col("cid")).select(
        F.col("id_b").alias("new_id"), F.col("id_a").alias("corpus_id"), "est_jaccard"
    )
    return ab.unionByName(ba)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_index_candidates_equal_oneshot_cross_pairs(spark, docs, tmp_path):
    corpus, batch = _corpus_batch(docs)
    idx = write_neardup_index(corpus, "doc_id", "text", str(tmp_path / "nd_idx"))
    got = _rows(neardup_candidates_against_index(batch, idx, "doc_id", "text"))
    want = _rows(_oneshot_cross_pairs(corpus, batch))
    assert got == want
    assert len(got) > 0  # planted near-dups actually surface


def test_run2_never_rescans_corpus_and_matches_union(spark, docs, tmp_path):
    """The incremental contract: run 1 folds batch1 in; run 2's
    candidates against corpus ∪ batch1 come from the index alone — the
    corpus parquet is DELETED before run 2 executes, and the plan never
    references it."""
    import shutil

    corpus, batch = _corpus_batch(docs)
    b1 = batch.filter("doc_id < 500")
    b2 = batch.filter("doc_id >= 500")
    expected = _rows(_oneshot_cross_pairs(corpus.unionByName(b1), b2))

    corpus_dir = str(tmp_path / "nd_corpus_parquet")
    corpus.write.parquet(corpus_dir)
    idx_path = str(tmp_path / "nd_idx2")
    write_neardup_index(spark.read.parquet(corpus_dir), "doc_id", "text", idx_path)
    update_neardup_index(idx_path, b1, "doc_id", "text", batch_id=1)

    shutil.rmtree(corpus_dir)  # the index is now the ONLY corpus state
    idx = load_neardup_index(spark, idx_path)
    out = neardup_candidates_against_index(b2, idx, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "nd_corpus_parquet" not in plan
    assert _rows(out) == expected


def test_update_watermark_is_idempotent(spark, docs, tmp_path):
    corpus, batch = _corpus_batch(docs)
    idx_path = str(tmp_path / "nd_wm")
    write_neardup_index(corpus, "doc_id", "text", idx_path)
    idx = update_neardup_index(idx_path, batch, "doc_id", "text", batch_id=5)
    n_sig, n_band = idx.signatures.count(), idx.bands.count()
    idx2 = update_neardup_index(idx_path, batch, "doc_id", "text", batch_id=5)
    assert (idx2.signatures.count(), idx2.bands.count()) == (n_sig, n_band)
    idx3 = update_neardup_index(idx_path, batch, "doc_id", "text", batch_id=2)
    assert (idx3.signatures.count(), idx3.bands.count()) == (n_sig, n_band)


def test_duplicate_index_rows_are_harmless(spark, docs, tmp_path):
    """A partially-replayed append leaves duplicate signature/band rows;
    the probe path must still emit each candidate pair once with the
    same est_jaccard (pair-distinct + id-dedup)."""
    corpus, batch = _corpus_batch(docs)
    idx_path = str(tmp_path / "nd_dup")
    idx = write_neardup_index(corpus, "doc_id", "text", idx_path)
    want = _rows(neardup_candidates_against_index(batch, idx, "doc_id", "text"))
    # replay half the corpus through the append path (same rows again)
    idx.signatures.limit(50).write.mode("append").parquet(f"{idx_path}/signatures")
    idx.bands.limit(200).write.mode("append").parquet(f"{idx_path}/bands")
    dup_idx = load_neardup_index(spark, idx_path)
    assert _rows(neardup_candidates_against_index(batch, dup_idx, "doc_id", "text")) == want


def test_compact_preserves_candidates(spark, docs, tmp_path):
    from lakehouse_spark_spark.operators.neardup import compact_neardup_index

    corpus, batch = _corpus_batch(docs)
    b1 = batch.filter("doc_id < 500")
    b2 = batch.filter("doc_id >= 500")
    idx_path = str(tmp_path / "nd_compact")
    write_neardup_index(corpus, "doc_id", "text", idx_path)
    update_neardup_index(idx_path, b1, "doc_id", "text", batch_id=1)
    idx = load_neardup_index(spark, idx_path)
    # duplicate-row garbage, as a replayed append would leave
    idx.signatures.limit(10).write.mode("append").parquet(f"{idx_path}/signatures")
    want = _rows(neardup_candidates_against_index(b2, idx, "doc_id", "text"))
    n_sig_files, n_band_files = compact_neardup_index(spark, idx_path)
    assert n_sig_files >= 1 and n_band_files >= 1
    idx2 = load_neardup_index(spark, idx_path)
    assert idx2.signatures.count() == idx2.signatures.dropDuplicates(["__id"]).count()
    assert _rows(neardup_candidates_against_index(b2, idx2, "doc_id", "text")) == want


def test_curated_ingest_with_neardup_stage_matches_sequential_reference(
    spark, docs, tmp_path
):
    """The streamed curated loop with the round-10 near-dup stage
    (streaming/ingest.curated_ingest_foreach_batch(neardup_index_path=))
    must equal a hand-rolled sequential reference built from the BATCH
    operators: per micro-batch, gates -> exact dedup vs accumulated
    hashes -> LSH near-dup vs accumulated keeps -> fold. Exercises the
    foreachBatch body directly (deterministic batch boundaries)."""
    from lakehouse_spark_spark.operators.bloom import write_dedup_index
    from lakehouse_spark_spark.operators.dedup import dedup_against_corpus
    from lakehouse_spark_spark.operators.text import gopher_quality_flags
    from lakehouse_spark_spark.streaming.ingest import curated_ingest_foreach_batch

    corpus = docs.filter("doc_id < 300")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    ids = sorted(texts)

    def near_variant(t):  # drop the last 3 words: near- but not exact-dup
        w = t.split(" ")
        return " ".join(w[: max(3, len(w) - 3)])

    # batch 1: novels; batch 2: exact dups of batch-1 keeps + near-dups
    # of corpus docs; batch 3: near-dups of batch-1 keeps + novels
    b1 = [(5000 + i, texts[ids[300 + i]]) for i in range(40)]
    b2 = [(6000 + i, texts[ids[300 + i]]) for i in range(10)] + [
        (6100 + i, near_variant(texts[ids[i]])) for i in range(10)
    ]
    b3 = [(7000 + i, near_variant(texts[ids[300 + i]])) for i in range(10)] + [
        (7100 + i, texts[ids[340 + i]]) for i in range(20)
    ]
    batches = [
        spark.createDataFrame(rows, "doc_id bigint, text string") for rows in (b1, b2, b3)
    ]

    bloom_path = str(tmp_path / "ci_bloom")
    nd_path = str(tmp_path / "ci_nd")
    write_dedup_index(corpus, "text", bloom_path)
    write_neardup_index(corpus, "doc_id", "text", nd_path)
    kept_out = str(tmp_path / "ci_kept")
    fn = curated_ingest_foreach_batch(
        bloom_path, "doc_id", "text", kept_out,
        neardup_index_path=nd_path, neardup_threshold=0.5,
    )
    for i, b in enumerate(batches):
        fn(b, i)
    got = sorted(r["doc_id"] for r in spark.read.parquet(kept_out).collect())

    # sequential reference from the batch operators
    acc = corpus  # accumulated kept corpus (docs visible to dedup stages)
    want: list[int] = []
    for b in batches:
        gated = b.join(
            gopher_quality_flags(
                b, "doc_id", "text", min_words=20, max_words=1000, stopword_min=1
            )  # the streamed loop's gate configuration
            .filter("keep")
            .select("doc_id"),
            "doc_id",
        )
        ex = dedup_against_corpus(gated, acc, "doc_id", "text").filter("keep").select("doc_id")
        ex_docs = gated.join(ex, "doc_id")
        near_ids = {
            r["new_id"]
            for r in _oneshot_cross_pairs(acc, ex_docs)
            .filter("est_jaccard >= 0.5")
            .collect()
        }
        keeps = [r["doc_id"] for r in ex_docs.collect() if r["doc_id"] not in near_ids]
        want += keeps
        acc = acc.unionByName(ex_docs.filter(F.col("doc_id").isin(keeps)).select("doc_id", "text"))
        acc = acc.localCheckpoint(eager=True)
    assert got == sorted(want)
    assert len(got) > 0
    # the planted cross-batch near-dups were dropped: nothing from the
    # 7000-block (near-dups of batch-1 keeps) survives
    assert not [i for i in got if 7000 <= i < 7100]
    # and batch-2's exact dups of batch-1 keeps died at the EXACT stage
    assert not [i for i in got if 6000 <= i < 6010]


def test_curated_ingest_crash_between_folds_loses_nothing(spark, docs, tmp_path):
    """The r10 review's crash window: output appended and the NEAR-DUP
    fold committed, crash before the Bloom fold, then Structured
    Streaming replays the epoch. The replay must (a) not duplicate
    near-dup index rows (watermark), (b) not drop the batch as
    near-dups of its own just-folded signatures (self-id exclusion),
    and (c) leave the pipeline blocking every future exact and near
    duplicate of the batch's keeps — the reverse fold order silently
    lost the signatures forever."""
    from lakehouse_spark_spark.operators.bloom import (
        dedup_against_corpus_bloom,
        load_dedup_index,
        write_dedup_index,
    )
    from lakehouse_spark_spark.streaming.ingest import curated_ingest_foreach_batch

    corpus = docs.filter("doc_id < 300")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    ids = sorted(texts)
    raw_batch = spark.createDataFrame(
        [(8000 + i, texts[ids[300 + i]]) for i in range(30)], "doc_id bigint, text string"
    )
    # restrict to docs with NO est>=0.5 near-dup relationship to the
    # corpus or to each other: in normal operation they all keep, so
    # the replay's (b)/(c) assertions are exact instead of subset-y
    nd_probe_idx = write_neardup_index(corpus, "doc_id", "text", str(tmp_path / "cw_probe"))
    vs_corpus = {
        r["new_id"]
        for r in neardup_candidates_against_index(raw_batch, nd_probe_idx, "doc_id", "text")
        .filter("est_jaccard >= 0.5")
        .collect()
    }
    in_batch = {
        x
        for r in minhash_lsh_candidates(
            minhash_signatures(raw_batch, "doc_id", "text"), "doc_id"
        )
        .filter("est_jaccard >= 0.5")
        .collect()
        for x in (r["id_a"], r["id_b"])
    }
    from lakehouse_spark_spark.operators.text import gopher_quality_flags

    gate_pass = {
        r["doc_id"]
        for r in gopher_quality_flags(
            raw_batch, "doc_id", "text", min_words=20, max_words=1000, stopword_min=1
        )
        .filter("keep")
        .collect()
    }  # the loop's gate config — gate-failing docs never fold anywhere
    clean_ids = [
        r["doc_id"]
        for r in raw_batch.collect()
        if r["doc_id"] in gate_pass
        and r["doc_id"] not in vs_corpus
        and r["doc_id"] not in in_batch
    ]
    assert len(clean_ids) >= 10
    batch = raw_batch.filter(F.col("doc_id").isin(clean_ids)).localCheckpoint(eager=True)

    bloom_path = str(tmp_path / "cw_bloom")
    nd_path = str(tmp_path / "cw_nd")
    write_dedup_index(corpus, "text", bloom_path)
    write_neardup_index(corpus, "doc_id", "text", nd_path)
    kept_out = str(tmp_path / "cw_kept")

    # --- construct the exact crash state by hand: gates pass (real
    # fixture text), all novel and near-dup-clean -> kept = batch;
    # output appended; NEAR-DUP fold committed with the epoch id; the
    # Bloom fold never ran (the crash point)
    idx0 = load_dedup_index(spark, bloom_path)
    disp0 = dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=idx0)
    kept0 = disp0.filter("keep").select("doc_id", "content_hash").localCheckpoint(eager=True)
    n_kept0 = kept0.count()
    assert n_kept0 == len(clean_ids)
    # seed the crash-state ledger exactly as the loop's first attempt
    # would have committed it: epoch 0's batch_id partition dir
    kept0.withColumn("n_words", F.lit(0)).write.parquet(kept_out + "/batch_id=0")
    update_neardup_index(
        nd_path, batch.join(kept0.select("doc_id"), "doc_id"), "doc_id", "text", batch_id=0
    )

    # --- replay epoch 0 through the real foreachBatch body
    fn = curated_ingest_foreach_batch(
        bloom_path, "doc_id", "text", kept_out,
        neardup_index_path=nd_path, neardup_threshold=0.5,
    )
    fn(batch, 0)

    nd_idx = load_neardup_index(spark, nd_path)
    # (a) watermark: replay did not duplicate the signature rows
    assert nd_idx.signatures.filter(F.col("__id") >= 8000).count() == n_kept0
    # (b) self-exclusion: the replay re-kept the batch (it is NOT a
    # near-dup of itself), so the Bloom fold completed
    bloom_idx = load_dedup_index(spark, bloom_path)
    replayed_hashes = {r["content_hash"] for r in kept0.collect()}
    on_disk = {r["content_hash"] for r in bloom_idx.hashes.collect()}
    assert replayed_hashes <= on_disk

    # (c) the future: an exact dup and a near variant of kept docs
    def near_variant(t):
        w = t.split(" ")
        return " ".join(w[: max(3, len(w) - 3)])

    t0_, t1_ = (texts[ids[300 + (cid - 8000)]] for cid in clean_ids[:2])
    future = spark.createDataFrame(
        [(9000, t0_), (9001, near_variant(t1_))],
        "doc_id bigint, text string",
    )
    fn(future, 1)
    future_kept = spark.read.parquet(kept_out).filter("doc_id >= 9000").count()
    assert future_kept == 0  # both blocked (exact + near)


def test_compact_pointer_commit_crash_windows(spark, docs, tmp_path):
    """r11: compaction publishes signatures_v{n+1}/bands_v{n+1} under
    ONE atomic manifest flip (the bloom commit protocol — the r10
    _swap_dirs rename dance left a mid-swap crash unreadable, and the
    two tables could never point at mixed generations anyway).
    Windows: (a) fully-written next versions WITHOUT the flip — old
    index readable, answers unchanged; (b) after a real compaction the
    superseded dirs are RETAINED one cycle (in-flight readers), then
    GC'd by the next; (c) a family whose current dir exists only as
    ``<dir>__old`` (the state an interrupted ``_swap_dirs`` would leave;
    no index writer publishes that way) fails to load instead of being
    served or repaired — rebuild it with write_neardup_index."""
    import json
    import os

    from lakehouse_spark_spark.operators.neardup import compact_neardup_index

    corpus, batch = _corpus_batch(docs)
    b1 = batch.filter("doc_id < 500")
    b2 = batch.filter("doc_id >= 500")
    idx_path = str(tmp_path / "nd_ptr")
    write_neardup_index(corpus, "doc_id", "text", idx_path)
    update_neardup_index(idx_path, b1, "doc_id", "text", batch_id=1)
    idx = load_neardup_index(spark, idx_path)
    want = _rows(neardup_candidates_against_index(b2, idx, "doc_id", "text"))

    # (a) crash BEFORE the flip: next versions fully written, manifest
    # still points at the unversioned dirs — reader sees the old index
    idx.signatures.distinct().write.parquet(f"{idx_path}/signatures_v1")
    idx.bands.distinct().write.parquet(f"{idx_path}/bands_v1")
    reloaded = load_neardup_index(spark, idx_path)
    assert _rows(neardup_candidates_against_index(b2, reloaded, "doc_id", "text")) == want

    # (b) a real compaction flips BOTH pointers atomically and retains
    # the superseded dirs one cycle
    old_reader = load_neardup_index(spark, idx_path)
    compact_neardup_index(spark, idx_path)
    with open(os.path.join(idx_path, "manifest.json")) as fh:
        mf = json.load(fh)
    assert mf["signatures_dir"] == "signatures_v1" and mf["bands_dir"] == "bands_v1"
    assert os.path.isdir(f"{idx_path}/signatures") and os.path.isdir(f"{idx_path}/bands")
    assert old_reader.signatures.count() > 0 and old_reader.bands.count() > 0
    idx_v1 = load_neardup_index(spark, idx_path)
    assert _rows(neardup_candidates_against_index(b2, idx_v1, "doc_id", "text")) == want
    compact_neardup_index(spark, idx_path)
    with open(os.path.join(idx_path, "manifest.json")) as fh:
        mf = json.load(fh)
    assert mf["signatures_dir"] == "signatures_v2" and mf["bands_dir"] == "bands_v2"
    assert os.path.isdir(f"{idx_path}/signatures_v1")   # new previous, retained
    assert not os.path.exists(f"{idx_path}/signatures")  # two generations: GC'd
    assert not os.path.exists(f"{idx_path}/bands")
    assert _rows(
        neardup_candidates_against_index(
            b2, load_neardup_index(spark, idx_path), "doc_id", "text"
        )
    ) == want

    # (c) only bands_v2__old exists on ONE family: the loader does not
    # fall back to it
    os.rename(f"{idx_path}/bands_v2", f"{idx_path}/bands_v2__old")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_neardup_index(spark, idx_path)
    assert not os.path.exists(f"{idx_path}/bands_v2")  # reader left disk alone


def test_hot_bucket_cap_bounds_boilerplate_candidates(spark, docs, tmp_path):
    """r11 hot-band cap: a 300-doc boilerplate cluster (near-identical
    license-header text) concentrates the corpus into a handful of
    (band, band_hash) buckets; an uncapped probe of one more copy pays
    ~cluster-size candidate rows, the capped probe pays ~zero — while
    an organic near-dup pair (cold buckets) survives the cap with its
    est_jaccard unchanged."""
    base = (
        "permission is hereby granted free of charge to any person obtaining "
        "a copy of this software and associated documentation files to deal "
        "in the software without restriction including without limitation "
        "the rights to use copy modify merge publish distribute sublicense"
    )
    boiler = [
        (10_000 + i, base + f" variant token {i % 5}") for i in range(300)
    ]
    organic = docs.filter("doc_id % 3 = 1").limit(40).collect()
    corpus_rows = boiler + [(int(r["doc_id"]), r["text"]) for r in organic]
    corpus = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    idx = write_neardup_index(corpus, "doc_id", "text", str(tmp_path / "hb_idx"))

    # batch: one more boilerplate copy + a near-dup of an organic doc
    org = organic[0]
    near_text = " ".join(org["text"].split(" ")[:40])
    batch = spark.createDataFrame(
        [(50_000, base + " variant token 999"), (50_001, near_text)],
        "doc_id bigint, text string",
    )
    uncapped = neardup_candidates_against_index(batch, idx, "doc_id", "text")
    capped = neardup_candidates_against_index(
        batch, idx, "doc_id", "text", max_bucket=50
    )
    n_unc = uncapped.filter("new_id = 50000").count()
    n_cap = capped.filter("new_id = 50000").count()
    assert n_unc >= 250  # the blow-up is real: ~cluster-size candidates
    assert n_cap == 0  # every boilerplate bucket is over the cap
    # the organic cold-bucket pair survives, est_jaccard unchanged
    want = {
        (r["corpus_id"], r["est_jaccard"])
        for r in uncapped.filter("new_id = 50001").collect()
    }
    got = {
        (r["corpus_id"], r["est_jaccard"])
        for r in capped.filter("new_id = 50001").collect()
    }
    assert int(org["doc_id"]) in {c for c, _ in want}
    assert got == want


def test_bucket_cap_never_hides_exact_duplicates(spark, tmp_path):
    """r12 (r11 ADVICE): the streaming ingest's crash-window fallback —
    "a future exact dup scores est_jaccard 1.0 and drops at the
    near-dup stage" — must survive max_bucket. A probe whose EVERY band
    bucket is hot (pure boilerplate) loses all banded candidates to the
    cap; the equal-full-signature rescue must still surface exactly ONE
    corpus match at est_jaccard 1.0 (one per batch doc — emitting the
    whole hot cluster is the blow-up the cap exists to prevent)."""
    base = (
        "permission is hereby granted free of charge to any person obtaining "
        "a copy of this software and associated documentation files to deal "
        "in the software without restriction including without limitation"
    )
    # 60 EXACT copies per variant: every (band, band_hash) bucket holds
    # ~60+ docs, far over the cap — and exact dups genuinely exist
    boiler = [(10_000 + i, base + f" variant token {i % 5}") for i in range(300)]
    corpus = spark.createDataFrame(boiler, "doc_id bigint, text string")
    idx = write_neardup_index(corpus, "doc_id", "text", str(tmp_path / "rescue_idx"))
    batch = spark.createDataFrame(
        [(50_000, base + " variant token 2")], "doc_id bigint, text string"
    )
    capped = neardup_candidates_against_index(
        batch, idx, "doc_id", "text", max_bucket=50
    ).collect()
    assert len(capped) == 1  # rescued, and capped to one match
    row = capped[0]
    assert row["new_id"] == 50_000 and row["est_jaccard"] == 1.0
    # deterministic pick: the smallest corpus id among the exact copies
    assert row["corpus_id"] == 10_002
