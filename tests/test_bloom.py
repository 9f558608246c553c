"""Bloom filter + bloom-prefiltered incremental dedup
(operators/bloom.py): no-false-negative guarantee, exact-equivalence of
the dedup output at any (m, k) — including a deliberately undersized
filter where false positives are common — and the m/64 size bound that
makes the filter broadcastable."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lakehouse_spark_spark.operators.bloom import (
    BloomFilter,
    DedupIndex,
    bloom_build,
    bloom_merge,
    bloom_might_contain,
    dedup_against_corpus_bloom,
    load_dedup_index,
    update_dedup_index,
    write_dedup_index,
)
from lakehouse_spark_spark.operators.dedup import content_hash, dedup_against_corpus


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def corpus_batch(spark):
    # corpus: 40 docs; batch: 12 docs of which 4 duplicate corpus text
    # (two of them via whitespace/case variants the normalizer folds),
    # 2 duplicate each other inside the batch, 6 novel.
    corpus = _docs(spark, [(i, f"corpus document number {i} body") for i in range(40)])
    batch = _docs(
        spark,
        [
            (100, "corpus document number 3 body"),       # exact corpus dup
            (101, "  Corpus  Document Number 7 BODY "),   # normalized corpus dup
            (102, "corpus\tdocument\nnumber 11 body"),    # whitespace-folded dup
            (103, "CORPUS DOCUMENT NUMBER 39 BODY"),      # case-folded dup
            (104, "novel text alpha"),
            (105, "novel text beta"),
            (106, "novel text gamma"),
            (107, "twin batch text"),
            (108, "twin batch text"),                     # in-batch dup of 107
            (109, "novel text delta"),
            (110, "novel text epsilon"),
            (111, "novel text zeta"),
        ],
    )
    return corpus, batch


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_bloom_no_false_negatives(spark, corpus_batch):
    corpus, _ = corpus_batch
    hashes = corpus.select(F.md5(F.lower(F.trim("text"))).alias("h"), F.col("doc_id"))
    bloom = bloom_build(hashes, "h", m_bits=1 << 14, k=5)
    flagged = bloom_might_contain(hashes, "h", bloom, "doc_id", m_bits=1 << 14, k=5)
    assert flagged.filter(~F.col("__bloom_hit")).count() == 0


def test_bloom_word_count_bounded(spark, corpus_batch):
    corpus, _ = corpus_batch
    hashes = corpus.select(F.md5("text").alias("h"))
    m = 1 << 10
    bloom = bloom_build(hashes, "h", m_bits=m, k=7).collect()
    assert len(bloom) <= m // 64
    assert all(0 <= r["word"] < m // 64 for r in bloom)
    # determinism: rebuilding yields the identical word/bits set
    again = bloom_build(hashes, "h", m_bits=m, k=7).collect()
    assert sorted((r["word"], r["bits"]) for r in bloom) == sorted(
        (r["word"], r["bits"]) for r in again
    )


def test_bloom_dedup_matches_exact_operator(spark, corpus_batch):
    corpus, batch = corpus_batch
    exact = _collect_sorted(dedup_against_corpus(batch, corpus, "doc_id", "text"))
    bloomed = _collect_sorted(dedup_against_corpus_bloom(batch, corpus, "doc_id", "text"))
    assert bloomed == exact
    # sanity on the fixture itself: 4 corpus dups, 1 in-batch dup, 7 keeps
    by_id = {r[0]: r for r in bloomed}
    assert sum(1 for r in bloomed if r[2]) == 4       # dup_of_corpus
    assert sum(1 for r in bloomed if r[3]) == 1       # dup_in_batch
    assert by_id[107][4] and not by_id[108][4]        # keep = first twin only
    assert sum(1 for r in bloomed if r[4]) == 7


def test_bloom_dedup_exact_even_when_filter_saturated(spark, corpus_batch):
    """An undersized filter (m=64 bits, k=7, 40 elements → near-100% FP
    rate) must still produce the exact answer: every batch doc becomes a
    candidate and the verify join removes all false positives. This
    pins the operator's central claim — bloom parameters affect the
    plan, never the output."""
    corpus, batch = corpus_batch
    exact = _collect_sorted(dedup_against_corpus(batch, corpus, "doc_id", "text"))
    saturated = _collect_sorted(
        dedup_against_corpus_bloom(batch, corpus, "doc_id", "text", m_bits=64, k=7)
    )
    assert saturated == exact
    # and the saturated filter really does fire on novel docs (FPs exist)
    bh = batch.select("doc_id", F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h"))
    ch = corpus.select(F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h")).distinct()
    bloom = bloom_build(ch, "h", m_bits=64, k=7)
    flagged = bloom_might_contain(bh, "h", bloom, "doc_id", m_bits=64, k=7)
    n_hits = flagged.filter(F.col("__bloom_hit")).count()
    assert n_hits > 4  # more candidates than the 4 true corpus dups → FPs exercised


def test_bloom_prefilter_skips_true_negatives(spark, corpus_batch):
    """With a well-sized filter the candidate set is (almost always)
    exactly the true-dup hash set — the property that lets negatives
    skip the corpus index. Probabilistic in general; deterministic for
    this pinned fixture + parameters (verified stable)."""
    corpus, batch = corpus_batch
    bh = batch.select("doc_id", F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h"))
    ch = corpus.select(F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h")).distinct()
    bloom = bloom_build(ch, "h", m_bits=1 << 20, k=7)
    flagged = bloom_might_contain(bh, "h", bloom, "doc_id", m_bits=1 << 20, k=7)
    hits = {r["doc_id"] for r in flagged.filter(F.col("__bloom_hit")).collect()}
    assert hits == {100, 101, 102, 103}


def test_bloom_dedup_matches_exact_on_null_text(spark, corpus_batch):
    """Rows whose tested value is NULL (null text -> null content_hash)
    must survive with __bloom_hit=false and get the same disposition as
    the exact operator's null-never-equal join semantics — the
    value-keyed left-join membership test keeps them, where an inner
    join on a row id would silently drop them (r8 review fix)."""
    corpus, batch = corpus_batch
    extra = spark.createDataFrame(
        [(900, None), (901, None)], "doc_id long, text string"
    )
    batch_n = batch.unionByName(extra)
    exact = _collect_sorted(dedup_against_corpus(batch_n, corpus, "doc_id", "text"))
    bloomed = _collect_sorted(
        dedup_against_corpus_bloom(batch_n, corpus, "doc_id", "text")
    )
    assert bloomed == exact
    ids = {r[0] for r in bloomed}
    assert {900, 901} <= ids  # null-text rows present in BOTH outputs


def test_persisted_index_run2_never_rescans_corpus(spark, corpus_batch, tmp_path):
    """The incremental-ingest contract (r8 verdict task 1): after
    write_dedup_index, a dedup run consumes ONLY the persisted index +
    the batch. Proven operationally — the corpus parquet is DELETED
    before run 2, so any lingering corpus scan would throw — and by
    plan inspection (the corpus path never appears in the physical
    plan)."""
    import shutil

    corpus, batch = corpus_batch
    expected = _collect_sorted(dedup_against_corpus(batch, corpus, "doc_id", "text"))

    corpus_dir = str(tmp_path / "corpus_parquet")
    corpus.write.parquet(corpus_dir)
    idx_path = str(tmp_path / "bloom_idx")
    write_dedup_index(spark.read.parquet(corpus_dir), "text", idx_path)

    shutil.rmtree(corpus_dir)  # the index is now the ONLY corpus state
    idx = load_dedup_index(spark, idx_path)
    out = dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=idx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "corpus_parquet" not in plan  # zero scans of the corpus files
    assert _collect_sorted(out) == expected  # executes fine post-delete


def test_update_index_incremental_equals_exact_on_union(spark, corpus_batch, tmp_path):
    """Run 1 dedups batch1 against the index; its keeps fold in via
    update_dedup_index (bit-OR merge + hash append, no corpus rebuild);
    run 2's output must equal exact dedup of batch2 against
    corpus ∪ batch1-keeps."""
    corpus, batch = corpus_batch
    b1 = batch.filter(F.col("doc_id") <= 105)
    b2 = batch.filter(F.col("doc_id") > 105)

    idx_path = str(tmp_path / "idx2")
    idx = write_dedup_index(corpus, "text", idx_path)
    r1 = dedup_against_corpus_bloom(b1, None, "doc_id", "text", index=idx)
    idx = update_dedup_index(idx_path, r1.filter("keep").select("content_hash"))
    r2 = dedup_against_corpus_bloom(b2, None, "doc_id", "text", index=idx)

    b1_keep_ids = [
        r["doc_id"]
        for r in dedup_against_corpus(b1, corpus, "doc_id", "text").filter("keep").collect()
    ]
    corpus2 = corpus.unionByName(b1.filter(F.col("doc_id").isin(b1_keep_ids)))
    expected = _collect_sorted(dedup_against_corpus(b2, corpus2, "doc_id", "text"))
    assert _collect_sorted(r2) == expected
    # the in-batch twins (107, 108) land in b2: first keeps, second not
    by_id = {r[0]: r for r in _collect_sorted(r2)}
    assert by_id[107][4] and not by_id[108][4]


def test_filter_ahead_of_hashes_crash_window_is_safe(spark, corpus_batch, tmp_path):
    """update_dedup_index swaps the filter BEFORE appending hashes; a
    crash between the two leaves bits set for hashes the exact index
    lacks — pure false positives, which the verify join eliminates.
    This constructs that exact state and asserts the dedup output still
    equals the exact operator against the on-disk hash set. (The
    REVERSE ordering would create false negatives — keep-loss — which
    is why the operator swaps filter-first.)"""
    corpus, batch = corpus_batch
    idx_path = str(tmp_path / "crash_idx")
    idx = write_dedup_index(corpus, "text", idx_path)
    # crash-window state: the batch's hashes merged into the FILTER
    # only, the hash set untouched
    bh = (
        batch.select(content_hash("text").alias("content_hash"))
        .filter("content_hash is not null")
        .distinct()
    )
    merged_path = str(tmp_path / "filter_ahead")
    bloom_merge(
        idx.bloom.frame, bloom_build(bh, "content_hash", idx.bloom.m_bits, idx.bloom.k)
    ).write.parquet(merged_path)
    crashed = DedupIndex(
        hashes=idx.hashes,
        bloom=BloomFilter(
            spark.read.parquet(merged_path), idx.bloom.m_bits, idx.bloom.k
        ),
    )
    out = _collect_sorted(dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=crashed))
    exact = _collect_sorted(dedup_against_corpus(batch, corpus, "doc_id", "text"))
    assert out == exact  # replayed batch re-keeps; nothing lost


def test_duplicate_index_hash_rows_are_harmless(spark, corpus_batch, tmp_path):
    """Defense-in-depth for a partially-replayed hash append: duplicate
    rows in the persisted hash set must not double disposition rows
    (dedup_against_corpus_bloom distincts the index side)."""
    corpus, batch = corpus_batch
    idx_path = str(tmp_path / "dup_idx")
    idx = write_dedup_index(corpus, "text", idx_path)
    dup_idx = DedupIndex(
        hashes=idx.hashes.unionByName(idx.hashes.limit(5)), bloom=idx.bloom
    )
    out = _collect_sorted(dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=dup_idx))
    exact = _collect_sorted(dedup_against_corpus(batch, corpus, "doc_id", "text"))
    assert out == exact
    assert len(out) == batch.count()  # one row per batch doc, no inflation


def test_compact_dedup_index_preserves_answers(spark, corpus_batch, tmp_path):
    """After several appends the hash set is many small files (one per
    update); compaction must rewrite it to few files, drop any
    replay-duplicated rows, and leave every dedup answer unchanged."""
    import glob as _glob

    from lakehouse_spark_spark.operators.bloom import compact_dedup_index

    corpus, batch = corpus_batch
    idx_path = str(tmp_path / "compact_idx")
    idx = write_dedup_index(corpus, "text", idx_path)
    b1 = batch.filter(F.col("doc_id") <= 105)
    b2 = batch.filter(F.col("doc_id") > 105)
    r1 = dedup_against_corpus_bloom(b1, None, "doc_id", "text", index=idx)
    idx = update_dedup_index(idx_path, r1.filter("keep").select("content_hash"))
    r2 = dedup_against_corpus_bloom(b2, None, "doc_id", "text", index=idx)
    idx = update_dedup_index(idx_path, r2.filter("keep").select("content_hash"))
    # simulate a partially-replayed append: duplicate hash rows on disk
    idx.hashes.limit(3).write.mode("append").parquet(f"{idx_path}/hashes")

    before = {r["content_hash"] for r in idx.hashes.collect()}
    files_before = len(_glob.glob(f"{idx_path}/hashes/part-*"))
    n_files = compact_dedup_index(spark, idx_path)
    files_after = len(_glob.glob(f"{idx_path}/hashes/part-*"))
    assert n_files == 1 and files_after < files_before

    idx2 = load_dedup_index(spark, idx_path)
    assert {r["content_hash"] for r in idx2.hashes.collect()} == before
    assert idx2.hashes.count() == len(before)  # replay dups gone
    # and a post-compaction dedup run still answers exactly
    out = _collect_sorted(dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=idx2))
    b1_keep_ids = [
        r["doc_id"]
        for r in dedup_against_corpus(batch, corpus, "doc_id", "text").filter("keep").collect()
    ]
    # every previously-kept batch doc is now an index dup; nothing kept
    assert all(not r[4] for r in out)
    assert sum(1 for r in out if r[2]) == len(out) - sum(
        1 for r in out if r[1] is None
    )  # all non-null hashes are corpus dups now
    assert len(b1_keep_ids) > 0  # fixture sanity


def test_bloom_merge_equals_build_of_union(spark, corpus_batch):
    """bit-OR merge of two same-geometry filters is EXACTLY the filter
    built over the unioned value set — the property update_dedup_index
    rests on."""
    corpus, _ = corpus_batch
    a = corpus.filter("doc_id < 20").select(F.md5("text").alias("h"))
    b = corpus.filter("doc_id >= 20").select(F.md5("text").alias("h"))
    u = corpus.select(F.md5("text").alias("h"))
    m = 1 << 12
    merged = sorted(
        (r["word"], r["bits"])
        for r in bloom_merge(bloom_build(a, "h", m), bloom_build(b, "h", m)).collect()
    )
    direct = sorted((r["word"], r["bits"]) for r in bloom_build(u, "h", m).collect())
    assert merged == direct


def test_bloom_build_skips_nulls(spark):
    """NULLs carry no membership info: the filter over values-with-null
    equals the filter over the non-null values, with no junk
    (null, null) row (r8 ADVICE — matters for persisted filters)."""
    vals = spark.createDataFrame([("a",), (None,), ("b",)], "v string")
    rows = bloom_build(vals, "v", m_bits=1 << 10, k=3).collect()
    assert all(r["word"] is not None and r["bits"] is not None for r in rows)
    nn = spark.createDataFrame([("a",), ("b",)], "v string")
    assert sorted((r["word"], r["bits"]) for r in rows) == sorted(
        (r["word"], r["bits"]) for r in bloom_build(nn, "v", m_bits=1 << 10, k=3).collect()
    )


def test_broadcast_cap_switches_probe_join(spark, corpus_batch):
    """Above broadcast_cap_words the probe join must drop its broadcast
    hint (a 10^9-element filter is past broadcast range) and the dedup
    output must stay byte-identical (r8 verdict task 2)."""
    corpus, batch = corpus_batch
    exact = _collect_sorted(dedup_against_corpus(batch, corpus, "doc_id", "text"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ch = corpus.select(content_hash("text").alias("h")).distinct()
        bloom = bloom_build(ch, "h", m_bits=1 << 20, k=7)
        bh = batch.select("doc_id", content_hash("text").alias("h"))
        under = bloom_might_contain(bh, "h", bloom, m_bits=1 << 20, k=7)
        over = bloom_might_contain(
            bh, "h", bloom, m_bits=1 << 20, k=7, broadcast_cap_words=1024
        )
        p_under = under._jdf.queryExecution().executedPlan().toString()
        p_over = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p_under  # dim-sized filter: hinted broadcast
        assert "BroadcastHashJoin" not in p_over  # over cap: shuffle join on word
        capped = _collect_sorted(
            dedup_against_corpus_bloom(
                batch, corpus, "doc_id", "text", broadcast_cap_words=1024
            )
        )
        assert capped == exact
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestManifestCommit:
    """Round-10: object-store-safe index publish (versioned filter dirs
    + atomic manifest-pointer flip) and the batch-id high-watermark
    that makes replayed folds idempotent."""

    def test_update_publishes_new_version_with_one_version_retention(
        self, spark, corpus_batch, tmp_path
    ):
        """Each update publishes filter_v{n+1} and flips the pointer; the
        superseded dir survives ONE more cycle so a reader frame loaded
        under the previous manifest keeps resolving (r10 ADVICE:
        immediate GC broke in-flight readers), then the next update GCs
        it."""
        import json
        import os

        corpus, batch = corpus_batch
        path = str(tmp_path / "mf_idx")
        idx = write_dedup_index(corpus, "text", path)
        with open(os.path.join(path, "manifest.json")) as fh:
            mf = json.load(fh)
        assert mf["filter_dir"] == "filter_v1" and mf["m_bits"] == 1 << 20
        old_reader = idx.bloom.frame  # lazy scan over filter_v1
        r1 = dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=idx)
        kept = r1.filter("keep").select("content_hash").localCheckpoint(eager=True)
        update_dedup_index(path, kept)
        with open(os.path.join(path, "manifest.json")) as fh:
            mf2 = json.load(fh)
        assert mf2["filter_dir"] == "filter_v2"
        assert os.path.isdir(os.path.join(path, "filter_v2"))
        assert os.path.isdir(os.path.join(path, "filter_v1"))  # retained
        assert old_reader.count() > 0  # in-flight reader frame still valid
        update_dedup_index(path, kept.limit(0))
        with open(os.path.join(path, "manifest.json")) as fh:
            assert json.load(fh)["filter_dir"] == "filter_v3"
        assert os.path.isdir(os.path.join(path, "filter_v2"))       # new previous
        assert not os.path.exists(os.path.join(path, "filter_v1"))  # now GC'd

    def test_crash_before_pointer_flip_leaves_old_index_readable(
        self, spark, corpus_batch, tmp_path
    ):
        """The r10 commit-protocol crash window: the new filter_v2 dir
        is fully written but the manifest still points at v1. A reader
        must see the OLD index, intact, and answer exactly; the next
        successful update simply overwrites/GCs the orphan dir."""
        corpus, batch = corpus_batch
        path = str(tmp_path / "crash_mf")
        idx = write_dedup_index(corpus, "text", path)
        # simulate the crash: write the would-be next version, DON'T flip
        bh = (
            batch.select(content_hash("text").alias("content_hash"))
            .filter("content_hash is not null")
            .distinct()
        )
        bloom_merge(
            idx.bloom.frame, bloom_build(bh, "content_hash", idx.bloom.m_bits, idx.bloom.k)
        ).write.parquet(f"{path}/filter_v2")
        reloaded = load_dedup_index(spark, path)
        out = _collect_sorted(
            dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=reloaded)
        )
        exact = _collect_sorted(dedup_against_corpus(batch, corpus, "doc_id", "text"))
        assert out == exact  # old pointer, old answer — nothing torn
        # recovery: a real update lands as v2 over the orphan, then GCs v1
        import os
        update_dedup_index(path, bh)
        import json
        with open(os.path.join(path, "manifest.json")) as fh:
            assert json.load(fh)["filter_dir"] == "filter_v2"
        assert os.path.isdir(os.path.join(path, "filter_v1"))  # retained one cycle

    def test_batch_id_watermark_makes_replayed_fold_a_noop(
        self, spark, corpus_batch, tmp_path
    ):
        corpus, batch = corpus_batch
        path = str(tmp_path / "wm_idx")
        idx = write_dedup_index(corpus, "text", path)
        r1 = dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=idx)
        keeps = r1.filter("keep").select("content_hash").localCheckpoint(eager=True)
        idx = update_dedup_index(path, keeps, batch_id=7)
        n_hashes = idx.hashes.count()
        filt = sorted((r["word"], r["bits"]) for r in idx.bloom.frame.collect())
        # replay the SAME epoch: no duplicate hash rows, filter unchanged
        idx2 = update_dedup_index(path, keeps, batch_id=7)
        assert idx2.hashes.count() == n_hashes
        assert sorted((r["word"], r["bits"]) for r in idx2.bloom.frame.collect()) == filt
        # an OLDER epoch is equally a no-op; a NEWER one folds
        idx3 = update_dedup_index(path, keeps, batch_id=3)
        assert idx3.hashes.count() == n_hashes
        extra = spark.createDataFrame([("ffff00000000000000000000deadbeef",)], "content_hash string")
        idx4 = update_dedup_index(path, extra, batch_id=8)
        assert idx4.hashes.count() == n_hashes + 1

    def test_foreach_batch_replay_is_idempotent_on_index(self, spark, corpus_batch, tmp_path):
        """Re-invoking the streaming foreachBatch body with the SAME
        batch_id (Structured Streaming's crash-replay model) must leave
        the index byte-equal — no duplicate hash rows, same filter —
        and append no new keeps (the batch's hashes are already in the
        index, so the re-dedup keeps nothing)."""
        from lakehouse_spark_spark.streaming.ingest import bloom_ingest_foreach_batch

        corpus, batch = corpus_batch
        path = str(tmp_path / "fb_idx")
        write_dedup_index(corpus, "text", path)
        kept_out = str(tmp_path / "fb_kept")
        fn = bloom_ingest_foreach_batch(path, "doc_id", "text", kept_out)
        fn(batch, 0)
        idx = load_dedup_index(spark, path)
        n_hashes, n_kept = idx.hashes.count(), spark.read.parquet(kept_out).count()
        filt = sorted((r["word"], r["bits"]) for r in idx.bloom.frame.collect())
        fn(batch, 0)  # full epoch replay
        idx2 = load_dedup_index(spark, path)
        assert idx2.hashes.count() == n_hashes
        assert idx2.hashes.distinct().count() == n_hashes
        assert sorted((r["word"], r["bits"]) for r in idx2.bloom.frame.collect()) == filt
        assert spark.read.parquet(kept_out).count() == n_kept

    def test_redrain_between_ledger_and_fold_is_exactly_once(
        self, spark, corpus_batch, tmp_path
    ):
        """The remaining crash window (r11 exactly-once ledger): epoch 0
        commits the ledger, crashes BEFORE the index fold, and the
        stream redrains it. Under the old mode("append") ledger this
        duplicated every kept row (the at-least-once caveat the module
        docstring used to carry); append_once_parquet must instead see
        epoch 0's committed batch_id partition, skip the write, and let
        the fold complete — ending at the same (ledger, index) pair as
        a crash-free run. The post-fold window (replay of a fully
        committed epoch) is test_foreach_batch_replay_is_idempotent_
        on_index."""
        from lakehouse_spark_spark.sources.sinks import append_once_parquet
        from lakehouse_spark_spark.streaming.ingest import bloom_ingest_foreach_batch

        corpus, batch = corpus_batch
        path = str(tmp_path / "rd_idx")
        idx0 = write_dedup_index(corpus, "text", path)
        kept_out = str(tmp_path / "rd_kept")
        # construct the crash state by hand: ledger committed, no fold
        kept0 = (
            dedup_against_corpus_bloom(batch, None, "doc_id", "text", index=idx0)
            .filter("keep")
            .select("doc_id", "content_hash")
            .localCheckpoint(eager=True)
        )
        assert append_once_parquet(kept0, kept_out, 0) is True
        ledger0 = sorted(
            (r["doc_id"], r["content_hash"])
            for r in spark.read.parquet(kept_out).collect()
        )
        assert ledger0  # non-vacuous: the batch had novel docs
        # redrain epoch 0 through the real foreachBatch body
        fn = bloom_ingest_foreach_batch(path, "doc_id", "text", kept_out)
        fn(batch, 0)
        assert sorted(
            (r["doc_id"], r["content_hash"])
            for r in spark.read.parquet(kept_out).collect()
        ) == ledger0  # no duplicate rows: the replay skipped the write
        on_disk = {r["content_hash"] for r in load_dedup_index(spark, path).hashes.collect()}
        assert {h for _, h in ledger0} <= on_disk  # ...and the fold completed

    def test_manifestless_layout_is_refused(self, spark, corpus_batch, tmp_path):
        """An index dir without manifest.json (here the older filter/ +
        meta/ parquet layout, which no writer produces any more) is
        neither read nor upgraded: the loader and the fold both raise a
        ValueError naming the path and write_dedup_index, and the fold
        leaves the dir untouched."""
        import os

        corpus, _ = corpus_batch
        path = str(tmp_path / "manifestless_idx")
        hashes = (
            corpus.select(content_hash("text").alias("content_hash"))
            .filter("content_hash is not null")
            .distinct()
        )
        hashes.write.parquet(f"{path}/hashes")
        stored = spark.read.parquet(f"{path}/hashes")
        bloom_build(stored, "content_hash", 1 << 20, 7).write.parquet(f"{path}/filter")
        spark.createDataFrame([(1 << 20, 7)], "m_bits long, k int").write.parquet(f"{path}/meta")
        before = sorted(os.listdir(path))

        with pytest.raises(ValueError, match="write_dedup_index") as ex:
            load_dedup_index(spark, path)
        assert path in str(ex.value)
        with pytest.raises(ValueError, match="write_dedup_index") as ex:
            update_dedup_index(path, stored.limit(3))
        assert path in str(ex.value)
        assert sorted(os.listdir(path)) == before  # no adoption, no manifest


def test_run2_builder_reuses_one_fixture_slot(spark):
    """The r9 ADVICE tempdir fix: repeated bloom_persisted_ingest_run2
    builder calls in one process hold at most ONE live index dir (the
    previous invocation's is removed at the next call), and the answer
    is identical across invocations."""
    import os

    from lakehouse_spark_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    b = Q._REGISTRY["bloom_persisted_ingest_run2"].builder
    out1 = sorted(tuple(r) for r in b(spark, sf).collect())
    dir1 = Q._BLOOM_FIXTURE_DIRS["run2"]
    out2 = sorted(tuple(r) for r in b(spark, sf).collect())
    dir2 = Q._BLOOM_FIXTURE_DIRS["run2"]
    assert out1 == out2
    assert dir1 != dir2 and not os.path.exists(dir1)  # old slot reclaimed
    assert os.path.exists(dir2)
    # the steady fixture is reused read-only across calls, by contrast
    s = Q._REGISTRY["bloom_persisted_ingest_steady"].builder
    s1 = sorted(tuple(r) for r in s(spark, sf).collect())
    sd1 = Q._BLOOM_FIXTURE_DIRS[f"steady:{sf}"]
    s2 = sorted(tuple(r) for r in s(spark, sf).collect())
    assert s1 == s2 == out1  # same math as run2's oracle
    assert Q._BLOOM_FIXTURE_DIRS[f"steady:{sf}"] == sd1


def test_flat_ledger_refused(spark, corpus_batch, tmp_path):
    """A flat ledger (plain mode('append') part files at the root, which
    no writer here produces) is refused instead of adopted: a first
    batch_id= dir beside root-level files would make partition
    discovery throw for the whole ledger. Negative epochs stay
    reserved (-2 is the merged-history partition)."""
    import os

    from lakehouse_spark_spark.sources.sinks import append_once_parquet

    corpus, _ = corpus_batch
    kept_out = str(tmp_path / "flat_kept")
    flat = corpus.select("doc_id").limit(5)
    flat.write.mode("append").parquet(kept_out)
    before = sorted(os.listdir(kept_out))
    with pytest.raises(ValueError, match="root-level part files") as ex:
        append_once_parquet(flat, kept_out, 0)
    assert kept_out in str(ex.value)
    assert sorted(os.listdir(kept_out)) == before  # nothing moved or committed
    with pytest.raises(ValueError, match="reserved"):
        append_once_parquet(flat, str(tmp_path / "fresh"), -2)

