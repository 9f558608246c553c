"""Deletion/retraction (takedown) across the five persisted index
families (r14; the r13 verdict's task 1): a tombstone ledger per index
base dir, consulted by every load (and therefore every probe), purged
physically at compaction, with Bloom — whose filter bits cannot be
unset — getting rebuild-from-hashes as the durable remedy (plus its
saturation health trail, task 2). The contract under test, per family:

- delete asset X → NO probe ever returns X again (logically immediate);
- a re-upload of X's content is admitted as novel;
- replay/redrain contracts intact (exactly-once ledgers, watermarks);
- compaction physically removes the rows (and probe output is
  unchanged before vs after the purge);
- indexes with no tombstone ledger build byte-identical plans (the
  anti-join only exists when a ledger does).
"""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from lakehouse_spark_spark.operators.bloom import (
    dedup_against_corpus_bloom,
    dedup_index_health,
    delete_from_dedup_index,
    load_dedup_index,
    maybe_rebuild_dedup_index,
    rebuild_dedup_index,
    update_dedup_index,
    write_dedup_index,
)
from lakehouse_spark_spark.sources.sinks import (
    add_tombstones,
    load_tombstones,
    tombstone_dir,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark, items):
    return spark.createDataFrame(items, "doc_id bigint, text string")


# ---------------------------------------------------------------- bloom


def test_bloom_delete_suppresses_and_readmits(spark, tmp_path):
    path = str(tmp_path / "bloom_idx")
    corpus = _docs(spark, [(i, f"corpus text t{i:05d} unique") for i in range(30)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)

    # a re-upload of doc 7's content is a dup before the delete
    batch = _docs(spark, [(100, "corpus text t00007 unique"), (101, "novel n1")])
    disp = dedup_against_corpus_bloom(
        batch, None, "doc_id", "text", index=load_dedup_index(spark, path)
    )
    before = {r["doc_id"]: r["dup_of_corpus"] for r in disp.collect()}
    assert before == {100: True, 101: False}

    # takedown doc 7's content → the same upload is now admitted
    delete_from_dedup_index(path, _docs(spark, [(7, "corpus text t00007 unique")]), text_col="text")
    disp2 = dedup_against_corpus_bloom(
        batch, None, "doc_id", "text", index=load_dedup_index(spark, path)
    )
    after = {r["doc_id"]: r["dup_of_corpus"] for r in disp2.collect()}
    assert after == {100: False, 101: False}


def test_bloom_fold_lifts_tombstone_so_future_dups_catch(spark, tmp_path):
    path = str(tmp_path / "bloom_lift")
    corpus = _docs(spark, [(i, f"seed s{i:05d}") for i in range(10)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)
    delete_from_dedup_index(path, _docs(spark, [(3, "seed s00003")]), text_col="text")
    assert load_tombstones(spark, path) is not None

    # re-admission: fold the content back in (what an ingest loop does
    # with its kept hashes) → the tombstone is lifted
    from lakehouse_spark_spark.operators.dedup import content_hash

    readd = _docs(spark, [(200, "seed s00003")]).select(
        content_hash("text").alias("content_hash")
    )
    update_dedup_index(path, readd, batch_id=1)
    assert load_tombstones(spark, path) is None  # fully lifted

    # a FUTURE copy of the re-admitted content is caught again
    disp = dedup_against_corpus_bloom(
        _docs(spark, [(300, "seed s00003")]), None, "doc_id", "text",
        index=load_dedup_index(spark, path),
    )
    assert disp.collect()[0]["dup_of_corpus"] is True


def test_bloom_lift_bumps_floor_against_replayed_tombstone_epoch(spark, tmp_path):
    path = str(tmp_path / "bloom_floor")
    corpus = _docs(spark, [(i, f"fl f{i:05d}") for i in range(6)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)
    delete_from_dedup_index(
        path, _docs(spark, [(2, "fl f00002")]), text_col="text", batch_id=0
    )
    from lakehouse_spark_spark.operators.dedup import content_hash

    readd = _docs(spark, [(50, "fl f00002")]).select(content_hash("text").alias("content_hash"))
    update_dedup_index(path, readd, batch_id=1)
    # a replay of tombstone epoch 0 must be a committed no-op (floor),
    # not a resurrection of the lifted hash
    again = delete_from_dedup_index(
        path, _docs(spark, [(2, "fl f00002")]), text_col="text", batch_id=0
    )
    assert again is False
    assert load_tombstones(spark, path) is None


def test_bloom_compact_purges_but_keeps_ledger_and_answers(spark, tmp_path):
    from lakehouse_spark_spark.operators.bloom import compact_dedup_index

    path = str(tmp_path / "bloom_purge")
    corpus = _docs(spark, [(i, f"pu p{i:05d}") for i in range(20)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)
    delete_from_dedup_index(
        path, _docs(spark, [(1, "pu p00001"), (2, "pu p00002")]), text_col="text"
    )
    batch = _docs(spark, [(90, "pu p00001"), (91, "pu p00005"), (92, "fresh x")])
    want = _rows(
        dedup_against_corpus_bloom(
            batch, None, "doc_id", "text", index=load_dedup_index(spark, path)
        )
    )
    n_before = spark.read.parquet(f"{path}/hashes").count()
    compact_dedup_index(spark, path)
    assert spark.read.parquet(f"{path}/hashes").count() == n_before - 2  # purged
    assert os.path.isdir(tombstone_dir(path))  # ledger retained
    got = _rows(
        dedup_against_corpus_bloom(
            batch, None, "doc_id", "text", index=load_dedup_index(spark, path)
        )
    )
    assert got == want


def test_bloom_rebuild_materializes_deletion_and_retains_ledger(spark, tmp_path):
    """r15 (deliberate pin update over r14): the rebuild purges the
    rows and re-derives the bits WITHOUT the deleted hashes, but the
    tombstone ledger is RETAINED — clearing it opened the crashed-fold
    replay-resurrection window (r15 ADVICE) — and the rebuilt-through
    watermark is recorded for the audit surface + the maintenance
    trigger."""
    from lakehouse_spark_spark.sources.sinks import tombstone_purge_state

    path = str(tmp_path / "bloom_rebuild")
    corpus = _docs(spark, [(i, f"rb r{i:05d}") for i in range(25)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)
    delete_from_dedup_index(path, _docs(spark, [(4, "rb r00004")]), text_col="text")
    idx = rebuild_dedup_index(spark, path)
    assert os.path.isdir(tombstone_dir(path))  # ledger RETAINED (r15)
    state = tombstone_purge_state(path)
    assert state is not None
    assert state["rebuilt_through_epoch"] == 0  # deletion epoch materialized
    assert state["purged_through_epoch"] == 0  # the rebuild's compact purged
    assert idx.hashes.count() == 24
    # suppressed content is admitted as novel; everything else still dups
    batch = _docs(spark, [(80, "rb r00004"), (81, "rb r00006")])
    disp = {
        r["doc_id"]: r["dup_of_corpus"]
        for r in dedup_against_corpus_bloom(
            batch, None, "doc_id", "text", index=idx
        ).collect()
    }
    assert disp == {80: False, 81: True}
    # watermark preserved: a replayed pre-rebuild epoch stays a no-op
    mf = __import__("json").load(open(f"{path}/manifest.json"))
    assert "health" in mf and mf["health"]["trail"] == []


def test_bloom_rebuild_replayed_crashed_epoch_cannot_resurrect(spark, tmp_path):
    """The r15 ADVICE window, closed end-to-end: epoch 1 folds hash H
    and CRASHES before its watermark advance (simulated by rewinding
    last_batch_id); H is tombstoned; the index is rebuilt (purge +
    fresh bits). The stream restart replays epoch 1 — which re-presents
    H WITHOUT any re-admission having happened. The retained ledger +
    the min_lift_epoch guard keep H suppressed: its tombstone survives
    the replayed fold and a future copy of H's content is still
    admitted as novel (the deletion holds)."""
    import json as _json

    from lakehouse_spark_spark.operators.dedup import content_hash
    from lakehouse_spark_spark.sources.sinks import write_manifest_atomic

    path = str(tmp_path / "bloom_replay")
    corpus = _docs(spark, [(i, f"rw w{i:05d}") for i in range(10)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)
    h_frame = _docs(spark, [(50, "the doomed document")]).select(
        content_hash("text").alias("content_hash")
    )
    update_dedup_index(path, h_frame, batch_id=0)  # baseline watermark
    update_dedup_index(
        path,
        _docs(spark, [(51, "victim content v")]).select(
            content_hash("text").alias("content_hash")
        ),
        batch_id=1,
    )
    # simulate the crash window: fold 1 completed its appends but the
    # watermark advance was lost
    mf = _json.load(open(f"{path}/manifest.json"))
    write_manifest_atomic(path, {**mf, "last_batch_id": 0})
    # takedown lands while the stream is down (min_lift_epoch = 0+2)
    delete_from_dedup_index(
        path, _docs(spark, [(51, "victim content v")]), text_col="text"
    )
    rebuild_dedup_index(spark, path)
    assert os.path.isdir(tombstone_dir(path))
    # stream restart: epoch 1 REPLAYS (watermark says 0) — the guard
    # must not lift the tombstone for this pre-delete data
    update_dedup_index(
        path,
        _docs(spark, [(51, "victim content v")]).select(
            content_hash("text").alias("content_hash")
        ),
        batch_id=1,
    )
    assert load_tombstones(spark, path) is not None  # NOT lifted
    disp = dedup_against_corpus_bloom(
        _docs(spark, [(900, "victim content v")]), None, "doc_id", "text",
        index=load_dedup_index(spark, path),
    )
    assert disp.collect()[0]["dup_of_corpus"] is False  # deletion holds
    # a GENUINE re-admission at a later epoch lifts as designed
    update_dedup_index(
        path,
        _docs(spark, [(52, "victim content v")]).select(
            content_hash("text").alias("content_hash")
        ),
        batch_id=2,
    )
    assert load_tombstones(spark, path) is None  # lifted
    disp2 = dedup_against_corpus_bloom(
        _docs(spark, [(901, "victim content v")]), None, "doc_id", "text",
        index=load_dedup_index(spark, path),
    )
    assert disp2.collect()[0]["dup_of_corpus"] is True  # suppresses again


def test_bloom_saturation_health_flags_and_rebuild_clears(spark, tmp_path):
    """Planted saturation: a deliberately tiny filter (m=512 bits) folds
    batches until expected_fpp crosses the threshold; the health trail
    flags, maybe_rebuild re-sizes m_bits from the hashes table, and the
    measured fill drops back under."""
    path = str(tmp_path / "bloom_sat")
    corpus = _docs(spark, [(i, f"sat a{i:04d}") for i in range(40)])
    write_dedup_index(corpus, "text", path, m_bits=512, k=4)
    for b in range(3):
        batch = _docs(
            spark, [(1000 + 100 * b + j, f"sat b{b}x{j:04d}") for j in range(60)]
        ).select(
            F.xxhash64("text").cast("string").alias("content_hash")
        )
        update_dedup_index(path, batch, batch_id=b)
    health = dedup_index_health(spark, path).collect()
    assert len(health) == 4  # baseline + 3 folds
    assert health[0]["seq"] == -1 and health[-1]["batch_id"] == 2
    assert health[-1]["fill_ratio"] > health[0]["fill_ratio"]  # monotone fills
    assert health[-1]["rebuild_flag"]  # 220 hashes into 512 bits saturates
    rebuilt, idx = maybe_rebuild_dedup_index(spark, path)
    assert rebuilt
    health2 = dedup_index_health(spark, path).collect()
    assert len(health2) == 1 and health2[0]["seq"] == -1
    assert not health2[0]["rebuild_flag"]  # re-sized filter is healthy
    assert health2[0]["m_bits"] > 512
    # rebuild preserved the epoch watermark: replayed folds stay no-ops
    n = idx.hashes.count()
    update_dedup_index(
        path,
        _docs(spark, [(1, "sat b0x0000")]).select(F.xxhash64("text").cast("string").alias("content_hash")),
        batch_id=2,
    )
    assert load_dedup_index(spark, path).hashes.count() == n


def test_bloom_maybe_rebuild_is_noop_when_healthy(spark, tmp_path):
    path = str(tmp_path / "bloom_healthy")
    corpus = _docs(spark, [(i, f"ok o{i:04d}") for i in range(20)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)
    rebuilt, _ = maybe_rebuild_dedup_index(spark, path)
    assert not rebuilt


# -------------------------------------------------------------- neardup


def _nd_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"{base} variant {i} " + " ".join(f"t{i}w{j}" for j in range(8))) for i in range(12)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_neardup_index_delete_suppresses_and_purges(spark, tmp_path):
    from lakehouse_spark_spark.operators.neardup import (
        compact_neardup_index,
        delete_from_neardup_index,
        load_neardup_index,
        neardup_candidates_against_index,
        write_neardup_index,
    )

    path = str(tmp_path / "nd_idx")
    corpus = _nd_corpus(spark)
    write_neardup_index(corpus, "doc_id", "text", path, n=3, num_hashes=32, bands=8)
    # the batch doc IS corpus doc 5's text → 1.0 candidate before delete
    batch = corpus.filter("doc_id = 5").select(F.lit(500).alias("doc_id"), "text")
    idx = load_neardup_index(spark, path)
    before = neardup_candidates_against_index(batch, idx, "doc_id", "text", max_bucket=3)
    assert any(r["corpus_id"] == 5 and r["est_jaccard"] == 1.0 for r in before.collect())

    delete_from_neardup_index(spark, path, [5])
    idx2 = load_neardup_index(spark, path)
    after = neardup_candidates_against_index(batch, idx2, "doc_id", "text", max_bucket=3)
    assert all(r["corpus_id"] != 5 for r in after.collect())  # rescue included
    want = _rows(after)

    sig_before = spark.read.parquet(
        os.path.join(path, "signatures")
    ).count()
    compact_neardup_index(spark, path)
    idx3 = load_neardup_index(spark, path)
    assert idx3.signatures.count() == sig_before - 1  # physically purged
    got = _rows(neardup_candidates_against_index(batch, idx3, "doc_id", "text", max_bucket=3))
    assert got == want


# ----------------------------------------------------------- mediaindex


def _media_fps(spark, n=40):
    rng = np.random.RandomState(11)
    rows = [(i, int(rng.randint(0, 2**62))) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id bigint, fp bigint")


def test_media_index_delete_suppresses_rescue_and_purges(spark, tmp_path):
    from lakehouse_spark_spark.operators.mediaindex import (
        compact_media_fp_index,
        delete_from_media_fp_index,
        load_media_fp_index,
        media_candidates_against_index,
        write_media_fp_index,
    )

    path = str(tmp_path / "mf_idx")
    corpus = _media_fps(spark)
    write_media_fp_index(corpus, "doc_id", "fp", path, blocks=8)
    # batch doc 900 carries corpus doc 9's exact fingerprint
    fp9 = corpus.filter("doc_id = 9").collect()[0]["fp"]
    batch = spark.createDataFrame([(900, fp9)], "doc_id bigint, fp bigint")
    idx = load_media_fp_index(spark, path)
    before = media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=6, max_bucket=5)
    assert any(r["corpus_id"] == 9 and r["hamming"] == 0 for r in before.collect())

    delete_from_media_fp_index(spark, path, ids=[9])
    idx2 = load_media_fp_index(spark, path)
    after = media_candidates_against_index(batch, idx2, "doc_id", "fp", max_hamming=6, max_bucket=5)
    assert all(r["corpus_id"] != 9 for r in after.collect())
    want = _rows(after)

    n_before = spark.read.parquet(os.path.join(path, "fingerprints")).count()
    compact_media_fp_index(spark, path)
    idx3 = load_media_fp_index(spark, path)
    assert idx3.fingerprints.count() == n_before - 1
    got = _rows(media_candidates_against_index(batch, idx3, "doc_id", "fp", max_hamming=6, max_bucket=5))
    assert got == want


def test_media_index_video_clip_delete_by_composite_keys(spark, tmp_path):
    from lakehouse_spark_spark.operators.mediaindex import (
        delete_from_media_fp_index,
        load_media_fp_index,
        video_candidates_against_index,
        write_media_fp_index,
    )

    stride = 1_000_000
    rng = np.random.RandomState(3)
    # two corpus clips (ids 1, 2) x 4 frames each, composite keys
    rows = [
        (c * stride + f, int(rng.randint(0, 2**62)))
        for c in (1, 2)
        for f in range(4)
    ]
    corpus = spark.createDataFrame(rows, "doc_id bigint, fp bigint")
    path = str(tmp_path / "vid_idx")
    write_media_fp_index(corpus, "doc_id", "fp", path, blocks=8, modality="video")
    # the probe clip replays clip 1's frames under clip id 7
    batch = spark.createDataFrame(
        [(7 * stride + f, fp) for (k, fp) in rows if k // stride == 1 for f in [k % stride]],
        "doc_id bigint, fp bigint",
    )
    idx = load_media_fp_index(spark, path)
    before = video_candidates_against_index(
        None, idx, max_hamming=6, min_matched_frames=3, frame_key_stride=stride,
        frame_fps=batch,
    )
    assert any(r["corpus_id"] == 1 for r in before.collect())
    delete_from_media_fp_index(spark, path, clip_ids=[1], frame_key_stride=stride)
    idx2 = load_media_fp_index(spark, path)
    after = video_candidates_against_index(
        None, idx2, max_hamming=6, min_matched_frames=3, frame_key_stride=stride,
        frame_fps=batch,
    )
    assert all(r["corpus_id"] != 1 for r in after.collect())


# ------------------------------------------------------------------ ann


def test_ann_index_delete_suppresses_and_purges(spark, tmp_path):
    from lakehouse_spark_spark.operators.annindex import (
        ann_index_topk,
        compact_ann_index,
        delete_from_ann_index,
        load_ann_index,
        write_ann_index,
    )

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(64)]
    corpus = spark.createDataFrame(rows, "doc_id bigint, vec array<double>")
    path = str(tmp_path / "ann_idx")
    write_ann_index(corpus, "doc_id", "vec", path, n_cells=4, m=2, k=4, panel_n=8)
    q = spark.createDataFrame([(9000, rows[10][1])], "doc_id bigint, vec array<double>")
    idx = load_ann_index(spark, path)
    before = ann_index_topk(idx, q, "vec", k=3, n_probe=4)
    assert any(r["neighbor_id"] == 10 for r in before.collect())

    delete_from_ann_index(spark, path, [10])
    idx2 = load_ann_index(spark, path)
    after = ann_index_topk(idx2, q, "vec", k=3, n_probe=4)
    assert all(r["neighbor_id"] != 10 for r in after.collect())
    want = _rows(after)

    compact_ann_index(spark, path)
    idx3 = load_ann_index(spark, path)
    raw = spark.read.parquet(idx3.cells_path)
    assert raw.filter("doc_id = 10").count() == 0  # physically purged
    got = _rows(ann_index_topk(idx3, q, "vec", k=3, n_probe=4))
    assert got == want


# ---------------------------------------------------------------- decon


def test_decon_index_delete_suppresses_benchmark(spark, tmp_path):
    from lakehouse_spark_spark.operators.contamination import (
        contamination_hits_against_index,
        delete_from_decon_index,
        load_decon_index,
        update_decon_index,
        write_decon_index,
    )

    evals = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "dc_idx")
    write_decon_index(evals, "doc_id", "text", path, n=4)
    update_decon_index(
        path,
        spark.createDataFrame(
            [(2, "one two three four five six seven eight nine")],
            "doc_id bigint, text string",
        ),
        "doc_id", "text", batch_id=1,
    )
    train = spark.createDataFrame(
        [(100, "contains alpha beta gamma delta splice"),
         (101, "contains one two three four splice")],
        "doc_id bigint, text string",
    )
    idx = load_decon_index(spark, path)
    before = {r["doc_id"] for r in contamination_hits_against_index(train, idx, "doc_id", "text").collect()}
    assert before == {100, 101}
    delete_from_decon_index(spark, path, [1])  # benchmark 1 retired
    idx2 = load_decon_index(spark, path)
    after = {r["doc_id"] for r in contamination_hits_against_index(train, idx2, "doc_id", "text").collect()}
    assert after == {101}


# ------------------------------------------------------- shared protocol


def test_maintain_pass_purges_media_tombstones_probe_stable(spark, tmp_path):
    """The out-of-band maintenance pass physically purges an id-keyed
    family's tombstoned rows (its compaction does the anti-join) and
    the post-delete probe is byte-identical before/after — deletion is
    a load-time fact, the purge only makes it durable."""
    from tools.maintain import maintain

    from lakehouse_spark_spark.operators.mediaindex import (
        delete_from_media_fp_index,
        load_media_fp_index,
        media_candidates_against_index,
    )
    from lakehouse_spark_spark.operators.mediaindex import write_media_fp_index

    base = str(tmp_path / "state")
    path = os.path.join(base, "media_family")
    corpus = _media_fps(spark, 30)
    write_media_fp_index(corpus, "doc_id", "fp", path, blocks=8)
    fp3 = corpus.filter("doc_id = 3").collect()[0]["fp"]
    batch = spark.createDataFrame([(903, fp3)], "doc_id bigint, fp bigint")
    delete_from_media_fp_index(spark, path, ids=[3])
    want = _rows(
        media_candidates_against_index(
            batch, load_media_fp_index(spark, path), "doc_id", "fp",
            max_hamming=6, max_bucket=5,
        )
    )
    n_raw = spark.read.parquet(os.path.join(path, "fingerprints")).count()
    actions = maintain(spark, base, target_mb=64)
    assert [a["family"] for a in actions] == ["mediaindex"]
    idx = load_media_fp_index(spark, path)
    import json as _json

    mf = _json.load(open(os.path.join(path, "manifest.json")))
    raw_after = spark.read.parquet(os.path.join(path, mf["fingerprints_dir"])).count()
    assert raw_after == n_raw - 1  # physically purged by the pass
    got = _rows(
        media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=6, max_bucket=5)
    )
    assert got == want
    assert os.path.isdir(tombstone_dir(path))  # id-keyed ledger retained


def test_ann_rebuild_after_delete_keeps_vector_out(spark, tmp_path):
    """A rebuild re-trains from the tombstone-FILTERED corpus: the
    deleted vector is absent from the re-encoded cells and from every
    post-rebuild search, and the ledger survives the rebuild (only the
    Bloom family may clear it)."""
    from lakehouse_spark_spark.operators.annindex import (
        ann_index_topk,
        delete_from_ann_index,
        load_ann_index,
        rebuild_ann_index,
        write_ann_index,
    )

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(48)]
    corpus = spark.createDataFrame(rows, "doc_id bigint, vec array<double>")
    path = str(tmp_path / "ann_rb")
    write_ann_index(corpus, "doc_id", "vec", path, n_cells=4, m=2, k=4, panel_n=8)
    delete_from_ann_index(spark, path, [7])
    rebuilt = rebuild_ann_index(spark, path, n_cells=4)
    raw = spark.read.parquet(rebuilt.cells_path)
    assert raw.filter("doc_id = 7").count() == 0  # gone from the re-encode
    q = spark.createDataFrame([(9000, rows[7][1])], "doc_id bigint, vec array<double>")
    got = ann_index_topk(load_ann_index(spark, path), q, "vec", k=3, n_probe=4)
    assert all(r["neighbor_id"] != 7 for r in got.collect())
    assert os.path.isdir(tombstone_dir(path))


def test_add_tombstones_auto_epoch_and_exactly_once(spark, tmp_path):
    base = str(tmp_path / "fam")
    os.makedirs(base)
    ids = spark.createDataFrame([(1,), (2,)], "__id bigint")
    assert add_tombstones(ids, base) is True  # epoch 0
    assert add_tombstones(ids, base) is True  # auto epoch 1 (new dir)
    assert add_tombstones(ids, base, batch_id=1) is False  # replay skipped
    tomb = load_tombstones(spark, base)
    assert _rows(tomb) == [(1,), (2,)]  # distinct across epochs
    assert load_tombstones(spark, str(tmp_path / "nope")) is None


def test_media_ingest_stream_delete_readmit_lifecycle(spark, tmp_path):
    """The takedown lifecycle THROUGH the streaming loop: epoch 0 folds
    novel assets; a takedown lands between epochs; epoch 1's re-upload
    of the deleted content (new id — the ingest id contract) is
    admitted as novel and folded; epoch 2's further copy is caught as a
    dup of the RE-UPLOAD. Redraining all epochs afterward leaves the
    kept ledger byte-identical (exactly-once) and the fold watermarks
    no-op — deletion does not disturb the replay contracts.

    r15 (deliberate pin update — the r14 verdict's lead item): the
    takedown now reaches CORPUS MEMBERSHIP. The raw ledger parquet
    still lists the victim until the purge (append-only history), but
    the canonical read (sinks.read_kept_ledger, routed by the owner
    sidecar the loop records) hides it immediately, and
    purge_kept_ledger physically removes it at compaction — with the
    exactly-once replay contract intact across the rewrite."""
    from lakehouse_spark_spark.operators.mediaindex import (
        delete_from_media_fp_index,
        load_media_fp_index,
    )
    from lakehouse_spark_spark.sources.sinks import (
        kept_ledger_owners,
        purge_kept_ledger,
        read_kept_ledger,
    )
    from lakehouse_spark_spark.streaming.ingest import media_ingest_foreach_batch

    path, kept = str(tmp_path / "st_idx"), str(tmp_path / "st_kept")
    from lakehouse_spark_spark.operators.mediaindex import write_media_fp_index

    write_media_fp_index(
        _media_fps(spark, 20), "doc_id", "fp", path, blocks=8
    )
    fn = media_ingest_foreach_batch(path, "doc_id", "fp", kept, max_hamming=6)
    special = 0x123456789AB
    b0 = spark.createDataFrame([(500, special), (501, 77777)], "doc_id bigint, fp bigint")
    fn(b0, 0)
    assert sorted(r["doc_id"] for r in spark.read.parquet(kept).collect()) == [500, 501]
    # the loop recorded who governs this ledger
    assert kept_ledger_owners(kept) == [
        {"index_path": path, "ledger_col": "doc_id", "tombstone_col": "__id"}
    ]
    # no tombstones → the canonical read is the plain read
    assert sorted(r["doc_id"] for r in read_kept_ledger(spark, kept).collect()) == [500, 501]

    delete_from_media_fp_index(spark, path, ids=[500])
    b1 = spark.createDataFrame([(600, special)], "doc_id bigint, fp bigint")  # re-upload
    fn(b1, 1)
    raw_ids = sorted(r["doc_id"] for r in spark.read.parquet(kept).collect())
    assert raw_ids == [500, 501, 600]  # raw history until the purge
    kept_ids = sorted(r["doc_id"] for r in read_kept_ledger(spark, kept).collect())
    assert kept_ids == [501, 600]  # takedown reaches membership (r15)

    b2 = spark.createDataFrame([(700, special)], "doc_id bigint, fp bigint")  # future copy
    fn(b2, 2)
    kept_ids2 = sorted(r["doc_id"] for r in read_kept_ledger(spark, kept).collect())
    assert kept_ids2 == [501, 600]  # caught as dup of the re-upload (600)

    # physical retraction rides the ledger compaction; the canonical
    # read is unchanged before vs after (purge only makes it durable)
    purge_kept_ledger(spark, kept)
    assert sorted(r["doc_id"] for r in spark.read.parquet(kept).collect()) == [501, 600]
    assert sorted(r["doc_id"] for r in read_kept_ledger(spark, kept).collect()) == kept_ids2
    assert kept_ledger_owners(kept) != []  # sidecar survives the rewrite

    # redrain every epoch: ledger byte-identical (the compaction floor
    # keeps fully-purged epochs committed), index row count stable
    n_fp = load_media_fp_index(spark, path).fingerprints.count()
    for i, b in enumerate((b0, b1, b2)):
        fn(b, i)
    assert sorted(r["doc_id"] for r in read_kept_ledger(spark, kept).collect()) == kept_ids2
    assert sorted(r["doc_id"] for r in spark.read.parquet(kept).collect()) == [501, 600]
    assert load_media_fp_index(spark, path).fingerprints.count() == n_fp


def test_ids_to_frame_respects_native_types(spark):
    """r15 ADVICE: the old unconditional cast-to-long turned string ids
    into all-NULL tombstones — which no anti-join ever matches, so the
    takedown silently no-opped while reporting success."""
    from lakehouse_spark_spark.sources.sinks import ids_to_frame

    str_df = spark.createDataFrame([("a-1",), ("b-2",)], "k string")
    out = ids_to_frame(spark, str_df, "__id")
    assert dict(out.dtypes)["__id"] == "string"
    assert sorted(r["__id"] for r in out.collect()) == ["a-1", "b-2"]
    # an EXPLICIT lossy cast raises instead of recording a dead ledger
    with pytest.raises(ValueError, match="nulls real id"):
        ids_to_frame(spark, str_df, "__id", dtype="long")
    # iterables infer: strings stay strings, ints stay longs
    assert dict(ids_to_frame(spark, ["x", "y"], "__id").dtypes)["__id"] == "string"
    assert dict(ids_to_frame(spark, [1, 2], "__id").dtypes)["__id"] == "bigint"


def test_tombstone_ledger_stats_purge_watermark_arithmetic(spark, tmp_path):
    """The audit surface's epoch/purge arithmetic (r15): a second
    deletion AFTER a purge flips fully_purged back to False until the
    next compaction catches up."""
    from lakehouse_spark_spark.operators.mediaindex import (
        compact_media_fp_index,
        delete_from_media_fp_index,
        write_media_fp_index,
    )
    from lakehouse_spark_spark.sources.sinks import tombstone_ledger_stats

    path = str(tmp_path / "audit_idx")
    write_media_fp_index(_media_fps(spark, 25), "doc_id", "fp", path, blocks=8)
    s0 = tombstone_ledger_stats(spark, path)
    assert s0["active_tombstones"] == 0 and s0["fully_purged"] is True

    delete_from_media_fp_index(spark, path, ids=[3])
    s1 = tombstone_ledger_stats(spark, path)
    assert s1["active_tombstones"] == 1 and s1["max_epoch"] == 0
    assert s1["purged_through_epoch"] is None and s1["fully_purged"] is False

    compact_media_fp_index(spark, path)
    s2 = tombstone_ledger_stats(spark, path)
    assert s2["purged_through_epoch"] == 0 and s2["fully_purged"] is True

    delete_from_media_fp_index(spark, path, ids=[7])  # epoch 1, post-purge
    s3 = tombstone_ledger_stats(spark, path)
    assert s3["active_tombstones"] == 2 and s3["max_epoch"] == 1
    assert s3["purged_through_epoch"] == 0 and s3["fully_purged"] is False

    compact_media_fp_index(spark, path)
    s4 = tombstone_ledger_stats(spark, path)
    assert s4["purged_through_epoch"] == 1 and s4["fully_purged"] is True


def test_takedown_orchestrator_one_call_reaches_every_family(spark, tmp_path):
    """r15 (the r14 verdict's Missing #2): ONE tools/maintain.takedown
    call resolves every family under the base dir and tombstones the
    asset in all of them — including the streaming kept ledger, which
    needs no tombstone of its own (the owner sidecar routes the owning
    index's ledger into the canonical read)."""
    from tools.maintain import takedown

    from lakehouse_spark_spark.operators.annindex import (
        ann_index_topk,
        load_ann_index,
        write_ann_index,
    )
    from lakehouse_spark_spark.operators.bloom import (
        dedup_against_corpus_bloom as bloom_probe,
    )
    from lakehouse_spark_spark.operators.bloom import load_dedup_index as load_bloom
    from lakehouse_spark_spark.operators.bloom import write_dedup_index as write_bloom
    from lakehouse_spark_spark.operators.contamination import (
        contamination_hits_against_index,
        load_decon_index,
        write_decon_index,
    )
    from lakehouse_spark_spark.operators.mediaindex import (
        load_media_fp_index,
        media_candidates_against_index,
        write_media_fp_index,
    )
    from lakehouse_spark_spark.operators.neardup import (
        load_neardup_index,
        neardup_candidates_against_index,
        write_neardup_index,
    )
    from lakehouse_spark_spark.sources.sinks import read_kept_ledger
    from lakehouse_spark_spark.streaming.ingest import media_ingest_foreach_batch

    base = str(tmp_path / "estate")
    os.makedirs(base)
    v_id, v_text = 5, "the victim document content alpha beta gamma delta"
    docs = _docs(
        spark,
        [(i, f"corpus doc c{i:04d} " + " ".join(f"w{i}x{j}" for j in range(6)))
         for i in range(12) if i != v_id] + [(v_id, v_text)],
    )
    write_bloom(docs, "text", os.path.join(base, "bloom"), m_bits=1 << 14, k=5)
    write_neardup_index(docs, "doc_id", "text", os.path.join(base, "neardup"),
                        n=3, num_hashes=32, bands=8)
    rng = np.random.RandomState(2)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(6)]) for i in range(24)],
        "doc_id bigint, vec array<double>",
    )
    write_ann_index(vecs, "doc_id", "vec", os.path.join(base, "ann"),
                    n_cells=4, m=2, k=4, panel_n=8)
    bench = spark.createDataFrame(
        [(v_id, "uno dos tres cuatro cinco seis siete ocho nueve")],
        "doc_id bigint, text string",
    )
    write_decon_index(bench, "doc_id", "text", os.path.join(base, "decon"), n=4)
    # the media family ingests the victim THROUGH the loop so the kept
    # ledger (corpus membership) lists it
    mpath, kept = os.path.join(base, "media"), os.path.join(base, "media_kept")
    write_media_fp_index(_media_fps(spark, 10), "doc_id", "fp", mpath, blocks=8)
    v_fp = 0x0AB54A98CE
    media_ingest_foreach_batch(mpath, "doc_id", "fp", kept, max_hamming=6)(
        spark.createDataFrame([(v_id, v_fp), (200, 31415926535)],
                              "doc_id bigint, fp bigint"),
        0,
    )

    actions = takedown(
        spark, base, doc_ids=[v_id], texts=[v_text], eval_ids=[v_id]
    )
    by_family = {a["family"]: a for a in actions}
    for fam in ("bloom", "neardup", "mediaindex", "ann", "decon"):
        assert by_family[fam]["tombstoned"] is True, fam
    assert by_family["kept_ledger"]["retraction_live"] is True
    assert by_family["kept_ledger"]["governed_by"] == [mpath]

    # every probe surface returns zero for the victim — one call did it
    assert (
        bloom_probe(
            spark.createDataFrame([(900, v_text)], "doc_id bigint, text string"),
            None, "doc_id", "text", index=load_bloom(spark, os.path.join(base, "bloom")),
        ).filter("dup_of_corpus").count() == 0
    )
    assert (
        neardup_candidates_against_index(
            spark.createDataFrame([(901, v_text)], "doc_id bigint, text string"),
            load_neardup_index(spark, os.path.join(base, "neardup")),
            "doc_id", "text", max_bucket=10,
        ).filter(F.col("corpus_id") == v_id).count() == 0
    )
    assert (
        media_candidates_against_index(
            spark.createDataFrame([(902, v_fp)], "doc_id bigint, fp bigint"),
            load_media_fp_index(spark, mpath), "doc_id", "fp",
            max_hamming=6, max_bucket=10,
        ).filter(F.col("corpus_id") == v_id).count() == 0
    )
    q = vecs.filter(F.col("doc_id") == v_id).select(
        F.lit(903).alias("doc_id"), "vec"
    )
    assert (
        ann_index_topk(load_ann_index(spark, os.path.join(base, "ann")), q, "vec",
                       k=3, n_probe=4)
        .filter(F.col("neighbor_id") == v_id).count() == 0
    )
    assert (
        contamination_hits_against_index(
            spark.createDataFrame(
                [(904, "uno dos tres cuatro cinco spliced")],
                "doc_id bigint, text string",
            ),
            load_decon_index(spark, os.path.join(base, "decon")), "doc_id", "text",
        ).count() == 0
    )
    # and the corpus-membership record no longer lists the victim
    assert sorted(
        r["doc_id"] for r in read_kept_ledger(spark, kept).collect()
    ) == [200]


def test_maintain_pass_physically_purges_owned_kept_ledger(spark, tmp_path):
    """The maintenance pass recognizes a kept ledger's owner sidecar
    and rides the tombstone purge on the ledger compaction (r15):
    after the pass the raw parquet no longer lists the victim, and the
    replay contract survives (the floor covers the purged epoch)."""
    from tools.maintain import maintain

    from lakehouse_spark_spark.operators.mediaindex import (
        delete_from_media_fp_index,
        write_media_fp_index,
    )
    from lakehouse_spark_spark.sources.sinks import append_once_parquet
    from lakehouse_spark_spark.streaming.ingest import media_ingest_foreach_batch

    base = str(tmp_path / "state")
    mpath, kept = os.path.join(base, "media_idx"), os.path.join(base, "media_kept")
    write_media_fp_index(_media_fps(spark, 12), "doc_id", "fp", mpath, blocks=8)
    fn = media_ingest_foreach_batch(mpath, "doc_id", "fp", kept, max_hamming=6)
    fn(spark.createDataFrame([(300, 111222333444), (301, 555666777888)],
                             "doc_id bigint, fp bigint"), 0)
    delete_from_media_fp_index(spark, mpath, ids=[300])

    actions = maintain(spark, base, target_mb=64)
    by = {a["family"]: a for a in actions}
    assert by["ledger"]["owner_purge"] is True
    assert sorted(r["doc_id"] for r in spark.read.parquet(kept).collect()) == [301]
    # replay of the purged epoch stays a committed no-op (floor)
    replay = spark.createDataFrame([(300, 111222333444)], "doc_id bigint, fp bigint")
    assert append_once_parquet(replay, kept, 0) is False


def test_maintain_runner_rebuilds_bloom_with_tombstones(spark, tmp_path):
    """r15 (deliberate pin update over r14): the pass still forces the
    bits remedy for unmaterialized tombstones, but the ledger is now
    RETAINED (the replay-resurrection fix) and the rebuilt-through
    watermark stops the next pass from rebuilding in a loop."""
    from tools.maintain import maintain

    base = str(tmp_path / "state")
    path = os.path.join(base, "bloom_family")
    corpus = _docs(spark, [(i, f"mt m{i:05d}") for i in range(15)])
    write_dedup_index(corpus, "text", path, m_bits=1 << 14, k=5)
    delete_from_dedup_index(path, _docs(spark, [(6, "mt m00006")]), text_col="text")
    actions = maintain(spark, base, target_mb=64)
    rec = next(a for a in actions if a["family"] == "bloom")
    assert rec["rebuilt"] is True
    # the rebuild OWNS the compaction — the r14 shape ran a standalone
    # compact first and rewrote the hash table twice (r15 ADVICE)
    assert "hash_files" not in rec
    assert os.path.isdir(tombstone_dir(path))  # ledger retained (r15)
    idx = load_dedup_index(spark, path)
    assert idx.hashes.count() == 14
    disp = {
        r["doc_id"]: r["dup_of_corpus"]
        for r in dedup_against_corpus_bloom(
            _docs(spark, [(70, "mt m00006"), (71, "mt m00007")]),
            None, "doc_id", "text", index=idx,
        ).collect()
    }
    assert disp == {70: False, 71: True}
    # second pass: the rebuilt-through watermark proves the ledger's
    # epochs are materialized — no rebuild loop
    actions2 = maintain(spark, base, target_mb=64)
    rec2 = next(a for a in actions2 if a["family"] == "bloom")
    assert rec2["rebuilt"] is False
    assert "hash_files" in rec2  # the ordinary compact ran instead
