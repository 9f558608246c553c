"""Probe-side skew observability + the size-aware hot-set broadcast of
the persisted probes (bound from footer-derived row counts), + probe
contract checks (single-block radius warning, video-loop quarantine,
merge_history on a negative-only ledger)."""

from __future__ import annotations

import os
import warnings

import numpy as np
import pyspark.sql.functions as F
import pytest

from lakehouse_spark_spark.operators.mediaindex import (
    load_media_fp_index,
    media_candidates_against_index,
    media_index_skew_health,
    media_probe_skew_stats,
    record_probe_skew,
    write_media_fp_index,
)
from lakehouse_spark_spark.operators.neardup import HOT_BROADCAST_CAP_KEYS, _hot_hint


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fps(spark, seed, n, hot_cluster=0):
    """Random 62-bit fingerprints + an optional identical-fp hot
    cluster (ids 5000+) — the solid-color-frame shape."""
    rng = np.random.RandomState(seed)
    rows = [(i, int(rng.randint(0, 2**62))) for i in range(n)]
    rows += [(5000 + j, 0x0F0F0F0F) for j in range(hot_cluster)]
    return spark.createDataFrame(rows, "doc_id bigint, fp bigint")


# ------------------------------------------------------ skew measurement


def test_media_probe_skew_stats_zero_on_clean_and_nonzero_on_hot(spark, tmp_path):
    clean_corpus = _fps(spark, 1, 40)
    idx_clean = write_media_fp_index(
        clean_corpus, "doc_id", "fp", str(tmp_path / "clean"), blocks=8
    )
    batch = _fps(spark, 2, 10)
    z = media_probe_skew_stats(batch, idx_clean, "doc_id", "fp", max_bucket=5)
    assert z == {
        "max_bucket": 5, "hot_buckets": 0, "skipped_corpus_rows": 0,
        "batch_rows_in_hot": 0, "rescue_pairs": 0,
    }

    hot_corpus = _fps(spark, 3, 20, hot_cluster=30)  # 30 identical fps
    idx_hot = write_media_fp_index(
        hot_corpus, "doc_id", "fp", str(tmp_path / "hot"), blocks=8
    )
    # the batch carries one member of the hot cluster
    hb = spark.createDataFrame([(9000, 0x0F0F0F0F)], "doc_id bigint, fp bigint")
    s = media_probe_skew_stats(hb, idx_hot, "doc_id", "fp", max_bucket=5)
    assert s["hot_buckets"] >= 8          # all 8 blocks of the cluster fp are hot
    assert s["skipped_corpus_rows"] >= 8 * 30
    assert s["batch_rows_in_hot"] == 8    # every batch block lands in a hot bucket
    assert s["rescue_pairs"] == 1         # the exact-fp rescue still flags it
    # and the guarded probe output agrees with the rescue contract:
    # the cap hides the bucket, the rescue surfaces exactly one pair
    out = media_candidates_against_index(hb, idx_hot, "doc_id", "fp", max_hamming=6, max_bucket=5)
    assert out.count() == 1


def test_record_and_read_skew_trail(spark, tmp_path):
    corpus = _fps(spark, 4, 10)
    write_media_fp_index(corpus, "doc_id", "fp", str(tmp_path / "t"), blocks=8)
    path = str(tmp_path / "t")
    s = {"max_bucket": 5, "hot_buckets": 0, "skipped_corpus_rows": 0,
         "batch_rows_in_hot": 0, "rescue_pairs": 0}
    record_probe_skew(path, s, batch_id=0)
    record_probe_skew(path, {**s, "hot_buckets": 2, "skipped_corpus_rows": 64}, batch_id=1)
    rows = media_index_skew_health(spark, path).collect()
    assert [r["batch_id"] for r in rows] == [0, 1]
    assert rows[1]["hot_buckets"] == 2 and rows[1]["skipped_corpus_rows"] == 64
    assert rows[0]["rescue_pairs"] == 0


def test_media_ingest_loop_records_skew_when_guarded(spark, tmp_path):
    from lakehouse_spark_spark.streaming.ingest import media_ingest_foreach_batch

    corpus = _fps(spark, 5, 20)
    path = str(tmp_path / "loop_idx")
    write_media_fp_index(corpus, "doc_id", "fp", path, blocks=8)
    fn = media_ingest_foreach_batch(
        path, "doc_id", "fp", str(tmp_path / "kept"), max_hamming=6, max_bucket=5
    )
    fn(_fps(spark, 6, 5), 0)
    rows = media_index_skew_health(spark, path).collect()
    assert len(rows) == 1 and rows[0]["batch_id"] == 0
    assert rows[0]["hot_buckets"] == 0  # clean fixture: the cap did nothing
    # unguarded loop records nothing
    path2 = str(tmp_path / "loop_idx2")
    write_media_fp_index(corpus, "doc_id", "fp", path2, blocks=8)
    fn2 = media_ingest_foreach_batch(path2, "doc_id", "fp", str(tmp_path / "kept2"))
    fn2(_fps(spark, 6, 5), 0)
    assert media_index_skew_health(spark, path2).count() == 0


def test_neardup_probe_skew_stats_boilerplate_cluster(spark, tmp_path):
    from lakehouse_spark_spark.operators.neardup import (
        load_neardup_index,
        minhash_signatures,
        neardup_probe_skew_stats,
        write_neardup_index,
    )

    boiler = "all rights reserved license header do not remove this notice ever"
    rows = [(i, boiler) for i in range(30)] + [
        (100 + i, f"organic doc o{i} " + " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(5)
    ]
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "nd")
    write_neardup_index(corpus, "doc_id", "text", path, n=3, num_hashes=32, bands=8)
    idx = load_neardup_index(spark, path)
    batch = spark.createDataFrame([(900, boiler)], "doc_id bigint, text string")
    sigs = minhash_signatures(batch, "doc_id", "text", n=3, num_hashes=32)
    s = neardup_probe_skew_stats(idx, 10, signatures=sigs, id_col="doc_id")
    assert s["hot_buckets"] >= 8          # the cluster saturates all 8 bands
    assert s["skipped_corpus_rows"] >= 8 * 30
    assert s["batch_rows_in_hot"] == 8
    assert s["rescue_pairs"] == 1         # exact-signature rescue


# ----------------------------------------- size-aware hot-set broadcast


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_hot_hint_is_size_aware(spark):
    hot = spark.createDataFrame([(1, 2)], "block int, block_val bigint")
    # small bound (or unknown count) → broadcast hint
    assert "hint" in _analyzed(_hot_hint(hot, 1000, 8, 10)).lower()
    assert "hint" in _analyzed(_hot_hint(hot, None, 8, 10)).lower()
    # bound past the cap → no hint (AQE decides at runtime)
    big = (HOT_BROADCAST_CAP_KEYS + 1) * 10 // 8 + 1
    assert "hint" not in _analyzed(_hot_hint(hot, big, 8, 10)).lower()


def test_media_probe_hot_antijoin_broadcasts_at_gated_scale(spark, tmp_path):
    """The r13 verdict's plan assertion: the persisted probe's hot
    anti-join carries the broadcast hint (its bound comes FREE from the
    index footers — no count job anywhere in the probe)."""
    corpus = _fps(spark, 7, 40)
    idx = write_media_fp_index(corpus, "doc_id", "fp", str(tmp_path / "b"), blocks=8)
    assert idx.approx_rows == 40  # footer-derived, no Spark job
    out = media_candidates_against_index(
        _fps(spark, 8, 5), idx, "doc_id", "fp", max_hamming=6, max_bucket=5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    # and outputs are identical to an index loaded without footer info
    no_rows = idx._replace(approx_rows=None)
    assert _rows(out) == _rows(
        media_candidates_against_index(
            _fps(spark, 8, 5), no_rows, "doc_id", "fp", max_hamming=6, max_bucket=5
        )
    )


# ------------------------------------------------- r13 ADVICE contracts


def test_media_probe_warns_on_overwide_single_block_radius(spark, tmp_path):
    corpus = _fps(spark, 10, 10)
    idx = write_media_fp_index(corpus, "doc_id", "fp", str(tmp_path / "w"), blocks=4)
    batch = _fps(spark, 11, 3)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=6)
        assert any("single-block geometry" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=3)
        assert not w


def test_video_loop_quarantines_all_undecodable_clip(spark, tmp_path):
    """Pinned ADVICE contract: a clip whose every frame is undecodable
    has zero signal — it is neither flagged nor admitted to the kept
    ledger (matching the stills loop's explicit NULL-fp filter), while
    decodable novel clips in the same batch are admitted."""
    from tests.test_mediaindex import _clip, _video_scenes

    from lakehouse_spark_spark.operators.multimodal import video_frame_fingerprints
    from lakehouse_spark_spark.streaming.ingest import video_ingest_foreach_batch

    corpus = spark.createDataFrame(
        [(i, _clip(_video_scenes(i))) for i in range(2)], "doc_id bigint, media binary"
    )
    idx_path, kept = str(tmp_path / "vq_idx"), str(tmp_path / "vq_kept")
    write_media_fp_index(
        video_frame_fingerprints(corpus, every_n=1), "doc_id", "fp",
        idx_path, blocks=8, modality="video-frames",
    )
    batch = spark.createDataFrame(
        [(50, _clip(_video_scenes(50))), (51, bytearray(b"not a framestack"))],
        "doc_id bigint, media binary",
    )
    fn = video_ingest_foreach_batch(idx_path, "doc_id", "media", kept, every_n=1)
    fn(batch, 0)
    assert sorted(r["doc_id"] for r in spark.read.parquet(kept).collect()) == [50]


def test_merge_history_collapses_negative_only_ledger(spark, tmp_path):
    """Pinned ADVICE fix: merge_history on a ledger whose only
    partition is the adopted batch_id=-1 must actually collapse it to
    -2 (the manifest's history_merged claim has to match the layout)."""
    import json

    from lakehouse_spark_spark.sources.sinks import (
        append_once_parquet,
        compact_ledger_parquet,
    )

    base = str(tmp_path / "led")
    os.makedirs(base)
    # legacy flat ledger → adopted as batch_id=-1 by the first append
    spark.createDataFrame([(1,), (2,)], "v bigint").write.mode("append").parquet(base)
    df = spark.createDataFrame([(3,)], "v bigint")
    # trigger adoption without committing a real epoch: epoch 0 write,
    # then remove it so only the adopted -1 partition remains
    append_once_parquet(df, base, 0)
    import shutil

    shutil.rmtree(os.path.join(base, "batch_id=0"))
    compact_ledger_parquet(spark, base, merge_history=True)
    names = {n for n in os.listdir(base) if n.startswith("batch_id=")}
    assert names == {"batch_id=-2"}
    mf = json.load(open(os.path.join(base, ".ledger_manifest.json")))
    assert mf["history_merged"] is True
    got = spark.read.parquet(base)
    assert sorted(r["v"] for r in got.collect()) == [1, 2]
    assert set(r["orig_batch_id"] for r in got.collect()) == {-1}
