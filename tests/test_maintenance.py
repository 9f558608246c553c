"""Streaming dedup and parquet compaction maintenance ops."""

from __future__ import annotations

import glob
import shutil
import tempfile

from pyspark.sql import functions as F


def test_dedup_stream_drops_duplicates(spark):
    from lakehouse_spark_spark.streaming.events import dedup_stream
    from lakehouse_spark_spark.streaming.stateful import SESSION_OUTPUT_SCHEMA  # noqa: F401 (import path smoke)

    src = tempfile.mkdtemp(prefix="dupstream_")
    ck = tempfile.mkdtemp(prefix="dupck_")
    try:
        base = spark.createDataFrame(
            [(i % 5, "2024-01-01 10:00:%02d" % (i % 30), float(i)) for i in range(50)],
            ["event_id", "ts_s", "value"],
        ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
        base.write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double").parquet(src)
        )
        from lakehouse_spark_spark.streaming.events import run_available_now

        # append mode: the right drain mode for non-aggregating streams
        # ('complete' would raise AnalysisException here)
        run_available_now(dedup_stream(stream, ["event_id"]), "dedup_stream_t", ck, output_mode="append")
        out = spark.table("dedup_stream_t")
        assert out.count() == 5  # one survivor per event_id
        assert out.select("event_id").distinct().count() == 5
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def test_compact_parquet_reduces_file_count(spark):
    from lakehouse_spark_spark.sources.sinks import compact_parquet

    d = tempfile.mkdtemp(prefix="compact_")
    path = f"{d}/t"
    try:
        # simulate a small-files mess: 32 tiny part files
        spark.range(10_000).repartition(32).write.mode("overwrite").parquet(path)
        before = len(glob.glob(f"{path}/part-*.parquet"))
        assert before == 32
        n = compact_parquet(spark, path, target_file_mb=256)
        after = len(glob.glob(f"{path}/part-*.parquet"))
        assert n == 1 and after == 1
        assert spark.read.parquet(path).count() == 10_000  # no data loss
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_ledger_preserves_exactly_once(spark):
    """r12 (r11 verdict What's-wrong #1): the exact sequence that used
    to corrupt an exactly-once ledger — fold 3 epochs, compact, redrain
    an old epoch — must leave the ledger byte-equal, readable, and the
    replay a no-op; a fresh epoch after compaction still commits; the
    flat compactor refuses ledgers outright."""
    import os

    from lakehouse_spark_spark.sources.sinks import (
        append_once_parquet,
        compact_ledger_parquet,
        compact_parquet,
    )

    d = tempfile.mkdtemp(prefix="ledgercompact_")
    led = f"{d}/ledger"
    try:
        for e in range(3):
            df = spark.range(e * 10, e * 10 + 10).select(
                F.col("id"), F.lit(f"epoch{e}").alias("tag")
            )
            assert append_once_parquet(df, led, e) is True
        before = sorted(
            (r["id"], r["tag"], r["batch_id"]) for r in spark.read.parquet(led).collect()
        )
        # the flat compactor would flatten the partition dirs (erasing
        # the per-epoch replay check, and the next append would refuse
        # the root-level part files) — it must refuse, loudly
        try:
            compact_parquet(spark, led)
            raise AssertionError("compact_parquet accepted a ledger")
        except ValueError as ex:
            assert "compact_ledger_parquet" in str(ex)
        n_files = compact_ledger_parquet(spark, led)
        assert n_files >= 1
        # (b) still readable, with batch_id still the partition column
        after = sorted(
            (r["id"], r["tag"], r["batch_id"]) for r in spark.read.parquet(led).collect()
        )
        assert after == before  # (a) row set unchanged
        # (c) replaying an already-committed epoch is STILL a no-op —
        # via the per-epoch dir AND, belt-and-braces, the floor manifest
        poison = spark.range(900, 905).select(F.col("id"), F.lit("REPLAY").alias("tag"))
        assert append_once_parquet(poison, led, 1) is False
        assert sorted(
            (r["id"], r["tag"], r["batch_id"]) for r in spark.read.parquet(led).collect()
        ) == before
        # floor alone suffices: remove epoch 1's dir (simulating a future
        # compaction that merges partitions) — the floor still skips it
        shutil.rmtree(os.path.join(led, "batch_id=1"))
        assert append_once_parquet(poison, led, 1) is False
        # a NEW epoch past the floor still commits
        assert append_once_parquet(poison, led, 3) is True
        assert spark.read.parquet(led).filter("batch_id = 3").count() == 5
        # compacting again (now with a prior floor + a gap) keeps the
        # floor monotone and the data intact
        compact_ledger_parquet(spark, led)
        assert append_once_parquet(poison, led, 2) is False  # under the floor
        assert spark.read.parquet(led).count() == 25
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ledger_history_merge_preserves_provenance_and_replay(spark):
    """r13 (the r12 design note's licensed follow-on): merge_history
    collapses committed epochs into ONE batch_id=-2 partition with
    per-row provenance in orig_batch_id — the object-store dir-listing
    fix. Contract: value set unchanged with exact provenance, replay of
    merged epochs still a no-op (floor), new epochs commit WITH the
    provenance column (uniform schema), a second merge folds them in
    keeping their original epoch ids, and the dir count actually
    drops."""
    import os

    from lakehouse_spark_spark.sources.sinks import (
        append_once_parquet,
        compact_ledger_parquet,
    )

    d = tempfile.mkdtemp(prefix="ledgermerge_")
    led = f"{d}/ledger"
    try:
        for e in range(5):
            df = spark.range(e * 10, e * 10 + 10).select(
                F.col("id"), F.lit(f"epoch{e}").alias("tag")
            )
            assert append_once_parquet(df, led, e) is True
        want = sorted(
            (r["id"], r["tag"], r["batch_id"]) for r in spark.read.parquet(led).collect()
        )
        compact_ledger_parquet(spark, led, merge_history=True)
        dirs = [n for n in os.listdir(led) if n.startswith("batch_id=")]
        assert dirs == ["batch_id=-2"]  # 5 epoch dirs -> 1 history dir
        after = sorted(
            (r["id"], r["tag"], r["orig_batch_id"])
            for r in spark.read.parquet(led).collect()
        )
        assert after == want  # same rows, provenance moved to orig_batch_id
        assert {r["batch_id"] for r in spark.read.parquet(led).collect()} == {-2}
        # replay of every merged epoch: floor-only no-op (dirs are gone)
        poison = spark.range(900, 905).select(F.col("id"), F.lit("REPLAY").alias("tag"))
        for e in range(5):
            assert append_once_parquet(poison, led, e) is False
        # a new epoch commits WITH the provenance column (uniform schema)
        fresh = spark.range(50, 60).select(F.col("id"), F.lit("epoch5").alias("tag"))
        assert append_once_parquet(fresh, led, 5) is True
        rows = spark.read.parquet(led).collect()
        assert all(r["orig_batch_id"] is not None for r in rows)
        live = [(r["id"], r["batch_id"], r["orig_batch_id"]) for r in rows if r["batch_id"] == 5]
        assert len(live) == 10 and all(o == 5 for _i, _b, o in live)
        # plain (non-merge) recompaction keeps the merged layout + flag
        compact_ledger_parquet(spark, led)
        assert append_once_parquet(poison, led, 5) is False
        assert append_once_parquet(fresh.withColumnRenamed("tag", "tag").limit(3), led, 6) is True
        # second merge folds epoch 5 into history with ITS id preserved
        compact_ledger_parquet(spark, led, merge_history=True)
        rows = spark.read.parquet(led).collect()
        assert sorted({r["batch_id"] for r in rows}) == [-2]
        assert sorted({r["orig_batch_id"] for r in rows}) == [0, 1, 2, 3, 4, 5, 6]
        assert len([r for r in rows if r["orig_batch_id"] == 5]) == 10
    finally:
        shutil.rmtree(d, ignore_errors=True)
