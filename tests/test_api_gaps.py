"""Coverage for public APIs not exercised elsewhere: tumbling_agg,
load_star, write_single_csv, partitioned write_parquet."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_tumbling_agg_generic(spark):
    from lakehouse_spark_spark.operators.windows import tumbling_agg
    from lakehouse_spark_spark.sources.loaders import load_table

    ev = load_table(spark, SF_SMALL, "events")
    out = tumbling_agg(ev, "ts", "1 day", ["event_type"], [F.count(F.lit(1)).alias("n")])
    assert set(out.columns) == {"window_start", "event_type", "n"}
    # totals preserved across windows
    assert out.agg(F.sum("n")).collect()[0][0] == ev.count()


def test_load_star_all_tables(spark):
    from lakehouse_spark_spark.sources.loaders import TPCH_TABLES, load_star

    star = load_star(spark, SF_SMALL)
    assert set(star) == set(TPCH_TABLES)
    assert star["region"].count() == 5
    assert "ts_ns" in star["events"].columns  # nanos normalization applied


def test_write_single_csv_parity_sink(spark):
    from lakehouse_spark_spark.sources.sinks import write_single_csv

    d = tempfile.mkdtemp(prefix="csv1_")
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        out = os.path.join(d, "t.csv")
        write_single_csv(df, out)
        lines = open(out).read().splitlines()
        assert lines[0] == "k,v"
        assert sorted(lines[1:]) == ["1,a", "2,b"]
        # overwrite: second write replaces, not appends
        write_single_csv(df, out)
        assert len(open(out).read().splitlines()) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_write_table_read_table_roundtrip(spark):
    from lakehouse_spark_spark.sources.sinks import write_parquet

    d = tempfile.mkdtemp(prefix="tbl2_")
    try:
        df = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "part"])
        write_parquet(df, f"{d}/t", partition_by=["part"])
        back = spark.read.parquet(f"{d}/t")
        assert {(r["k"], r["part"]) for r in back.collect()} == {(1, "x"), (2, "y")}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_binary_file_source_feeds_multimodal_decode(spark):
    """End-to-end media path: files on disk -> binaryFile source ->
    Arrow-batched decode stub."""
    from lakehouse_spark_spark.operators.multimodal import decode_images
    from lakehouse_spark_spark.sources.loaders import read_binary_files

    d = tempfile.mkdtemp(prefix="media_")
    try:
        for i in range(3):
            with open(os.path.join(d, f"img_{i}.bin"), "wb") as f:
                f.write(bytes([i + 1] * (100 + i)))
        raw = read_binary_files(spark, d, glob="*.bin")
        assert set(raw.columns) == {"path", "modificationTime", "length", "content"}
        assert raw.count() == 3
        media = raw.select(
            F.monotonically_increasing_id().alias("doc_id"), F.col("content").alias("media")
        )
        meta = decode_images(media).collect()
        assert len(meta) == 3
        assert sorted(r["media_size_bytes"] for r in meta) == [100, 101, 102]
        assert all(len(r["sha256"]) == 64 for r in meta)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_read_parquet_evolving_merges_added_column(spark):
    from lakehouse_spark_spark.sources.loaders import read_parquet_evolving

    d = tempfile.mkdtemp(prefix="evolve_")
    try:
        spark.range(3).write.parquet(f"{d}/gen1")
        spark.range(3, 6).withColumn("score", F.col("id") * 2).write.parquet(f"{d}/gen2")
        df = read_parquet_evolving(spark, f"{d}/gen1", f"{d}/gen2")
        assert set(df.columns) == {"id", "score"}
        assert df.count() == 6
        # old-generation rows surface the new column as null
        assert df.filter(F.col("score").isNull()).count() == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)
