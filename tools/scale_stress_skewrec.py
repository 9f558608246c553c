"""Skew-observability stress (r14; the r13 verdict's "What's missing"
#3 done-criterion): at stress scale, the guarded persisted-media probe
must RECORD nonzero skip counts — the numbers an operator tunes
``max_bucket`` with — while the capped probe output stays the
O(cluster) rescue star the r13 stress pinned.

Method (a skewed-fingerprint fixture on the persisted index): an
organic uniform-fingerprint corpus + a single repeated "flat frame"
fingerprint cluster is written as a persisted media-fingerprint index; one guarded micro-batch (organic probes +
planted radius twins + ONE member of the flat-frame cluster) runs
through the streaming ingest loop with ``max_bucket``, which measures
and records the skew row into the index manifest
(media_probe_skew_stats / record_probe_skew). The emitted JSON quotes
the RECORDED health row read back via media_index_skew_health — proving
the observability path end-to-end at the scale the knob targets —
plus the probe's candidate counts and wall time.

Usage: python tools/scale_stress_skewrec.py > BENCH_SKEW_r14.json
Exclusive use of the box (one JVM, timings are wall-clock).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_spark_spark.session import get_session  # noqa: E402

FLAT_FP = 0x0F0F0F0F0F0F0F0


def main() -> None:
    from lakehouse_spark_spark.operators.mediaindex import (
        media_candidates_against_index,
        media_index_skew_health,
        write_media_fp_index,
    )
    from lakehouse_spark_spark.streaming.ingest import media_ingest_foreach_batch

    spark = get_session("skewrec_stress")
    spark.sparkContext.setLogLevel("ERROR")

    organic_n, cluster_n, batch_n, max_bucket = 100_000, 200_000, 10_000, 1_000
    # organic corpus: uniform 62-bit fps; flat-frame cluster: one fp
    organic = spark.range(organic_n).select(
        F.col("id").alias("doc_id"),
        F.xxhash64(F.col("id"), F.lit(7)).bitwiseAND(F.lit((1 << 62) - 1)).alias("fp"),
    )
    cluster = spark.range(cluster_n).select(
        (F.col("id") + 1_000_000).alias("doc_id"), F.lit(FLAT_FP).cast("long").alias("fp")
    )
    base = tempfile.mkdtemp(prefix="skewrec_")
    idx_path = os.path.join(base, "idx")
    t0 = time.perf_counter()
    write_media_fp_index(
        organic.unionByName(cluster), "doc_id", "fp", idx_path, blocks=8, modality="image"
    )
    build_sec = round(time.perf_counter() - t0, 3)

    # batch: organic probes + planted hamming-6 twins of the first
    # organic fps + one member of the flat cluster (the asset the cap
    # would hide and the rescue must keep flagging)
    twin_bits = (1 << 3) | (1 << 17) | (1 << 29) | (1 << 41) | (1 << 52) | (1 << 60)
    batch = (
        spark.range(batch_n)
        .select(
            (F.col("id") + 5_000_000).alias("doc_id"),
            F.xxhash64(F.col("id"), F.lit(7))
            .bitwiseAND(F.lit((1 << 62) - 1))
            .bitwiseXOR(F.lit(twin_bits))
            .alias("fp"),
        )
        .unionByName(
            spark.range(1).select(
                F.lit(6_000_000).alias("doc_id"), F.lit(FLAT_FP).cast("long").alias("fp")
            )
        )
    )
    t0 = time.perf_counter()
    fn = media_ingest_foreach_batch(
        idx_path, "doc_id", "fp", os.path.join(base, "kept"),
        max_hamming=6, max_bucket=max_bucket,
    )
    fn(batch, 0)
    ingest_sec = round(time.perf_counter() - t0, 3)

    recorded = [r.asDict() for r in media_index_skew_health(spark, idx_path).collect()]
    assert recorded and recorded[-1]["hot_buckets"] > 0, recorded
    assert recorded[-1]["skipped_corpus_rows"] >= 8 * cluster_n
    assert recorded[-1]["rescue_pairs"] == 1  # the flat-frame batch asset

    # candidate-output shape check (the r13 stress invariant, through
    # the persisted probe): planted twins caught, cluster capped to the
    # one rescue pair. Probe against the PRE-fold index state is gone
    # (the loop folded batch keeps), so re-derive on a fresh index.
    from lakehouse_spark_spark.operators.mediaindex import load_media_fp_index

    idx2_path = os.path.join(base, "idx2")
    write_media_fp_index(
        organic.unionByName(cluster), "doc_id", "fp", idx2_path, blocks=8, modality="image"
    )
    t0 = time.perf_counter()
    cand = media_candidates_against_index(
        batch, load_media_fp_index(spark, idx2_path), "doc_id", "fp",
        max_hamming=6, max_bucket=max_bucket,
    )
    by_side = cand.agg(
        F.count(F.lit(1)).alias("candidates"),
        F.sum((F.col("corpus_id") >= 1_000_000).cast("long")).alias("cluster_pairs"),
        F.sum(((F.col("hamming") == 6) & (F.col("corpus_id") < 1_000_000)).cast("long")).alias(
            "planted_pairs"
        ),
    ).collect()[0]
    probe_sec = round(time.perf_counter() - t0, 3)
    assert int(by_side["planted_pairs"]) == batch_n  # full planted recall
    assert int(by_side["cluster_pairs"]) == 1  # rescue star only

    print(
        json.dumps(
            {
                "metric": "skew_recording_stress",
                "organic": organic_n,
                "cluster": cluster_n,
                "batch": batch_n,
                "max_bucket": max_bucket,
                "build_sec": build_sec,
                "guarded_ingest_sec": ingest_sec,
                "probe_sec": probe_sec,
                "candidates": int(by_side["candidates"]),
                "cluster_pairs": int(by_side["cluster_pairs"]),
                "planted_pairs": int(by_side["planted_pairs"]),
                "recorded_skew_trail": recorded,
            }
        )
    )


if __name__ == "__main__":
    main()
