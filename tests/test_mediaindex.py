"""Persisted media-fingerprint index (operators/mediaindex.py, round
13): index-based candidates must be byte-identical to the one-shot
Hamming-block operator's cross-set pairs, run 2 must never re-read the
corpus fingerprints (plan-asserted by deleting them), folds must be
idempotent under a replayed batch_id, the hot-bucket cap must never
hide exact duplicates, and the streaming ingest loop must be
redrain-safe on its exactly-once ledger."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from lakehouse_spark_spark.operators.mediaindex import (
    compact_media_fp_index,
    load_media_fp_index,
    media_candidates_against_index,
    update_media_fp_index,
    write_media_fp_index,
)
from lakehouse_spark_spark.operators.neardup import simhash_candidates


def _fps(spark, seed: int, n: int, twin_every: int = 5, twin_dist: int = 3):
    """Uniform random 62-bit fingerprints; every ``twin_every``-th doc
    plants a twin at EXACTLY ``twin_dist`` (id + 1000)."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        fp = int(rng.randint(0, 2**62))
        rows.append((i, fp))
        if i % twin_every == 0:
            pos = rng.choice(62, size=twin_dist, replace=False)
            tw = fp
            for p in pos:
                tw ^= 1 << int(p)
            rows.append((1000 + i, tw))
    return spark.createDataFrame(rows, "doc_id bigint, fp bigint")


def _oneshot_cross_pairs(corpus, batch, max_hamming: int, blocks: int):
    """Reference: the ONE-SHOT single-block operator over the union,
    restricted to (batch, corpus) pairs, reoriented to
    (new_id, corpus_id)."""
    union = corpus.unionByName(batch).withColumnRenamed("fp", "simhash")
    cand = simhash_candidates(union, "doc_id", max_hamming=max_hamming, blocks=blocks)
    c_ids = corpus.select(F.col("doc_id").alias("cid"))
    b_ids = batch.select(F.col("doc_id").alias("bid"))
    ab = cand.join(b_ids, cand.id_a == F.col("bid")).join(c_ids, cand.id_b == F.col("cid")).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "hamming"
    )
    ba = cand.join(b_ids, cand.id_b == F.col("bid")).join(c_ids, cand.id_a == F.col("cid")).select(
        F.col("id_b").alias("new_id"), F.col("id_a").alias("corpus_id"), "hamming"
    )
    return ab.unionByName(ba)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_index_candidates_equal_oneshot_cross_pairs(spark, tmp_path):
    all_fps = _fps(spark, 7, 60)
    corpus = all_fps.filter("doc_id % 3 != 0")
    batch = all_fps.filter("doc_id % 3 = 0")
    idx = write_media_fp_index(corpus, "doc_id", "fp", str(tmp_path / "mf_idx"), blocks=8)
    got = _rows(media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=6))
    want = _rows(_oneshot_cross_pairs(corpus, batch, 6, 8))
    assert got == want
    assert len(got) > 0  # planted twins actually surface


def test_real_dhash_fingerprints_through_the_index(spark, tmp_path):
    """Integration: real decoded pixels → dHash → index → probe. A
    batch of ±1-gray re-encodes of corpus images must surface at the
    dHash radius, identically to the one-shot image operator on the
    union (the modality wrapper and the index share
    fingerprint_block_rows)."""
    from lakehouse_spark_spark.operators.multimodal import (
        encode_png_pixels,
        image_hashes,
        image_neardup_dhash,
    )

    rng = np.random.RandomState(3)
    scenes = {i: rng.randint(0, 251, size=(32, 32)).astype(np.uint8) for i in range(12)}
    corpus_media = spark.createDataFrame(
        [(i, bytearray(encode_png_pixels(px))) for i, px in scenes.items()],
        "doc_id bigint, media binary",
    )
    batch_media = spark.createDataFrame(
        [(1000 + i, bytearray(encode_png_pixels(px + 1))) for i, px in scenes.items() if i % 3 == 0],
        "doc_id bigint, media binary",
    )
    c_fp = image_hashes(corpus_media).select("doc_id", F.col("dhash").alias("fp"))
    b_fp = image_hashes(batch_media).select("doc_id", F.col("dhash").alias("fp"))
    idx = write_media_fp_index(c_fp, "doc_id", "fp", str(tmp_path / "mf_dhash"), blocks=4, modality="image")
    got = _rows(media_candidates_against_index(b_fp, idx, "doc_id", "fp", max_hamming=3))
    oneshot = image_neardup_dhash(corpus_media.unionByName(batch_media), max_hamming=3, blocks=4)
    want = _rows(
        oneshot.filter("id_b >= 1000 AND id_a < 1000").select(
            F.col("id_b").alias("new_id"), F.col("id_a").alias("corpus_id"), "hamming"
        )
    )
    assert got == want
    assert {(n, c) for n, c, _ in got} >= {(1000 + i, i) for i in scenes if i % 3 == 0}


def test_run2_never_rescans_corpus_and_matches_union(spark, tmp_path):
    """The incremental contract: run 1 folds batch1 in; run 2's
    candidates against corpus ∪ batch1 come from the index alone — the
    corpus fingerprint parquet is DELETED before run 2 executes, and
    the plan never references it."""
    import shutil

    all_fps = _fps(spark, 11, 60)
    corpus = all_fps.filter("doc_id % 3 != 0")
    b1 = all_fps.filter("doc_id % 6 = 0")
    b2 = all_fps.filter("doc_id % 6 = 3")
    expected = _rows(_oneshot_cross_pairs(corpus.unionByName(b1), b2, 6, 8))

    corpus_dir = str(tmp_path / "mf_corpus_parquet")
    corpus.write.parquet(corpus_dir)
    idx_path = str(tmp_path / "mf_idx2")
    write_media_fp_index(spark.read.parquet(corpus_dir), "doc_id", "fp", idx_path, blocks=8)
    update_media_fp_index(idx_path, b1, "doc_id", "fp", batch_id=1)

    shutil.rmtree(corpus_dir)  # the index is now the ONLY corpus state
    idx = load_media_fp_index(spark, idx_path)
    out = media_candidates_against_index(b2, idx, "doc_id", "fp", max_hamming=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mf_corpus_parquet" not in plan
    assert _rows(out) == expected


def test_update_watermark_is_idempotent(spark, tmp_path):
    all_fps = _fps(spark, 13, 40)
    corpus = all_fps.filter("doc_id % 3 != 0")
    batch = all_fps.filter("doc_id % 3 = 0")
    idx_path = str(tmp_path / "mf_wm")
    write_media_fp_index(corpus, "doc_id", "fp", idx_path)
    idx = update_media_fp_index(idx_path, batch, "doc_id", "fp", batch_id=5)
    n_fp, n_bl = idx.fingerprints.count(), idx.blocks.count()
    idx2 = update_media_fp_index(idx_path, batch, "doc_id", "fp", batch_id=5)
    assert (idx2.fingerprints.count(), idx2.blocks.count()) == (n_fp, n_bl)
    idx3 = update_media_fp_index(idx_path, batch, "doc_id", "fp", batch_id=2)
    assert (idx3.fingerprints.count(), idx3.blocks.count()) == (n_fp, n_bl)


def test_duplicate_index_rows_are_harmless(spark, tmp_path):
    """A partially-replayed append leaves duplicate fingerprint/block
    rows; the probe must still emit each candidate pair once with the
    same exact hamming (pair-distinct + id-dedup)."""
    all_fps = _fps(spark, 17, 40)
    corpus = all_fps.filter("doc_id % 3 != 0")
    batch = all_fps.filter("doc_id % 3 = 0")
    idx_path = str(tmp_path / "mf_dup")
    idx = write_media_fp_index(corpus, "doc_id", "fp", idx_path)
    want = _rows(media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=6))
    idx.fingerprints.limit(10).write.mode("append").parquet(f"{idx_path}/fingerprints")
    idx.blocks.limit(40).write.mode("append").parquet(f"{idx_path}/blocks")
    dup_idx = load_media_fp_index(spark, idx_path)
    assert _rows(media_candidates_against_index(batch, dup_idx, "doc_id", "fp", max_hamming=6)) == want


def test_compact_preserves_candidates(spark, tmp_path):
    all_fps = _fps(spark, 19, 40)
    corpus = all_fps.filter("doc_id % 3 != 0")
    b1 = all_fps.filter("doc_id % 6 = 0")
    b2 = all_fps.filter("doc_id % 6 = 3")
    idx_path = str(tmp_path / "mf_compact")
    write_media_fp_index(corpus, "doc_id", "fp", idx_path)
    update_media_fp_index(idx_path, b1, "doc_id", "fp", batch_id=1)
    idx = load_media_fp_index(spark, idx_path)
    idx.fingerprints.limit(5).write.mode("append").parquet(f"{idx_path}/fingerprints")
    want = _rows(media_candidates_against_index(b2, idx, "doc_id", "fp", max_hamming=6))
    n_fp_files, n_bl_files = compact_media_fp_index(spark, idx_path)
    assert n_fp_files >= 1 and n_bl_files >= 1
    idx2 = load_media_fp_index(spark, idx_path)
    assert idx2.fingerprints.count() == idx2.fingerprints.dropDuplicates(["__id"]).count()
    assert _rows(media_candidates_against_index(b2, idx2, "doc_id", "fp", max_hamming=6)) == want
    # second compaction: pointer advances, previous generation retained
    import json
    import os

    compact_media_fp_index(spark, idx_path)
    with open(os.path.join(idx_path, "manifest.json")) as fh:
        mf = json.load(fh)
    assert mf["fingerprints_dir"] == "fingerprints_v2" and mf["blocks_dir"] == "blocks_v2"
    assert os.path.isdir(f"{idx_path}/fingerprints_v1")
    assert not os.path.exists(f"{idx_path}/fingerprints")
    assert _rows(
        media_candidates_against_index(
            b2, load_media_fp_index(spark, idx_path), "doc_id", "fp", max_hamming=6
        )
    ) == want


def test_hot_bucket_cap_never_hides_exact_duplicates(spark, tmp_path):
    """The flat-frame cluster: 400 identical corpus fingerprints make
    every bucket hot. An uncapped probe of one more copy pays the whole
    cluster in candidate rows; the capped probe pays exactly ONE
    rescued match at distance 0 — while an organic twin in cold buckets
    survives the cap with its exact hamming unchanged."""
    FLAT = 0x2AAAAAAAAAAAAAA
    rng = np.random.RandomState(23)
    organic = [(i, int(rng.randint(0, 2**62))) for i in range(30)]
    cluster = [(10_000 + i, FLAT) for i in range(400)]
    corpus = spark.createDataFrame(organic + cluster, "doc_id bigint, fp bigint")
    idx = write_media_fp_index(corpus, "doc_id", "fp", str(tmp_path / "mf_hot"))
    twin = organic[0][1] ^ (1 << 5) ^ (1 << 40)
    batch = spark.createDataFrame(
        [(50_000, FLAT), (50_001, twin)], "doc_id bigint, fp bigint"
    )
    uncapped = media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=6)
    capped = media_candidates_against_index(
        batch, idx, "doc_id", "fp", max_hamming=6, max_bucket=50
    )
    assert uncapped.filter("new_id = 50000").count() == 400  # the blow-up is real
    rescued = capped.filter("new_id = 50000").collect()
    assert len(rescued) == 1
    assert (rescued[0]["corpus_id"], rescued[0]["hamming"]) == (10_000, 0)
    want = _rows(uncapped.filter("new_id = 50001"))
    assert _rows(capped.filter("new_id = 50001")) == want
    assert (50_001, 0, 2) in [(r[0], r[1], r[2]) for r in want]  # organic twin caught


def test_media_ingest_loop_redrain_safe(spark, tmp_path):
    """The streaming loop end-to-end with deterministic epochs: batch 1
    novels fold in; batch 2 (near-dups of batch-1 keeps + novels) drops
    the dups; REDRAINING both epochs leaves the ledger row set and the
    index byte-identical (exactly-once ledger + watermark no-op), and a
    batch-2 replay cannot drop itself against its own folded
    fingerprints (id-exclusion)."""
    from lakehouse_spark_spark.streaming.ingest import media_ingest_foreach_batch

    rng = np.random.RandomState(29)
    corpus = [(i, int(rng.randint(0, 2**62))) for i in range(20)]
    b1 = [(100 + i, int(rng.randint(0, 2**62))) for i in range(10)]
    # batch 2: twins (distance 2) of b1's first 4 keeps + 4 novels
    b2 = [(200 + i, b1[i][1] ^ (1 << 3) ^ (1 << 33)) for i in range(4)] + [
        (250 + i, int(rng.randint(0, 2**62))) for i in range(4)
    ]
    idx_path = str(tmp_path / "mf_loop")
    kept_out = str(tmp_path / "mf_kept")
    write_media_fp_index(
        spark.createDataFrame(corpus, "doc_id bigint, fp bigint"), "doc_id", "fp", idx_path
    )
    fn = media_ingest_foreach_batch(idx_path, "doc_id", "fp", kept_out, max_hamming=6)
    batches = [
        spark.createDataFrame(rows, "doc_id bigint, fp bigint") for rows in (b1, b2)
    ]
    for i, b in enumerate(batches):
        fn(b, i)
    kept1 = _rows(spark.read.parquet(kept_out).select("doc_id", "fp"))
    idx1 = load_media_fp_index(spark, idx_path)
    n_fp1 = idx1.fingerprints.count()
    # batch-2 twins dropped, novels kept
    kept_ids = {r[0] for r in kept1}
    assert kept_ids >= {100 + i for i in range(10)} | {250 + i for i in range(4)}
    assert not kept_ids & {200 + i for i in range(4)}
    # REDRAIN both epochs (the crash-replay sequence)
    for i, b in enumerate(batches):
        fn(b, i)
    assert _rows(spark.read.parquet(kept_out).select("doc_id", "fp")) == kept1
    assert load_media_fp_index(spark, idx_path).fingerprints.count() == n_fp1


def test_pair_block_geometry_matches_single_and_oneshot(spark, tmp_path):
    """The web-scale pair-key geometry (pair_blocks=True at build):
    probe output must be byte-identical to the single-block index AND
    the one-shot operator at a pair-complete radius, across a fold;
    a radius outside the pair guarantee is refused loudly."""
    all_fps = _fps(spark, 31, 60, twin_dist=6)
    corpus = all_fps.filter("doc_id % 3 != 0")
    b1 = all_fps.filter("doc_id % 6 = 0")
    b2 = all_fps.filter("doc_id % 6 = 3")
    single = write_media_fp_index(corpus, "doc_id", "fp", str(tmp_path / "g_single"), blocks=8)
    paired = write_media_fp_index(
        corpus, "doc_id", "fp", str(tmp_path / "g_pair"), blocks=8, pair_blocks=True
    )
    update_media_fp_index(str(tmp_path / "g_single"), b1, "doc_id", "fp", batch_id=1)
    update_media_fp_index(str(tmp_path / "g_pair"), b1, "doc_id", "fp", batch_id=1)
    single = load_media_fp_index(spark, str(tmp_path / "g_single"))
    paired = load_media_fp_index(spark, str(tmp_path / "g_pair"))
    assert paired.pair_blocks and not single.pair_blocks
    want = _rows(_oneshot_cross_pairs(corpus.unionByName(b1), b2, 6, 8))
    got_single = _rows(media_candidates_against_index(b2, single, "doc_id", "fp", max_hamming=6))
    got_pair = _rows(media_candidates_against_index(b2, paired, "doc_id", "fp", max_hamming=6))
    assert got_single == want and got_pair == want
    assert len(want) > 0
    with pytest.raises(ValueError, match="complete only to n_blocks-2"):
        media_candidates_against_index(b2, paired, "doc_id", "fp", max_hamming=7)
    # the hot-bucket cap + exact-fp rescue are geometry-independent
    FLAT = 0x3333333333333333 & ((1 << 62) - 1)
    cl = spark.createDataFrame(
        [(5000 + i, FLAT) for i in range(200)], "doc_id bigint, fp bigint"
    )
    update_media_fp_index(str(tmp_path / "g_pair"), cl, "doc_id", "fp", batch_id=2)
    paired = load_media_fp_index(spark, str(tmp_path / "g_pair"))
    probe = spark.createDataFrame([(9000, FLAT)], "doc_id bigint, fp bigint")
    rescued = media_candidates_against_index(
        probe, paired, "doc_id", "fp", max_hamming=6, max_bucket=50
    ).collect()
    assert len(rescued) == 1 and (rescued[0]["corpus_id"], rescued[0]["hamming"]) == (5000, 0)


def test_text_simhash_rides_the_same_index(spark, tmp_path):
    """Modality-agnosticism, proven through TEXT: SimHash fingerprints
    are bit-compatible with the media family, so the media_fp index
    doubles as a persisted text-SimHash index — probe output equals the
    one-shot simhash_candidates cross-pairs on real fixture text."""
    from lakehouse_spark_spark.operators.neardup import simhash

    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter("doc_id % 3 != 0")
    batch = docs.filter("doc_id % 3 = 0").union(
        docs.filter("doc_id % 9 = 1").select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail tweak")).alias("text"),
        )
    )
    c_fp = simhash(corpus, "doc_id", "text").withColumnRenamed("simhash", "fp")
    b_fp = simhash(batch, "doc_id", "text").withColumnRenamed("simhash", "fp")
    idx = write_media_fp_index(
        c_fp, "doc_id", "fp", str(tmp_path / "txt_idx"), blocks=9, modality="text-simhash"
    )
    got = _rows(media_candidates_against_index(b_fp, idx, "doc_id", "fp", max_hamming=8))
    want = _rows(_oneshot_cross_pairs(c_fp, b_fp, 8, 9))
    assert got == want
    assert len(got) > 0  # the tail-tweaked near-dups surface


def _clip(scenes):
    from lakehouse_spark_spark.operators.multimodal import encode_png_pixels, make_framestack

    return bytearray(make_framestack([encode_png_pixels(p) for p in scenes]))


def _video_scenes(i, n=6):
    rng_scenes = []
    for f in range(n):
        rng = np.random.RandomState((i * 31 + f * 7 + 1) % (2**31))
        y, x = np.mgrid[0:48, 0:48]
        v = np.full((48, 48), 120.0)
        for _c in range(4):
            fa, fb = rng.uniform(0.5, 2.5), rng.uniform(0.5, 2.5)
            p1, p2 = rng.uniform(0.0, 6.28), rng.uniform(0.0, 6.28)
            v += rng.uniform(15.0, 35.0) * np.sin(2 * np.pi * (x / 48) * fa + p1) * np.cos(
                2 * np.pi * (y / 48) * fb + p2
            )
        rng_scenes.append(np.clip(v, 0, 255).astype(np.uint8))
    return rng_scenes


def test_video_probe_equals_bruteforce_frame_vote(spark, tmp_path):
    """The persisted VIDEO path: corpus clips' frame fingerprints live
    in a media_fp index (composite clip*stride+frame keys); the probe
    samples+hashes ONLY the batch and votes. Must equal a brute-force
    per-frame Hamming scan + manual vote, and catch planted half-size
    twin clips of corpus members while fresh clips find nothing."""
    from lakehouse_spark_spark.operators.mediaindex import video_candidates_against_index
    from lakehouse_spark_spark.operators.multimodal import video_frame_fingerprints

    corpus_media = spark.createDataFrame(
        [(i, _clip(_video_scenes(i))) for i in range(8)], "doc_id bigint, media binary"
    )
    batch_rows = [
        (1000 + i, _clip([p[::2, ::2] for p in _video_scenes(i)])) for i in (0, 3, 6)
    ] + [(2000, _clip(_video_scenes(555)))]
    batch_media = spark.createDataFrame(batch_rows, "doc_id bigint, media binary")

    from lakehouse_spark_spark.operators.mediaindex import write_media_fp_index

    idx = write_media_fp_index(
        video_frame_fingerprints(corpus_media, every_n=1), "doc_id", "fp",
        str(tmp_path / "vid_idx"), blocks=8, modality="video-frames",
    )
    got = sorted(
        (r["new_id"], r["corpus_id"], r["matched_frames"], r["min_hamming"])
        for r in video_candidates_against_index(
            batch_media, idx, every_n=1, max_hamming=10, min_matched_frames=3
        ).collect()
    )
    # brute-force reference over the raw fingerprints
    c_fp = [
        (r["doc_id"], r["fp"])
        for r in video_frame_fingerprints(corpus_media, every_n=1).collect()
    ]
    b_fp = [
        (r["doc_id"], r["fp"])
        for r in video_frame_fingerprints(batch_media, every_n=1).collect()
    ]
    votes = {}
    for bk, bf in b_fp:
        for ck, cf in c_fp:
            if bin(bf ^ cf).count("1") <= 10:
                key = (bk // 1_000_000, ck // 1_000_000)
                frames, best = votes.get(key, (set(), 64))
                frames.add(bk % 1_000_000)
                votes[key] = (frames, min(best, bin(bf ^ cf).count("1")))
    want = sorted(
        (n, c, len(fr), mh) for (n, c), (fr, mh) in votes.items() if len(fr) >= 3
    )
    assert got == want
    assert {(n, c) for n, c, *_ in got} >= {(1000, 0), (1003, 3), (1006, 6)}
    assert not [r for r in got if r[0] == 2000]  # fresh clip: no match


def test_video_ingest_loop_redrain_safe(spark, tmp_path):
    """The video streaming loop: batch-1 novel clips fold their frame
    fingerprints in; batch 2 (half-size twins of batch-1 keeps +
    novels) drops the twins; redraining both epochs leaves the clip
    ledger and the frame index byte-identical."""
    from lakehouse_spark_spark.operators.mediaindex import (
        load_media_fp_index,
        write_media_fp_index,
    )
    from lakehouse_spark_spark.operators.multimodal import video_frame_fingerprints
    from lakehouse_spark_spark.streaming.ingest import video_ingest_foreach_batch

    corpus_media = spark.createDataFrame(
        [(i, _clip(_video_scenes(i))) for i in range(4)], "doc_id bigint, media binary"
    )
    idx_path = str(tmp_path / "vid_loop")
    kept_out = str(tmp_path / "vid_kept")
    write_media_fp_index(
        video_frame_fingerprints(corpus_media, every_n=1), "doc_id", "fp",
        idx_path, blocks=8, modality="video-frames",
    )
    b1 = spark.createDataFrame(
        [(100 + i, _clip(_video_scenes(50 + i))) for i in range(3)],
        "doc_id bigint, media binary",
    )
    b2 = spark.createDataFrame(
        [(200, _clip([p[::2, ::2] for p in _video_scenes(50)]))]  # twin of kept 100
        + [(201, _clip(_video_scenes(99)))],                       # novel
        "doc_id bigint, media binary",
    )
    fn = video_ingest_foreach_batch(
        idx_path, "doc_id", "media", kept_out, every_n=1, min_matched_frames=3
    )
    for i, b in enumerate((b1, b2)):
        fn(b, i)
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(kept_out).collect())
    assert kept1 == [100, 101, 102, 201]  # twin 200 dropped
    n_fp1 = load_media_fp_index(spark, idx_path).fingerprints.count()
    for i, b in enumerate((b1, b2)):
        fn(b, i)
    assert sorted(r["doc_id"] for r in spark.read.parquet(kept_out).collect()) == kept1
    assert load_media_fp_index(spark, idx_path).fingerprints.count() == n_fp1


def test_persisted_verify_aux_matches_oneshot_verified(spark, tmp_path):
    """The aux-fingerprint verify (r13): a pHash index built with the
    dHash aux column kills the phase-adjacent false pair at probe time
    exactly like the one-shot verified wrapper, keeps the half-size
    true twin, and refuses an aux column the index never persisted."""
    from tests.test_codecs import _find_phash_collision

    from lakehouse_spark_spark.operators.multimodal import encode_png_pixels, image_hashes

    (k1, px1), (k2, px2) = _find_phash_collision()
    corpus_media = spark.createDataFrame(
        [(1, bytearray(encode_png_pixels(px1)))], "doc_id bigint, media binary"
    )
    batch_media = spark.createDataFrame(
        [
            (100, bytearray(encode_png_pixels(px2))),           # false pair with 1
            (101, bytearray(encode_png_pixels(px1[::2, ::2]))),  # true twin of 1
        ],
        "doc_id bigint, media binary",
    )
    c_fps = image_hashes(corpus_media).filter(F.col("phash").isNotNull()).select(
        "doc_id", F.col("phash").alias("fp"), "dhash"
    )
    b_fps = image_hashes(batch_media).filter(F.col("phash").isNotNull()).select(
        "doc_id", F.col("phash").alias("fp"), "dhash"
    )
    idx = write_media_fp_index(
        c_fps, "doc_id", "fp", str(tmp_path / "aux_idx"),
        blocks=8, modality="image", aux_fp_cols=["dhash"],
    )
    assert idx.aux_fp_cols == ("dhash",)
    plain = {
        (r["new_id"], r["corpus_id"])
        for r in media_candidates_against_index(b_fps, idx, "doc_id", "fp", max_hamming=10).collect()
    }
    assert plain == {(100, 1), (101, 1)}
    verified = {
        (r["new_id"], r["corpus_id"])
        for r in media_candidates_against_index(
            b_fps, idx, "doc_id", "fp", max_hamming=10, verify_aux=("dhash", 8)
        ).collect()
    }
    assert verified == {(101, 1)}  # false pair dies, true twin survives
    # aux survives a fold (appends carry the column)
    update_media_fp_index(
        str(tmp_path / "aux_idx"), b_fps.filter("doc_id = 101"), "doc_id", "fp", batch_id=1
    )
    idx2 = load_media_fp_index(spark, str(tmp_path / "aux_idx"))
    assert idx2.fingerprints.filter("dhash IS NULL").count() == 0
    with pytest.raises(ValueError, match="not persisted in this index"):
        media_candidates_against_index(
            b_fps, idx2, "doc_id", "fp", verify_aux=("nope", 4)
        )


def test_multimodal_ingest_loop_redrain_safe(spark, tmp_path):
    """The arrival-time cross-modal disposition: text + image indexes,
    batch 2 plants a TEXT twin of one batch-1 keep and an IMAGE
    half-size twin of another — both drop on their own modality's
    probe; redraining both epochs leaves the asset ledger and both
    indexes byte-identical."""
    from lakehouse_spark_spark.operators.mediaindex import write_media_fp_index
    from lakehouse_spark_spark.operators.multimodal import encode_png_pixels, image_hashes
    from lakehouse_spark_spark.operators.neardup import simhash
    from lakehouse_spark_spark.streaming.ingest import multimodal_ingest_foreach_batch

    def text(k):  # synthetic: unrelated keys sit far apart in SimHash
        rng = np.random.RandomState(k * 13 + 5)
        return " ".join("t%05d" % w for w in rng.randint(0, 50_000, size=60))

    def text_twin(k):  # one changed token: SimHash distance 4-9 (< 12)
        toks = text(k).split()
        return " ".join(toks[:-1] + ["changed"])

    def scene(i):
        # smooth low-frequency mixture (the disposition family): pHash
        # half-size twins only work on scenes that area-average stably
        return _video_scenes(i, n=1)[0]

    def asset(aid, tkey, ikey, half=False):
        px = scene(ikey)
        if half:
            px = px[::2, ::2]
        return (aid, text(tkey), bytearray(encode_png_pixels(px)))

    corpus = [asset(i, i, i) for i in range(10)]
    b1 = [asset(100 + i, 10 + i, 100 + i) for i in range(4)]
    b2 = [
        (200, text_twin(10), bytearray(encode_png_pixels(scene(900)))),  # text twin of 100
        asset(201, 20, 101, half=True),                                   # image twin of 101
        asset(202, 21, 202),                                              # novel
    ]
    corpus_df = spark.createDataFrame(corpus, "doc_id long, text string, image binary")

    t_idx, i_idx = str(tmp_path / "mm_text"), str(tmp_path / "mm_img")
    write_media_fp_index(
        simhash(corpus_df, "doc_id", "text").withColumnRenamed("simhash", "fp"),
        "doc_id", "fp", t_idx, blocks=16, modality="text-simhash",
    )
    write_media_fp_index(
        image_hashes(corpus_df.select("doc_id", F.col("image").alias("media")))
        .filter(F.col("phash").isNotNull())
        .select("doc_id", F.col("phash").alias("fp"), "dhash"),
        "doc_id", "fp", i_idx, blocks=8, modality="image", aux_fp_cols=["dhash"],
    )
    kept_out = str(tmp_path / "mm_kept")
    fn = multimodal_ingest_foreach_batch(
        kept_out, "doc_id",
        text_index_path=t_idx, text_col="text", text_max_hamming=12,
        image_index_path=i_idx, image_col="image",
    )
    batches = [
        spark.createDataFrame(rows, "doc_id long, text string, image binary")
        for rows in (b1, b2)
    ]
    for i, b in enumerate(batches):
        fn(b, i)
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(kept_out).collect())
    assert kept1 == [100, 101, 102, 103, 202]  # both twins dropped
    n_t = load_media_fp_index(spark, t_idx).fingerprints.count()
    n_i = load_media_fp_index(spark, i_idx).fingerprints.count()
    for i, b in enumerate(batches):  # redrain
        fn(b, i)
    assert sorted(r["doc_id"] for r in spark.read.parquet(kept_out).collect()) == kept1
    assert load_media_fp_index(spark, t_idx).fingerprints.count() == n_t
    assert load_media_fp_index(spark, i_idx).fingerprints.count() == n_i


def test_null_fingerprints_are_quarantined(spark, tmp_path):
    """NULL fingerprints (undecodable payloads) never enter the index
    or the probe — matching the one-shot wrappers' quarantine."""
    corpus = spark.createDataFrame(
        [(1, 123456789), (2, None)], "doc_id bigint, fp bigint"
    )
    idx = write_media_fp_index(corpus, "doc_id", "fp", str(tmp_path / "mf_null"))
    assert idx.fingerprints.count() == 1
    batch = spark.createDataFrame(
        [(10, 123456789), (11, None)], "doc_id bigint, fp bigint"
    )
    got = _rows(media_candidates_against_index(batch, idx, "doc_id", "fp", max_hamming=3))
    assert got == [(10, 1, 0)]
