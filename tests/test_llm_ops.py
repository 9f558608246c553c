"""Unit tests for the LLM-data operator suite (text analysis, near-dup,
similarity, multimodal plumbing, windowing) on tiny literal data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_text_metrics(spark):
    from lakehouse_spark_spark.operators import text as tx

    df = spark.createDataFrame([(1, "The cat, the hat!"), (2, "solo")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            tx.n_tokens("text").alias("nt"),
            tx.bpe_ish_token_count("text").alias("bpe"),
            tx.punct_ratio("text").alias("pr"),
            tx.stopword_ratio("text").alias("sr"),
        ).collect()
    }
    assert out[1]["nt"] == 4
    # BPE-ish: The cat , the hat ! -> 6
    assert out[1]["bpe"] == 6
    assert out[1]["pr"] == pytest.approx(2 / 17)
    assert out[1]["sr"] == pytest.approx(2 / 4)  # 'the' twice of 4 tokens
    assert out[2]["nt"] == 1


def test_lang_id_markers(spark):
    from lakehouse_spark_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "the quick fox is fast"), (2, "der hund und die katze ist da"), (3, "xyzzy plugh")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", tx.lang_id("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_fingerprint_stable_under_whitespace(spark):
    from lakehouse_spark_spark.operators import text as tx

    df = spark.createDataFrame([(1, "Hello   World Again"), (2, "hello world again")], ["doc_id", "text"])
    fps = [r["fp"] for r in df.select(tx.doc_fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]  # normalization collapses case+whitespace


def test_ngram_jaccard_identical_and_disjoint(spark):
    from lakehouse_spark_spark.operators.neardup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),  # identical -> jaccard 1.0
            (3, "z y x w v u"),  # disjoint -> no pair
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"], pairs[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_identical_docs_estimate_one(spark):
    from lakehouse_spark_spark.operators.neardup import minhash_lsh_candidates, minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "q r s t u v w x")],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(df, "doc_id", "text", n=3, num_hashes=16)
    cands = minhash_lsh_candidates(sigs, "doc_id", bands=4, num_hashes=16).collect()
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands}
    assert est.get((1, 2)) == 1.0
    assert (1, 3) not in est and (2, 3) not in est


def test_simhash_close_and_far(spark):
    from lakehouse_spark_spark.operators.neardup import simhash, simhash_candidates

    # SimHash needs realistic token counts: with N tokens per doc the
    # per-bit vote margin is ~sqrt(N), so a one-token edit flips few
    # bits only when N is large-ish. 60-token docs, one word changed.
    words = ["w%02d" % (i % 30) for i in range(60)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed"])
    far = " ".join("z%02d" % (i % 37) for i in range(60))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    sim = simhash(df, "doc_id", "text")
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert all(v >= 0 for v in vals.values())

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(vals[1], vals[2]) < hamming(vals[1], vals[3])
    cands = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidates(sim, "doc_id", max_hamming=12, blocks=8).collect()
    }
    assert (1, 2) in cands
    assert (1, 3) not in cands


def test_cosine_topk_exact(spark):
    from lakehouse_spark_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),   # closest to 0
            (2, [0.0, 1.0]),   # orthogonal to 0
            (3, [-1.0, 0.0]),  # opposite
        ],
        ["vec_id", "embedding"],
    )
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]


def test_ann_lsh_same_bucket_for_identical(spark):
    from lakehouse_spark_spark.operators.similarity import ann_lsh_topk

    vecs = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)]) for i in range(20)]
    vecs.append((100, vecs[0][1]))  # exact duplicate of vec 0
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    planes = [[1.0 if j == i else 0.0 for j in range(8)] for i in range(4)]
    out = ann_lsh_topk(df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding", planes, k=5).collect()
    assert any(r["neighbor_id"] == 100 and r["cosine_sim"] == 1.0 for r in out)


def test_multimodal_decode_unknown_format_fallback(spark):
    from lakehouse_spark_spark.operators.multimodal import attach_fake_media, decode_images

    # attach_fake_media produces raw text bytes — not a recognized image
    # container, so the decode must tag 'unknown' and stay deterministic.
    df = spark.createDataFrame([(1, "some text payload"), (2, "other bytes")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in decode_images(attach_fake_media(df, "doc_id", "text")).collect()}
    assert out[1]["media_size_bytes"] == len("some text payload")
    assert out[1]["format"] == "unknown"
    assert out[1]["width"] >= 64 and out[1]["height"] >= 64
    assert len(out[1]["sha256"]) == 64
    # determinism: same payload -> same metadata
    again = {r["doc_id"]: r for r in decode_images(attach_fake_media(df, "doc_id", "text")).collect()}
    assert again[1] == out[1]


def test_parse_image_header_real_containers():
    import struct
    import zlib

    from lakehouse_spark_spark.operators.multimodal import (
        make_gif,
        make_jpeg,
        make_png,
        parse_image_header,
    )

    for w, h in [(1, 1), (17, 9), (511, 512), (640, 480)]:
        png, jpg, gif = make_png(w, h), make_jpeg(w, h), make_gif(w, h)
        assert parse_image_header(png) == {"format": "png", "width": w, "height": h}
        assert parse_image_header(jpg) == {"format": "jpeg", "width": w, "height": h}
        assert parse_image_header(gif) == {"format": "gif", "width": w, "height": h}

    # the PNG is a genuinely valid file: IHDR CRC checks out and the
    # IDAT inflates to exactly h scanlines of (filter byte + w pixels)
    png = make_png(17, 9)
    ihdr_crc = struct.unpack(">I", png[29:33])[0]
    assert ihdr_crc == zlib.crc32(png[12:29])
    idat_len = struct.unpack(">I", png[33:37])[0]
    raw = zlib.decompress(png[41 : 41 + idat_len])
    assert len(raw) == 9 * (17 + 1)

    # truncated / garbage payloads refuse cleanly
    assert parse_image_header(b"\x89PNG\r\n\x1a\n") is None
    assert parse_image_header(b"\xff\xd8\x00\x00") is None
    assert parse_image_header(b"not an image at all") is None
    # JPEG parse must skip leading segments (APP0 sits before SOF0)
    assert parse_image_header(make_jpeg(300, 200))["width"] == 300


def test_multimodal_synthetic_roundtrip(spark):
    from lakehouse_spark_spark.operators.multimodal import attach_synthetic_media, decode_images

    df = spark.createDataFrame(
        [(0, "a" * 100), (1, "b" * 530), (2, "c" * 48), (3, "d" * 513)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in decode_images(attach_synthetic_media(df, "doc_id", "text")).collect()}
    for doc_id, n in [(0, 100), (1, 530), (2, 48), (3, 513)]:
        r = out[doc_id]
        assert r["format"] == ("png", "jpeg", "gif")[doc_id % 3]
        assert r["width"] == 1 + n % 512
        assert r["height"] == 1 + (7 * n) % 512


def test_sessionize_gap_boundaries(spark):
    from lakehouse_spark_spark.operators.windows import sessionize

    df = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 10:00:00", 1.0),
            (2, 10, "2024-01-01 10:10:00", 1.0),  # same session (10 min)
            (3, 10, "2024-01-01 11:00:00", 1.0),  # new session (50 min gap)
            (4, 20, "2024-01-01 10:00:00", 1.0),  # other user
        ],
        ["event_id", "user_id", "ts_s", "value"],
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = {r["event_id"]: r["session_seq"] for r in sessionize(df, "user_id", "ts", 30).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_multimodal_resize_and_frames_and_audio(spark):
    from lakehouse_spark_spark.operators.multimodal import (
        attach_fake_media,
        extract_audio_features,
        resize_images,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "x" * 500), (2, "y" * 100)],
        ["doc_id", "text"],
    )
    media = attach_fake_media(df, "doc_id", "text")

    resized = {r["doc_id"]: r for r in resize_images(media, max_side=128).collect()}
    assert resized[1]["width"] <= 128 and resized[1]["height"] <= 128
    assert len(resized[1]["media"]) >= 1

    frames = sample_frames(media, every_n=5).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert per_doc[1] == sorted(per_doc[1])  # ordered fan-out
    assert len(per_doc[1]) > len(per_doc.get(2, []))  # longer payload -> more frames

    audio = {r["doc_id"]: r for r in extract_audio_features(media).collect()}
    assert audio[1]["duration_s"] == 0.5
    assert len(audio[1]["features"]) == 8
    # deterministic across runs
    again = {r["doc_id"]: r for r in extract_audio_features(media).collect()}
    assert again[1] == audio[1]


def test_ivf_sampled_fit_bounded_and_recall(spark):
    """The IVF quantizer must (a) train on a bounded sample, (b) accept a
    pre-trained centroid table, and (c) lose at most noise-level recall
    vs fitting on the full corpus."""
    from lakehouse_spark_spark.operators.similarity import cosine_topk, ivf_topk, train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)

    # deterministic + bounded: two fits give the same centroids, even when
    # the corpus exceeds the training cap (forces the sample+limit path)
    c_small = train_ivf_centroids(emb, "embedding", n_cells=8, max_train_rows=200)
    c_small2 = train_ivf_centroids(emb, "embedding", n_cells=8, max_train_rows=200)
    assert c_small == c_small2
    assert len(c_small) == 8 and len(c_small[0]) == len(emb.first()["embedding"])

    def recall(result_df) -> float:
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(emb, queries, "vec_id", "embedding", k=5).collect()
        }
        got = {(r["query_id"], r["neighbor_id"]) for r in result_df.collect()}
        return len(exact & got) / len(exact)

    c_full = train_ivf_centroids(emb, "embedding", n_cells=8, max_train_rows=10_000_000)
    r_full = recall(ivf_topk(emb, queries, "vec_id", "embedding", k=5, n_probe=4, centroids=c_full))
    r_sampled = recall(ivf_topk(emb, queries, "vec_id", "embedding", k=5, n_probe=4, centroids=c_small))
    # uniform-random vectors are IVF's worst case; sampled fit must stay
    # within noise of the full fit
    assert r_sampled >= r_full - 0.15, (r_sampled, r_full)


def test_bigrams_and_repetition_signals(spark):
    from lakehouse_spark_spark.operators.text import bigrams, repetition_signals

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z"), (3, "solo"), (4, "w w w w")], ["doc_id", "text"]
    )
    bg = {r["doc_id"]: r["bg"] for r in df.select("doc_id", bigrams("text").alias("bg")).collect()}
    assert bg[1] == ["a b", "b a", "a b", "b a"]
    assert bg[2] == ["x y", "y z"]
    assert bg[3] == []
    sig = {r["doc_id"]: r for r in repetition_signals(df, "doc_id", "text").collect()}
    assert 3 not in sig  # no bigrams, no signal row
    assert sig[1]["n_bigrams"] == 4 and sig[1]["distinct_bigrams"] == 2
    assert sig[1]["dup_bigram_frac"] == 0.5 and sig[1]["top_bigram_frac"] == 0.5
    assert sig[4]["dup_bigram_frac"] == round(1 - 1 / 3, 6) and sig[4]["top_bigram_frac"] == 1.0


def test_top_ngrams_deterministic_tiebreak(spark):
    from lakehouse_spark_spark.operators.text import top_ngrams

    df = spark.createDataFrame([(1, "b c"), (2, "a b"), (3, "a b")], ["doc_id", "text"])
    got = [(r["bigram"], r["n"]) for r in top_ngrams(df, "text", k=2).collect()]
    assert got == [("a b", 2), ("b c", 1)]


def test_hashed_shingles_output_identical_to_string_shingles(spark):
    """hash_shingles=True computes xxhash64 on the token-array slice at
    materialization (r8); its pair/jaccard output must be IDENTICAL to
    the exact-string path — equality is the only property Jaccard and
    containment consume, and slice equality == joined-string equality."""
    from lakehouse_spark_spark.operators.neardup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "completely different words with no overlap here today"),
        (5, "the quick brown fox leaps over the lazy dog sometimes"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    for fn, kw in (
        (ngram_jaccard_pairs, {"threshold": 0.2, "allow_bruteforce": True}),
        (ngram_containment_pairs, {"threshold": 0.2}),
    ):
        hashed = sorted(map(tuple, fn(df, "doc_id", "text", n=3, hash_shingles=True, **kw).collect()))
        exact = sorted(map(tuple, fn(df, "doc_id", "text", n=3, hash_shingles=False, **kw).collect()))
        assert hashed == exact, fn.__name__


def test_simhash_join_equals_bruteforce_with_boundary_twins(spark):
    """The single-block join returns EXACTLY a brute-force Hamming
    scan at max_hamming = blocks - 2 and at blocks - 1 (the edge of its
    pigeonhole guarantee), and catches every planted twin at distance
    6."""
    import itertools

    import numpy as np

    from lakehouse_spark_spark.operators.neardup import simhash_candidates

    rng = np.random.RandomState(7)
    rows = []
    for i in range(60):
        fp = int(rng.randint(0, 2**31)) << 32 | int(rng.randint(0, 2**31))
        fp &= (1 << 63) - 1
        rows.append((i, fp))
        if i % 6 == 0:  # twin at EXACTLY Hamming 6
            pos = rng.choice(63, size=6, replace=False)
            tw = fp
            for p in pos:
                tw ^= 1 << int(p)
            rows.append((1000 + i, tw))
    sim = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")

    def run(mh):
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_candidates(sim, "doc_id", max_hamming=mh, blocks=8).collect()
        )

    fps = dict(rows)
    def brute(mh):
        return sorted(
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a, b in itertools.combinations(sorted(fps), 2)
            if bin(fps[a] ^ fps[b]).count("1") <= mh
        )

    got6 = run(6)
    assert got6 == brute(6)
    assert {(a, b) for a, b, _ in got6} >= {(i, 1000 + i) for i in range(0, 60, 6)}
    assert run(7) == brute(7)  # complete to blocks-1=7


def test_simhash_max_bucket_bounds_skew_and_rescues_exact_dups(spark):
    """r13 hot-bucket guard: a planted flat-frame cluster (one
    fingerprint repeated 300x — every bucket it touches is hot) must
    NOT materialize its square; with the cap its candidate rows
    collapse to the 299-row rescue star at distance 0, organic twins in
    cold buckets are untouched, and with the cap off the skewed-free
    subset is byte-identical."""
    import numpy as np

    from lakehouse_spark_spark.operators.neardup import simhash_candidates

    rng = np.random.RandomState(11)
    rows = []
    for i in range(30):
        fp = int(rng.randint(0, 2**62))
        rows.append((i, fp))
        if i % 5 == 0:  # organic twin at Hamming 2
            tw = fp ^ (1 << int(rng.randint(0, 50))) ^ (1 << int(rng.randint(51, 62)))
            rows.append((1000 + i, tw))
    FLAT = 0x155555555555555  # the "solid-color frame" fingerprint
    cluster_ids = list(range(50_000, 50_300))
    rows += [(j, FLAT) for j in cluster_ids]
    sim = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")

    capped = sorted(
        map(tuple, simhash_candidates(sim, "doc_id", max_hamming=3, blocks=4, max_bucket=50).collect())
    )
    # cluster candidates = exactly the rescue star (min, other, 0)
    cluster_pairs = [(a, b, h) for a, b, h in capped if a in set(cluster_ids)]
    assert cluster_pairs == [(50_000, j, 0) for j in cluster_ids[1:]]
    # organic twins survive the cap (their buckets are cold)
    organic = {(a, b) for a, b, _ in capped if a < 1000}
    assert organic >= {(i, 1000 + i) for i in range(0, 30, 5)}
    # cap off on the skew-free subset == capped output restricted to it
    no_cluster = spark.createDataFrame(
        [r for r in rows if r[0] < 10_000], "doc_id bigint, simhash bigint"
    )
    uncapped = sorted(
        map(tuple, simhash_candidates(no_cluster, "doc_id", max_hamming=3, blocks=4).collect())
    )
    assert uncapped == [t for t in capped if t[0] < 10_000]
