"""Streaming incremental-dedup ingest: the persisted Bloom dedup index
(operators/bloom.py) wired into Structured Streaming via foreachBatch.

This is the production loop the batch operator's docstring promises:
documents arrive in micro-batches; each batch is deduped against the
ACCUMULATED corpus state — which is the persisted index alone, never
the corpus itself — kept docs land in the output table, and the
batch's novel hashes fold into the index (bit-OR filter merge + hash
append, O(batch) per batch). At 100 TB of accumulated corpus the
per-batch cost depends only on |batch| + |index|.

Semantics: streaming dedup keeps the FIRST-SEEN copy of each novel
hash (arrival order). The batch operator keeps the min-id copy; the
two agree whenever ids are assigned in arrival order (the usual ingest
contract, and what tests/test_pyds.py pins on an id-ascending replay).
NULL-text docs are the one divergence: a NULL hash can never enter the
index (no membership information), so the stream keeps the first
null-text doc of EVERY micro-batch, while the batch operator's window
groups all NULL hashes together and keeps one per union. Pipelines
that care should drop/quarantine null-text docs upstream (the curation
gates already do).

Retraction (r15): every loop records its kept ledger's OWNING index
families in an atomic sidecar (sinks.record_kept_ledger_owner), so a
takedown tombstoned in an index also leaves the corpus-membership
record — consumers read ledgers through sinks.read_kept_ledger (the
canonical anti-joined view) and the physical purge rides the ledger
compaction (sinks.purge_kept_ledger, auto-run by tools/maintain.py).

Delivery: exactly-once on the kept ledger AND effectively-once on the
index. The kept rows are committed BEFORE the index update through
``sources.sinks.append_once_parquet`` — each epoch's rows land in
their own ``batch_id={n}`` partition dir published by one atomic
rename, and a replayed epoch whose dir already exists skips the write
(the rows on disk were computed against the identical pre-fold index
state, so they are authoritative; see the sink's docstring for why
neither plain append nor per-batch overwrite is safe here). Ordering
still matters: output first, index second — updating the index first
would make a replayed batch all-dups, and a first-attempt ledger that
never committed could then never be reconstructed (data loss). The
INDEX side is effectively-once (r9 verdict task 3): foreachBatch's
epoch id flows into ``update_dedup_index(batch_id=...)``, whose
manifest keeps a ``last_batch_id`` high-watermark — a replayed epoch's
fold is a no-op, so replay can never duplicate hash rows or re-merge
the filter. Together: every crash point replays to the same (ledger,
index) pair, with no transactional sink required — the ledger commit
is idempotent on batch_id, the fold is watermarked on batch_id.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from lakehouse_spark_spark.operators.bloom import (
    dedup_against_corpus_bloom,
    load_dedup_index,
    update_dedup_index,
)
from lakehouse_spark_spark.sources.sinks import (
    append_once_parquet,
    record_kept_ledger_owner,
)


def bloom_ingest_foreach_batch(
    index_path: str, id_col: str, text_col: str, kept_out: str
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` body for a bloom-dedup ingest stream:

        stream.writeStream.foreachBatch(
            bloom_ingest_foreach_batch(idx, "doc_id", "text", out))

    Per micro-batch: load the current index (two slim parquet scans),
    dedup the batch against it, eagerly materialize the keeps (the
    index files are about to be swapped — the plan must not re-read
    them afterwards), commit keeps to ``kept_out`` (exactly-once per
    epoch via append_once_parquet), then fold the kept hashes into the
    index.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        idx = load_dedup_index(spark, index_path)
        disp = dedup_against_corpus_bloom(batch_df, None, id_col, text_col, index=idx)
        # EAGER checkpoint: pins the keep decision against the
        # pre-update index before update_dedup_index swaps the filter
        # files the lazy plan would otherwise re-read
        kept = (
            disp.filter("keep").select(id_col, "content_hash").localCheckpoint(eager=True)
        )
        # ownership record (r15): the kept ledger is corpus membership —
        # a takedown tombstoned in the index must also leave it, so the
        # canonical read (sinks.read_kept_ledger) anti-joins the owning
        # family's tombstones. Re-recorded per epoch (atomic, KB-scale).
        record_kept_ledger_owner(
            kept_out,
            [{"index_path": index_path, "ledger_col": "content_hash",
              "tombstone_col": "content_hash"}],
        )
        append_once_parquet(kept, kept_out, batch_id)
        update_dedup_index(index_path, kept.select("content_hash"), batch_id=batch_id)

    return fn


def curated_ingest_foreach_batch(
    index_path: str,
    id_col: str,
    text_col: str,
    kept_out: str,
    *,
    min_words: int = 20,
    max_words: int = 1000,
    stopword_min: int = 1,
    neardup_index_path: str | None = None,
    neardup_threshold: float = 0.8,
    neardup_max_bucket: int | None = None,
    neardup_record_skew: bool | None = None,
) -> Callable[[DataFrame, int], None]:
    """The composed streaming ingest a training-data pipeline actually
    runs: per micro-batch, Gopher word-rule QUALITY GATES (pure per-doc
    projections — batch-local by nature) drop junk docs BEFORE they
    cost a dedup probe, then the survivors dedup against the persisted
    index and fold in, exactly as :func:`bloom_ingest_foreach_batch`.

    ``neardup_index_path`` (round 10) adds the NEAR-dup stage the r9
    docstring deferred to periodic compaction: exact-dedup survivors
    probe a persisted MinHash-LSH index
    (operators/neardup.write_neardup_index) and docs whose estimated
    Jaccard against ANY accumulated kept doc reaches
    ``neardup_threshold`` drop as cross-batch near-dups; the remaining
    keeps fold their signatures in (O(batch) — the corpus is never
    re-signed). Near-dup pairs WITHIN one micro-batch are intentionally
    not clustered here (neither side is in the index yet — both keep,
    both fold, and any later copy is caught); within-batch clustering
    remains the periodic compaction job's half, now with far less to
    read.

    Output rows: (id, content_hash, n_words) for each kept doc — the
    slim ingest ledger; the text itself stays in the source (join back
    by id when shipping, the curation_v5_ship pattern).

    Crash ordering: output append first, then the NEAR-DUP fold, then
    the Bloom fold — the Bloom index decides keep/drop on a replay, so
    it commits last (see the inline comment at the fold site for the
    full crash-window argument; both folds are batch_id-watermarked
    no-ops once committed).
    """
    from lakehouse_spark_spark.operators.text import gopher_quality_cols

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # gate fused into one projection (r15): the word rules are
        # row-local, so stamping n_words + filtering keep needs no
        # self-join — the r14 shape joined the flags frame back onto
        # the batch by id, a full shuffle of every micro-batch for
        # values that never left their row.
        gq = gopher_quality_cols(
            text_col,
            min_words=min_words,
            max_words=max_words,
            stopword_min=stopword_min,
        )
        # eager pin: `gated` feeds the isEmpty probe, the dedup hash
        # projection, AND the n_words join back — unpinned, each action
        # re-executes the gate projection (same fan-out shape the
        # module's other checkpoints exist for)
        gated = (
            batch_df.withColumn("n_words", gq["n_words"])
            .filter(gq["keep"])
            .localCheckpoint(eager=True)
        )
        if gated.isEmpty():
            return
        idx = load_dedup_index(spark, index_path)
        disp = dedup_against_corpus_bloom(gated, None, id_col, text_col, index=idx)
        kept = (
            disp.filter("keep")
            .join(gated.select(id_col, text_col, "n_words"), id_col)
            .select(id_col, "content_hash", text_col, "n_words")
            .localCheckpoint(eager=True)
        )
        nd_sigs = None
        if neardup_index_path is not None:
            from pyspark.sql import functions as F

            from lakehouse_spark_spark.operators.neardup import (
                load_neardup_index,
                minhash_signatures,
                neardup_candidates_against_index,
                update_neardup_index,
            )

            nd_idx = load_neardup_index(spark, neardup_index_path)
            # sign ONCE per batch: the same signature frame feeds the
            # probe here and the index fold below (the shingle→minhash
            # pass is the dominant per-batch cost)
            sigs = minhash_signatures(
                kept, id_col, text_col, n=nd_idx.n, num_hashes=nd_idx.num_hashes
            ).localCheckpoint(eager=True)
            do_skew = (
                neardup_max_bucket is not None
                if neardup_record_skew is None
                else neardup_record_skew
            )
            if do_skew and neardup_max_bucket is not None:
                # skew observability (r14): record what the hot-bucket
                # guard skipped into the band index's manifest trail —
                # recording is manifest-generic, shared with the media
                # family (media_index_skew_health reads it back)
                from lakehouse_spark_spark.operators.mediaindex import record_probe_skew
                from lakehouse_spark_spark.operators.neardup import (
                    neardup_probe_skew_stats,
                )

                record_probe_skew(
                    neardup_index_path,
                    neardup_probe_skew_stats(
                        nd_idx, neardup_max_bucket, signatures=sigs, id_col=id_col
                    ),
                    batch_id=batch_id,
                )
            near = (
                neardup_candidates_against_index(
                    kept, nd_idx, id_col, text_col, signatures=sigs,
                    max_bucket=neardup_max_bucket,
                )
                .filter(F.col("est_jaccard") >= neardup_threshold)
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            kept = kept.join(near, id_col, "left_anti").localCheckpoint(eager=True)
            nd_sigs = sigs.join(kept.select(id_col), id_col)
        # ownership record (r15): this ledger is governed by BOTH its
        # index families — a bloom takedown keys on the content hash, a
        # near-dup takedown on the doc id; the canonical read
        # (sinks.read_kept_ledger) anti-joins each family's tombstones
        owners = [{"index_path": index_path, "ledger_col": "content_hash",
                   "tombstone_col": "content_hash"}]
        if neardup_index_path is not None:
            owners.append({"index_path": neardup_index_path, "ledger_col": id_col,
                           "tombstone_col": "__id"})
        record_kept_ledger_owner(kept_out, owners)
        append_once_parquet(kept.select(id_col, "content_hash", "n_words"), kept_out, batch_id)
        # fold ORDER: near-dup index strictly BEFORE the Bloom index.
        # The Bloom index is what decides keep/drop on a replay, so it
        # must commit LAST: a crash between the two folds leaves the
        # batch's signatures in the near-dup index but its hashes out
        # of the Bloom index, and the replay re-derives the SAME keeps
        # (hashes absent → still novel; self-pairs are excluded from
        # the probe, so the batch's own just-folded signatures cannot
        # drop it) and completes the Bloom fold. The REVERSE order
        # (r10 review finding) silently lost the signatures forever: a
        # committed Bloom fold makes the replayed batch all-dups, so
        # the near-dup fold would fold an EMPTY keep set and advance
        # its watermark — every future near-dup of those docs would
        # sail through. Residual window (crash after the near-dup
        # fold): within-batch near-dup pairs among the keeps can
        # cross-flag each other on replay, leaving some hashes out of
        # the Bloom index — harmless, because any future exact dup of
        # those docs scores est_jaccard 1.0 against the folded
        # signatures and drops at this stage instead. This fallback
        # holds even with neardup_max_bucket set: the probe exempts
        # equal-full-signature matches from the bucket cap (r11 ADVICE
        # — before that, a doc whose every band bucket was hot could
        # slip an exact dup past both stages).
        if neardup_index_path is not None:
            update_neardup_index(
                neardup_index_path, kept.select(id_col, text_col), id_col, text_col,
                batch_id=batch_id, signatures=nd_sigs,
            )
        update_dedup_index(index_path, kept.select("content_hash"), batch_id=batch_id)

    return fn


def media_ingest_foreach_batch(
    index_path: str,
    id_col: str,
    fp_col: str,
    kept_out: str,
    *,
    max_hamming: int = 6,
    max_bucket: int | None = None,
    record_skew: bool | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming MEDIA-fingerprint ingest with near-dup against the
    persisted Hamming-block index (operators/mediaindex) — the fourth
    leg of the persisted-index streaming family (exact-hash: Bloom;
    text near-dup: MinHash-LSH; semantic: IVF-PQ; media: this). The
    stream carries (id, fingerprint) rows — the caller's upstream
    stage runs the modality's fingerprint pass (image_hashes /
    audio_hashes) ONCE at arrival, which is the whole point: the decode
    never re-runs for accumulated assets. Per micro-batch:

    1. probe the batch against the persisted block index
       (media_candidates_against_index — O(batch + index), the corpus
       never re-decoded; ``max_bucket`` bounds hot buckets with the
       exact-fingerprint rescue keeping distance-0 dups visible);
    2. append the novel assets' ledger rows (id, fp) to ``kept_out``
       (exactly-once per epoch via append_once_parquet);
    3. fold the novel fingerprints into the index
       (update_media_fp_index, batch_id-watermarked).

    ``record_skew`` (r14 — default: on whenever ``max_bucket`` is set)
    measures what the hot-bucket guard skipped for this batch
    (media_probe_skew_stats — three bounded aggregates) and appends it
    to the index manifest's skew trail (record_probe_skew), surfaced by
    media_index_skew_health — the observability that keeps the
    max_bucket knob tunable with data instead of faith. Pure
    observability: a replayed epoch re-records (entries carry the
    batch_id, so duplicates are visible), answers never depend on it.

    Delivery matches the module contract: ledger commit BEFORE the
    fold (fold-first would make a replayed batch all-dups of itself —
    except the probe's id-exclusion prevents exactly that, but a
    first-attempt ledger that never committed could still not be
    reconstructed from an already-folded index without re-probing, so
    output-first stays the rule); a replayed epoch's fold is a
    watermark no-op. Within-batch near-dup pairs both keep (neither
    side is indexed yet — the compaction half), exactly like the text
    near-dup loop."""
    from lakehouse_spark_spark.operators.mediaindex import (
        load_media_fp_index,
        media_candidates_against_index,
        media_probe_skew_stats,
        record_probe_skew,
        update_media_fp_index,
    )

    do_skew = max_bucket is not None if record_skew is None else record_skew

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        idx = load_media_fp_index(spark, index_path)
        from pyspark.sql import functions as F

        if do_skew and max_bucket is not None:
            record_probe_skew(
                index_path,
                media_probe_skew_stats(batch_df, idx, id_col, fp_col, max_bucket),
                batch_id=batch_id,
            )
        dup_ids = (
            media_candidates_against_index(
                batch_df, idx, id_col, fp_col,
                max_hamming=max_hamming, max_bucket=max_bucket,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        # eager pin: the keep decision must not re-probe after the fold
        # below appends to the very parquet dirs the lazy plan scans
        kept = (
            batch_df.filter(F.col(fp_col).isNotNull())
            .join(dup_ids, id_col, "left_anti")
            .select(id_col, fp_col)
            .localCheckpoint(eager=True)
        )
        # ownership record (r15): a media takedown tombstoned in the
        # index must also leave this corpus-membership ledger
        record_kept_ledger_owner(
            kept_out,
            [{"index_path": index_path, "ledger_col": id_col, "tombstone_col": "__id"}],
        )
        append_once_parquet(kept, kept_out, batch_id)
        update_media_fp_index(index_path, kept, id_col, fp_col, batch_id=batch_id)

    return fn


def video_ingest_foreach_batch(
    index_path: str,
    id_col: str,
    media_col: str,
    kept_out: str,
    *,
    every_n: int = 4,
    max_hamming: int = 10,
    min_matched_frames: int = 3,
    frame_key_stride: int = 1_000_000,
    max_bucket: int | None = None,
    record_skew: bool | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming VIDEO ingest: clips arrive as (id, media) rows; each
    micro-batch is sampled + decoded + pHashed ONCE
    (video_frame_fingerprints), voted against the accumulated corpus'
    persisted FRAME index (video_candidates_against_index — the corpus
    is never re-decoded), novel clips' ids land in the exactly-once
    ledger, and their frame fingerprints fold in under the epoch
    watermark. The clip-level twin of :func:`media_ingest_foreach_batch`
    — same delivery contract (ledger before fold; replayed epochs are
    ledger skips + fold no-ops; within-batch clip dups both keep, the
    compaction half).

    QUARANTINE CONTRACT (pinned, matching
    :func:`media_ingest_foreach_batch`'s explicit null-fingerprint
    filter): a clip whose sampled frames are ALL undecodable yields no
    frame fingerprints, so it is neither flagged as a dup nor admitted
    to the kept ledger — single-modality loops drop assets with zero
    signal, because "novel" is unverifiable for them and folding
    nothing would admit them unindexed (every later copy would also
    sail through). The asset-level loop
    (:func:`multimodal_ingest_foreach_batch`) deliberately differs: an
    asset keeps if ANY supplied modality clears, since one failed
    decode doesn't void the others' signal.

    ``record_skew`` (r14 — default: on whenever ``max_bucket`` is set)
    records the frame-level hot-bucket skew measurement into the index
    manifest, exactly like the stills loop."""
    from pyspark.sql import functions as F

    from lakehouse_spark_spark.operators.mediaindex import (
        load_media_fp_index,
        media_probe_skew_stats,
        record_probe_skew,
        update_media_fp_index,
        video_candidates_against_index,
    )
    from lakehouse_spark_spark.operators.multimodal import video_frame_fingerprints

    do_skew = max_bucket is not None if record_skew is None else record_skew

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        idx = load_media_fp_index(spark, index_path)
        media = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(media_col).alias("media")
        )
        # decode+hash ONCE per batch: the same frame-fingerprint frame
        # feeds the vote probe and the index fold (the decode is the
        # dominant per-batch cost — the sign-once rationale)
        frame_fps = video_frame_fingerprints(
            media, every_n=every_n, frame_key_stride=frame_key_stride
        ).localCheckpoint(eager=True)
        if do_skew and max_bucket is not None:
            record_probe_skew(
                index_path,
                media_probe_skew_stats(frame_fps, idx, "doc_id", "fp", max_bucket),
                batch_id=batch_id,
            )
        dup_clips = (
            video_candidates_against_index(
                None, idx, every_n=every_n, max_hamming=max_hamming,
                min_matched_frames=min_matched_frames,
                frame_key_stride=frame_key_stride, max_bucket=max_bucket,
                frame_fps=frame_fps,
            )
            .select(F.col("new_id").alias("__clip"))
            .distinct()
        )
        kept_clips = (
            frame_fps.select(F.expr(f"doc_id DIV {frame_key_stride}").alias("__clip"))
            .distinct()
            .join(dup_clips, "__clip", "left_anti")
            .localCheckpoint(eager=True)
        )
        # ownership record (r15): the frame index's tombstones are
        # composite clip*stride+frame keys — the canonical ledger read
        # collapses them to clip ids via the recorded stride
        record_kept_ledger_owner(
            kept_out,
            [{"index_path": index_path, "ledger_col": id_col,
              "tombstone_col": "__id", "stride": frame_key_stride}],
        )
        append_once_parquet(kept_clips.select(F.col("__clip").alias(id_col)), kept_out, batch_id)
        kept_frames = frame_fps.join(
            kept_clips,
            F.expr(f"doc_id DIV {frame_key_stride}") == F.col("__clip"),
        ).select("doc_id", "fp")
        update_media_fp_index(index_path, kept_frames, "doc_id", "fp", batch_id=batch_id)

    return fn


def multimodal_ingest_foreach_batch(
    kept_out: str,
    id_col: str = "doc_id",
    *,
    text_index_path: str | None = None,
    text_col: str | None = None,
    text_max_hamming: int = 3,
    image_index_path: str | None = None,
    image_col: str | None = None,
    audio_index_path: str | None = None,
    audio_col: str | None = None,
    video_index_path: str | None = None,
    video_col: str | None = None,
    video_every_n: int = 4,
    frame_key_stride: int = 1_000_000,
    max_bucket: int | None = None,
    record_skew: bool | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ARRIVAL-TIME form of the cross-modal dedup disposition
    (operators/multimodal.multimodal_dedup_disposition): assets arrive
    as (id, <modality columns>) micro-batches; an asset drops when ANY
    of its supplied modalities near-dups the ACCUMULATED corpus —
    which is the per-modality persisted fingerprint indexes alone,
    never the corpus media (the one-shot disposition re-decodes
    everything every run; here each asset is decoded exactly once, at
    ITS arrival). Per micro-batch:

    1. hash each supplied modality ONCE (text SimHash; image
       pHash+dHash from one decode — image_hashes; audio afp+alt
       geometry from one decode — audio_hashes; video frame pHash);
    2. probe each modality's index at the one-shot disposition's radii
       (image pHash 10, audio afp 6, video frame pHash 10 with a
       3-frame vote) — image and audio probes run the persisted verify
       conjunction (dHash within 8, second afp geometry within 4)
       whenever the index carries the aux column (``aux_fp_cols``),
       killing the phase-adjacent single-signal false pairs exactly
       like the one-shot disposition's verify stage; video probes with
       the frame vote;
    3. union the flagged asset ids, append the NOVEL ids to the
       exactly-once ledger, then fold each modality's KEPT
       fingerprints into its index under the same epoch watermark
       (deterministic order text→image→audio→video).

    Delivery: the ledger commits before any fold; replayed epochs are
    ledger skips + per-index watermark no-ops, and the probes' self-id
    exclusion keeps a replayed batch from flagging itself. Residual
    window (the curated text loop's documented one, inherited): a
    crash BETWEEN folds can let within-batch near-dup pairs cross-flag
    on replay, leaving one member's fingerprints out of the
    not-yet-committed indexes — harmless for dedup, because any future
    copy still matches the cross-flagged twin that DID fold. Whole-
    component clustering of within-batch pairs remains the one-shot
    disposition's job (run it over the ledger periodically — the
    compaction half).

    ``record_skew`` (r14 — default: on whenever ``max_bucket`` is set)
    records each probed modality's hot-bucket skew measurement into ITS
    index manifest (media_probe_skew_stats / record_probe_skew), read
    back per index by media_index_skew_health."""
    from lakehouse_spark_spark.operators.mediaindex import (
        load_media_fp_index,
        media_candidates_against_index,
        media_probe_skew_stats,
        record_probe_skew,
        update_media_fp_index,
        video_candidates_against_index,
    )
    from lakehouse_spark_spark.operators.multimodal import (
        audio_hashes,
        image_hashes,
        video_frame_fingerprints,
    )
    from lakehouse_spark_spark.operators.neardup import simhash

    do_skew_default = max_bucket is not None if record_skew is None else record_skew

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from pyspark.sql import functions as F

        def _skew(path, idx, fps, fps_id):
            if do_skew_default and max_bucket is not None:
                record_probe_skew(
                    path,
                    media_probe_skew_stats(fps, idx, fps_id, "fp", max_bucket),
                    batch_id=batch_id,
                )

        ids = batch_df.select(F.col(id_col)).distinct()
        dup_frames = []
        folds = []  # (index_path, kept-fps builder input)

        if text_index_path is not None and text_col is not None:
            idx = load_media_fp_index(spark, text_index_path)
            fps = simhash(
                batch_df.select(F.col(id_col), F.col(text_col)), id_col, text_col
            ).withColumnRenamed("simhash", "fp").localCheckpoint(eager=True)
            _skew(text_index_path, idx, fps, id_col)
            cand = media_candidates_against_index(
                fps, idx, id_col, "fp", max_hamming=text_max_hamming, max_bucket=max_bucket
            )
            dup_frames.append(cand.select(F.col("new_id").alias(id_col)))
            folds.append((text_index_path, fps, "asset"))
        if image_index_path is not None and image_col is not None:
            idx = load_media_fp_index(spark, image_index_path)
            med = batch_df.select(F.col(id_col).alias("doc_id"), F.col(image_col).alias("media"))
            fps = (
                image_hashes(med)
                .filter(F.col("phash").isNotNull())
                .select(F.col("doc_id").alias(id_col), F.col("phash").alias("fp"), "dhash")
                .localCheckpoint(eager=True)
            )
            _skew(image_index_path, idx, fps, id_col)
            verify = ("dhash", 8) if "dhash" in idx.aux_fp_cols else None
            cand = media_candidates_against_index(
                fps, idx, id_col, "fp", max_hamming=10, max_bucket=max_bucket, verify_aux=verify,
            )
            dup_frames.append(cand.select(F.col("new_id").alias(id_col)))
            folds.append((image_index_path, fps, "asset"))
        if audio_index_path is not None and audio_col is not None:
            idx = load_media_fp_index(spark, audio_index_path)
            med = batch_df.select(F.col(id_col).alias("doc_id"), F.col(audio_col).alias("media"))
            fps = (
                audio_hashes(med)
                .filter(F.col("afp").isNotNull())
                .select(F.col("doc_id").alias(id_col), F.col("afp").alias("fp"), "afp_alt")
                .localCheckpoint(eager=True)
            )
            _skew(audio_index_path, idx, fps, id_col)
            verify = ("afp_alt", 4) if "afp_alt" in idx.aux_fp_cols else None
            cand = media_candidates_against_index(
                fps, idx, id_col, "fp", max_hamming=6, max_bucket=max_bucket, verify_aux=verify,
            )
            dup_frames.append(cand.select(F.col("new_id").alias(id_col)))
            folds.append((audio_index_path, fps, "asset"))
        if video_index_path is not None and video_col is not None:
            idx = load_media_fp_index(spark, video_index_path)
            med = batch_df.select(F.col(id_col).alias("doc_id"), F.col(video_col).alias("media"))
            fps = video_frame_fingerprints(
                med, every_n=video_every_n, frame_key_stride=frame_key_stride
            ).localCheckpoint(eager=True)
            _skew(video_index_path, idx, fps, "doc_id")
            cand = video_candidates_against_index(
                None, idx, every_n=video_every_n, max_hamming=10, min_matched_frames=3,
                frame_key_stride=frame_key_stride, max_bucket=max_bucket, frame_fps=fps,
            )
            dup_frames.append(cand.select(F.col("new_id").alias(id_col)))
            folds.append((video_index_path, fps, "frames"))
        if not dup_frames:
            raise ValueError("multimodal_ingest_foreach_batch: supply at least one modality")

        dups = dup_frames[0]
        for d in dup_frames[1:]:
            dups = dups.unionByName(d)
        kept = ids.join(dups.distinct(), id_col, "left_anti").localCheckpoint(eager=True)
        # ownership record (r15): the asset ledger is governed by every
        # supplied modality's index — a takedown in ANY of them must
        # leave the membership record (the video frame index maps its
        # composite keys back to asset ids via the stride)
        owners = []
        for p, c in (
            (text_index_path, text_col),
            (image_index_path, image_col),
            (audio_index_path, audio_col),
        ):
            if p is not None and c is not None:
                owners.append(
                    {"index_path": p, "ledger_col": id_col, "tombstone_col": "__id"}
                )
        if video_index_path is not None and video_col is not None:
            owners.append(
                {"index_path": video_index_path, "ledger_col": id_col,
                 "tombstone_col": "__id", "stride": frame_key_stride}
            )
        record_kept_ledger_owner(kept_out, owners)
        append_once_parquet(kept, kept_out, batch_id)
        for path, fps, kind in folds:
            if kind == "asset":  # asset-keyed fps (text/image/audio)
                kept_fps = fps.join(kept, id_col)
                fp_id = id_col
            else:  # video frame fps: composite clip*stride+frame keys
                kept_fps = fps.alias("f").join(
                    kept.alias("k"),
                    F.expr(f"f.doc_id DIV {frame_key_stride}") == F.col(f"k.{id_col}"),
                ).select("f.doc_id", "f.fp")
                fp_id = "doc_id"
            update_media_fp_index(path, kept_fps, fp_id, "fp", batch_id=batch_id)

    return fn


def ann_ingest_foreach_batch(
    index_path: str,
    vec_col: str,
    kept_out: str,
    *,
    threshold: float = 0.95,
    n_probe_cells: int = 1,
    measure_recall: bool = True,
    auto_rebuild: bool = False,
) -> Callable[[DataFrame, int], None]:
    """Streaming EMBEDDING ingest with semantic dedup against the
    persisted IVF-PQ index (operators/annindex) — the third leg of the
    persisted-index streaming family (exact-hash: Bloom; text near-dup:
    MinHash-LSH; semantic: this). Per micro-batch of (id, vector):

    1. flag batch vectors whose in-cell cosine to ANY accumulated
       corpus vector reaches ``threshold``
       (semantic_dedup_against_index — cell-pruned, no driver collect
       of vectors, zero corpus-embedding reads; ``n_probe_cells`` > 1
       multi-probes each vector's top-p cells to catch near-dups that
       straddle a cell boundary, at ≤ p/n_cells of the cells-table
       read);
    2. append the novel vectors' ledger rows (id, cell,
       max_corpus_cos) to ``kept_out``;
    3. fold the novel vectors into the index under the FROZEN model
       (update_ann_index, batch_id-watermarked). By default each fold
       also re-scores the persisted recall panel into the health trail
       (r12) — a ≤64-query index search per epoch, worth several Spark
       stages of latency; ``measure_recall=False`` opts a
       latency-critical stream out (drift health then keeps only the
       residual/occupancy signals, and a periodic ann_index_health
       check can re-measure recall out-of-band via update-less probes).

    Delivery matches the module contract: exactly-once ledger commit
    (append_once_parquet, keyed on the epoch id) before the index fold;
    a replayed epoch's fold is a watermark no-op, and the probe's
    id-exclusion keeps a replayed batch from flagging itself. Within-batch semantic dups keep (neither side is
    indexed yet) — the periodic-compaction half, exactly like the
    near-dup loop. Model drift under a long stream is the documented
    FAISS-add() trade: periodic write_ann_index rebuilds re-train.

    ``auto_rebuild=True`` makes the loop SELF-HEALING (r12): after each
    fold it runs maybe_rebuild_ann_index — a manifest-read no-op until
    the health trend flags (residual drift ≥ 1.5x baseline OR the
    fullest cell ≥ 4x build-time mean occupancy), then the O(corpus)
    re-train/re-encode with occupancy-policy n_cells, inside the
    foreachBatch epoch so the NEXT batch probes the re-celled index.
    The rebuild preserves the epoch watermark (replays of pre-rebuild
    epochs stay no-ops) and flips all table families atomically, so
    crash anywhere in the rebuild leaves the pre-rebuild index fully
    live — the at-least-once epoch contract is unchanged. Off by
    default: a rebuild mid-stream trades one long epoch for bounded
    in-cell quadratics; latency-critical streams run the same policy
    out-of-band instead.
    """
    from lakehouse_spark_spark.operators.annindex import (
        _encode_with_vec,
        load_ann_index,
        semantic_dedup_against_index,
        update_ann_index,
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        idx = load_ann_index(spark, index_path)
        id_col = idx.id_col
        # encode ONCE per batch: the same (id, cell, codes, vec) frame
        # feeds the dedup probe and the index fold (the Arrow encode
        # pass is the dominant per-batch cost — the near-dup loop's
        # sign-once rationale, applied here)
        enc = _encode_with_vec(
            batch_df, id_col, vec_col, idx.centroids, idx.codebooks
        ).localCheckpoint(eager=True)
        disp = semantic_dedup_against_index(
            batch_df, idx, vec_col, threshold=threshold, encoded=enc,
            n_probe_cells=n_probe_cells,
        )
        kept_ids = disp.filter("NOT dup").select(id_col, "max_corpus_cos")
        kept = enc.join(kept_ids, id_col).localCheckpoint(eager=True)
        # ownership record (r15): an ANN takedown tombstoned in the
        # index must also leave this corpus-membership ledger (the ANN
        # family's tombstone column IS its manifest id_col)
        record_kept_ledger_owner(
            kept_out,
            [{"index_path": index_path, "ledger_col": id_col, "tombstone_col": id_col}],
        )
        append_once_parquet(kept.select(id_col, "cell", "max_corpus_cos"), kept_out, batch_id)
        update_ann_index(
            index_path, kept, vec_col, batch_id=batch_id, encoded=kept,
            measure_recall=measure_recall,
        )
        if auto_rebuild:
            from lakehouse_spark_spark.operators.annindex import maybe_rebuild_ann_index

            maybe_rebuild_ann_index(spark, index_path)

    return fn
