"""Sinks: parquet (the scale path) and reference-parity single-file CSV.

Reference parity: src/pipeline.py:21-36 writes every gold table through
``coalesce(1)`` + driver-side glob/rename (SURVEY.md S3/S4). We keep a
utility with those semantics for golden-output replay, but the default
sink is overwrite-mode parquet, optionally partitioned — at 100 TB a
``coalesce(1)`` CSV write serializes the whole job through one task and
is exactly what NOT to do.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    """Idempotent columnar sink (SURVEY.md S4: re-runs don't duplicate).

    ``partition_by`` a low-cardinality column (e.g. a date) to get
    dynamic partition pruning on downstream scans.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Newline-delimited JSON sink (interchange format; columnar parquet
    remains the data-plane default)."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_single_csv(df: DataFrame, out_path: str) -> None:
    """Reference-parity single-file CSV sink (src/pipeline.py:21-36):
    write to a temp dir with one task, then atomically publish the part
    file with os.replace (same filesystem, so a crash leaves either the
    old file or the new one — never a missing/partial one). For small
    control-plane outputs (DQ results, run logs) only."""
    tmp = out_path + "__tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    os.replace(part, out_path)
    shutil.rmtree(tmp)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 256,
    distinct: bool = False,
    exclude: "DataFrame | None" = None,
    exclude_on: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(bytes / target) files. The lakehouse maintenance op every
    streaming/incremental sink eventually needs — thousands of KB-scale
    part files turn scans into metadata storms. Returns the new file
    count. (Delta/Iceberg do this as OPTIMIZE; this is the plain-parquet
    form: full rewrite through a temp dir, then a two-rename swap — the
    old data is moved ASIDE first, so every crash window leaves a
    complete copy on disk for recovery; only the final cleanup deletes
    it. Single-directory renames are not one atomic op, so concurrent
    READERS still need a transactional table format — this protects
    against data loss, not reader isolation.) ``distinct=True`` also
    drops exact-duplicate rows during the rewrite — the repair pass for
    append-mode sinks whose writer replayed a batch (e.g. the bloom
    dedup index's hash set). ``exclude`` (with ``exclude_on`` join
    keys) anti-joins rows OUT during the rewrite — the physical-purge
    hook the tombstone protocol routes deletions through (r14): a
    compaction is the one moment the whole table is rewritten anyway,
    so purging tombstoned rows here costs one extra anti-join, not an
    extra pass.

    REFUSES an :func:`append_once_parquet` ledger (``batch_id=`` dirs /
    floor manifest): the flat rewrite would erase the per-epoch
    partition dirs the replay exists-check depends on (exactly-once
    silently degrades to at-least-once) and the next append would
    re-adopt the flat files as ``batch_id=-1`` with a colliding
    physical ``batch_id`` column — an unreadable ledger. Use
    :func:`compact_ledger_parquet`, which preserves both."""
    import math
    import os

    if os.path.isdir(path) and (
        os.path.exists(os.path.join(path, _LEDGER_MANIFEST))
        or any(n.startswith("batch_id=") for n in os.listdir(path))
    ):
        raise ValueError(
            f"compact_parquet: {path} is an append_once_parquet ledger — "
            "a flat rewrite would break its exactly-once replay contract; "
            "use compact_ledger_parquet instead"
        )
    size = sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs)
    n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if distinct:
        df = df.distinct()
    if exclude is not None:
        df = df.join(exclude, exclude_on or exclude.columns, "left_anti")
    tmp = path.rstrip("/") + "__compact"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    _swap_dirs(tmp, path)
    return n_files


def _swap_dirs(tmp: str, path: str) -> None:
    """Publish ``tmp`` at ``path`` without a data-loss window: rename the
    old directory aside, rename tmp into place, then delete the
    set-aside copy. A crash between the renames leaves the dataset
    recoverable at ``path + '__old'``."""
    import os
    import shutil

    old = path.rstrip("/") + "__old"
    shutil.rmtree(old, ignore_errors=True)  # stale leftover from a prior crash
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def upsert_parquet(spark, path: str, updates: DataFrame, key_cols: list[str]) -> None:
    """MERGE-emulation for plain parquet: existing rows whose key appears
    in ``updates`` are replaced; new keys are appended. Full
    read-antijoin-union-rewrite — the plain-parquet cost of an upsert,
    and the reason transactional formats (Delta MERGE INTO) exist: they
    rewrite only the touched files. Publishes via the same
    rename-aside swap as compact_parquet (no data-loss window)."""
    import os

    existing = spark.read.parquet(path) if os.path.exists(path) else None
    if existing is not None:
        keys = updates.select(*key_cols).distinct()
        kept = existing.join(keys, on=key_cols, how="left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    tmp = path.rstrip("/") + "__upsert"
    merged.write.mode("overwrite").parquet(tmp)
    _swap_dirs(tmp, path)


# --- versioned-dir + manifest-pointer commit protocol ------------------
# Shared by the three persisted-index families (operators/bloom,
# operators/neardup, operators/annindex): data versions land in fresh
# `<family>_v{n}` dirs, a tiny JSON manifest names the current one, and
# commits are a whole-file manifest replace — atomic on POSIX and on
# object stores (single-object PUT), no directory-rename-atomicity
# assumption anywhere. One implementation so the protocol can't drift
# per family (r11 review: three copies had already grown three
# legacy-name tuples).


def write_manifest_atomic(path: str, manifest: dict, filename: str = "manifest.json") -> None:
    """Atomic pointer flip: write aside, then ``os.replace`` — a single
    whole-file publish, the manifest-pointer commit shape (what
    Iceberg/Delta do with their metadata pointer). A reader always sees
    the previous manifest or the new one, never a torn file."""
    import json
    import os

    tmp = os.path.join(path, filename + ".tmp")
    os.makedirs(path, exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, filename))


def resolve_versioned_dir(path: str, mf: dict, family: str) -> str:
    """The manifest-pointed current dir for a versioned table family
    (key ``<family>_dir``; absent means the original unversioned
    ``<family>`` dir — a pre-versioning manifest), tolerating the
    legacy interrupted-``_swap_dirs`` crash state where only
    ``<dir>__old`` survives: served DIRECTLY, never renamed from a
    read path — a reader that mutates can race a legacy writer between
    the two renames (r10 ADVICE). The durable repair belongs to the
    family's single-writer update path."""
    import os

    cur = mf.get(f"{family}_dir", family)
    full = os.path.join(path, cur)
    if not os.path.exists(full) and os.path.exists(full + "__old"):
        return full + "__old"
    return full


def gc_versioned_dirs(
    path: str,
    family: str,
    keep_dir: str,
    retain_dir: str | None,
    extra_legacy: tuple[str, ...] = (),
) -> None:
    """Best-effort cleanup of superseded ``<family>_v*`` dirs (and the
    family's legacy unversioned/``__old``/``__compact`` leftovers)
    after a manifest flip, with ONE-version retention: ``retain_dir`` —
    the version the flip just superseded — stays until the NEXT flip so
    in-flight reader frames (lazy scans under the previous manifest)
    keep resolving (r10 ADVICE: immediate deletion broke them). Runs
    after the flip, so a crash here only leaves garbage for the next
    flip to retry."""
    import os
    import shutil

    legacy = {family, f"{family}__compact", f"{family}__old", *extra_legacy}
    for name in os.listdir(path):
        if name == keep_dir or (retain_dir is not None and name == retain_dir):
            continue
        if name.startswith(f"{family}_v") or name in legacy:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)


# Ledger floor manifest (dot-prefixed: hidden from Spark's file index).
# Written by compact_ledger_parquet; records the highest epoch whose rows
# are guaranteed committed ("floor") so the replay exists-check survives
# any future layout change a compaction makes to the partition dirs.
_LEDGER_MANIFEST = ".ledger_manifest.json"


def _ledger_manifest(base_dir: str) -> dict | None:
    import json
    import os

    p = os.path.join(base_dir, _LEDGER_MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _ledger_floor(base_dir: str) -> int | None:
    mf = _ledger_manifest(base_dir)
    v = None if mf is None else mf.get("floor_batch_id")
    return None if v is None else int(v)


def compact_ledger_parquet(
    spark, base_dir: str, target_file_mb: int = 256, merge_history: bool = False,
    exclude: "DataFrame | None" = None, exclude_on: list[str] | None = None,
) -> int:
    """Ledger-aware compaction — the maintenance job an
    :func:`append_once_parquet` ledger can actually use (the flat
    :func:`compact_parquet` rewrite would corrupt it and now refuses).
    A year-long stream leaves thousands of ``batch_id=`` dirs, each
    holding a handful of KB-scale files; this rewrites the whole ledger
    in one pass, ``partitionBy("batch_id")``, into size-targeted files
    (the per-epoch dirs survive — they ARE the replay exists-check),
    and records a floor manifest (``floor_batch_id`` = highest
    committed epoch) INSIDE the staging dir before the swap, so
    :func:`append_once_parquet` keeps skipping replayed epochs even if
    a future compaction merges or drops partition dirs. Publishes via
    the same rename-aside swap as :func:`compact_parquet` (no data-loss
    window; local-FS reader-isolation caveat applies). Single-writer
    contract: don't run concurrently with the stream's own epoch
    commits. Returns the new data-file count.

    ``merge_history=True`` (r13 — the follow-on the r12 design note
    licensed): epochs AT OR BELOW the floor — committed by definition,
    their replay check consults the floor BEFORE any dir — collapse
    into ONE ``batch_id=-2`` history partition, with per-row provenance
    preserved in a new ``orig_batch_id`` data column (existing values
    kept on re-merge; the adopted-legacy ``batch_id=-1`` partition
    folds in as ``orig_batch_id=-1``). The whole ledger is rewritten in
    the same pass, so EVERY file carries the column — no mixed-schema
    reads — and the floor manifest records ``history_merged``, which
    makes :func:`append_once_parquet` stamp the column onto every
    subsequent epoch. This is the object-store dir-listing fix for a
    stream whose per-epoch dir count ever dominates: one history dir of
    size-targeted files + a handful of live epoch dirs, with exact
    provenance intact and the exactly-once contract unchanged (floor
    covers merged epochs; dirs cover live ones).

    ``exclude`` (with ``exclude_on`` join keys) anti-joins rows OUT
    during the rewrite — the KEPT-LEDGER physical-purge hook (r15): a
    takedown must leave the corpus-membership ledgers too, not just
    the indexes, and the compaction is the one moment the whole ledger
    is rewritten anyway. The per-epoch partition layout survives (an
    epoch whose every row is excluded keeps an EMPTY dir is not
    guaranteed — the replay exists-check is covered by the floor
    manifest, which this function always writes at the current max
    epoch, so a fully-purged epoch still replays as a committed
    no-op)."""
    import json
    import math
    import os

    from pyspark.sql import functions as F

    names = os.listdir(base_dir)
    ids = [int(n.split("=", 1)[1]) for n in names if n.startswith("batch_id=")]
    if not ids and not os.path.exists(os.path.join(base_dir, _LEDGER_MANIFEST)):
        raise ValueError(
            f"compact_ledger_parquet: {base_dir} has no batch_id= partitions — "
            "not an append_once_parquet ledger; use compact_parquet"
        )
    prior = _ledger_manifest(base_dir) or {}
    prior_floor = prior.get("floor_batch_id")
    prior_floor = None if prior_floor is None else int(prior_floor)
    floor = max([i for i in ids if i >= 0] + ([prior_floor] if prior_floor is not None else []), default=None)
    size = sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(base_dir) for f in fs)
    n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(base_dir)  # batch_id inferred as partition column
    if exclude is not None:
        df = df.join(exclude, exclude_on or exclude.columns, "left_anti")
    merged = bool(prior.get("history_merged", False))
    if merge_history or merged:
        # provenance column: keep existing values (already-merged rows),
        # else the row's own epoch
        orig = (
            F.coalesce(F.col("orig_batch_id"), F.col("batch_id"))
            if "orig_batch_id" in df.columns
            else F.col("batch_id")
        )
        df = df.withColumn("orig_batch_id", orig.cast("long"))
        merged = True
    if merge_history:
        # negative partitions (the adopted-legacy -1, a prior merge's
        # -2) collapse UNCONDITIONALLY — they are committed by
        # construction, floor or no floor. Without this, a ledger whose
        # only partition is batch_id=-1 (no non-negative epochs yet)
        # would stamp history_merged while leaving -1 unmerged — the
        # manifest claiming a layout the dirs don't have (r13 ADVICE).
        cond = F.col("batch_id") < 0
        if floor is not None:
            cond = cond | (F.col("batch_id") <= floor)
        df = df.withColumn(
            "batch_id", F.when(cond, F.lit(-2)).otherwise(F.col("batch_id"))
        )
    tmp = base_dir.rstrip("/") + "__compact"
    df.repartition(n_files, "batch_id").write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    with open(os.path.join(tmp, _LEDGER_MANIFEST), "w") as fh:
        json.dump({**prior, "floor_batch_id": floor, "history_merged": merged}, fh)
    # sidecars must survive the rewrite (r15): losing the kept-ledger
    # owner record would silently turn the canonical tombstone-filtered
    # read back into a plain one until the next epoch re-records it;
    # losing the purge-state record would erase the audit trail
    import shutil as _shutil

    for sidecar in (_KEPT_OWNER_FILENAME, _PURGE_STATE_FILENAME):
        p = os.path.join(base_dir, sidecar)
        if os.path.exists(p):
            _shutil.copy2(p, os.path.join(tmp, sidecar))
    _swap_dirs(tmp, base_dir)
    return sum(
        1 for dp, _, fs in os.walk(base_dir) for f in fs if f.startswith("part-") and f.endswith(".parquet")
    )


def append_once_parquet(df: DataFrame, base_dir: str, batch_id: int) -> bool:
    """Exactly-once micro-batch append for plain parquet (the
    foreachBatch ledger sink): each batch's rows land in their own
    ``batch_id={n}`` partition directory, committed by ONE atomic
    rename from a dot-prefixed staging dir (hidden from Spark's file
    index, so readers never see a half-written batch). If the partition
    directory already exists, a prior attempt of this same epoch
    committed it; the rows on disk were computed against the identical
    pre-fold index state and are authoritative, so the replay skips the
    write and returns False.

    This closes BOTH replay windows a per-epoch ledger has:
    - plain ``mode("append")`` duplicates rows when the crash lands
      between the ledger append and the index fold (at-least-once);
    - a naive per-batch ``mode("overwrite")`` of the partition dir
      LOSES rows when the crash lands after the index fold — the
      replayed batch re-dedups as all-dups and would overwrite the
      committed ledger rows with an empty set.

    Readers ``spark.read.parquet(base_dir)`` and see ``batch_id`` as an
    inferred partition column — per-batch provenance for free. A
    pre-existing FLAT ledger (plain ``mode("append")`` part files at
    the root) is adopted on first contact as the ``batch_id=-1``
    partition, so upgraded streams keep their history readable. Scale:
    O(batch) per call (no read-modify-write of the accumulated ledger,
    unlike :func:`upsert_parquet`); the accumulated small per-batch
    files/dirs are :func:`compact_ledger_parquet`'s input — NOT
    :func:`compact_parquet`, whose flat rewrite would erase the
    partition dirs this function's replay check depends on (it now
    refuses ledgers). A compacted ledger also carries a floor manifest;
    epochs at or below the floor are committed by definition and skip
    the write even if their partition dir were ever merged away.

    Durability scope: unlike the manifest-pointer protocol above (a
    whole-file PUT, object-store-safe), the per-epoch commit here is an
    ``os.rename`` of a DIRECTORY — atomic on a local/POSIX filesystem
    only (the same caveat as :func:`_swap_dirs`). On an object store,
    route the ledger through a transactional table format or commit
    each epoch behind its own manifest pointer.
    """
    import os
    import shutil

    if batch_id < 0:
        # -1 is the reserved adopted-legacy partition (below); any
        # negative id would collide with it or read as one — and the
        # exists-check would then silently DROP the caller's rows
        raise ValueError(f"batch_id must be >= 0 (got {batch_id}); -1 is reserved")
    # legacy upgrade: a pre-exactly-once ledger wrote flat part files at
    # the root (mode("append")); mixed-depth parquet leaves would make
    # partition discovery throw for the WHOLE ledger once the first
    # batch_id= dir lands. Adopt them as batch_id=-1 (epoch unknown).
    # Files move through a dot-prefixed staging dir (hidden from Spark
    # file listings) and the partition appears via ONE rename, so a
    # concurrent reader never sees mixed-depth leaves — during the
    # one-time migration it sees a shrinking flat ledger, then the
    # final layout (the brief all-moved instant can read as an empty
    # ledger; single-writer streams don't race their own upgrade).
    # Idempotent if interrupted: the next call resumes the moves and,
    # if batch_id=-1 already exists, merges the stragglers into it.
    if os.path.isdir(base_dir):
        legacy = [f for f in os.listdir(base_dir) if f.startswith("part-")]
        mig = os.path.join(base_dir, ".migrating__legacy")
        if legacy or os.path.isdir(mig):
            os.makedirs(mig, exist_ok=True)
            for f in legacy:
                os.replace(os.path.join(base_dir, f), os.path.join(mig, f))
                crc = os.path.join(base_dir, f".{f}.crc")
                if os.path.exists(crc):  # keep local-fs checksums paired
                    os.replace(crc, os.path.join(mig, f".{f}.crc"))
            legdir = os.path.join(base_dir, "batch_id=-1")
            if not os.path.exists(legdir):
                os.rename(mig, legdir)
            else:  # resumed after a crash between rename and cleanup
                for f in os.listdir(mig):
                    os.replace(os.path.join(mig, f), os.path.join(legdir, f))
                os.rmdir(mig)
    # committed-epoch checks: the compaction floor first (survives any
    # partition-dir rewrite), then the per-epoch dir itself
    merged = False
    if os.path.isdir(base_dir):
        mf = _ledger_manifest(base_dir)
        if mf is not None:
            floor = mf.get("floor_batch_id")
            if floor is not None and batch_id <= int(floor):
                return False
            merged = bool(mf.get("history_merged", False))
    final = os.path.join(base_dir, f"batch_id={batch_id}")
    if os.path.exists(final):
        return False
    if merged:
        # a history-merged ledger carries orig_batch_id in EVERY file
        # (compact_ledger_parquet merge_history rewrote them all);
        # stamping it here keeps the schema uniform for plain readers
        from pyspark.sql import functions as F

        if "orig_batch_id" not in df.columns:
            df = df.withColumn("orig_batch_id", F.lit(int(batch_id)).cast("long"))
    staging = os.path.join(base_dir, f".staging__batch_{batch_id}")
    shutil.rmtree(staging, ignore_errors=True)  # prior crashed attempt
    df.write.mode("overwrite").parquet(staging)
    os.rename(staging, final)
    return True


# --- tombstone ledger: the deletion/retraction protocol ----------------
# Shared by the five persisted-index families (r14; the r13 verdict's
# task 1): a training-data pipeline legally must handle takedowns and
# opt-outs, and an append-only index has no way to express one. The
# tombstone ledger is the smallest durable shape that does:
#
# - a ``tombstones/`` ledger inside the family's base dir, written with
#   the SAME exactly-once protocol as every other ledger
#   (:func:`append_once_parquet` — per-epoch partition dirs, atomic
#   rename commit, floor manifest after compaction), holding one row
#   per deleted id;
# - every family's ``load_*_index`` anti-joins its tables against the
#   ledger, so every probe, rescue join, and rebuild sees the
#   post-delete index (one filter point per family instead of one per
#   probe — a probe added later can't forget it). No tombstones on
#   disk → no join in the plan, zero cost for non-deleting users;
# - physical purge rides the family's COMPACTION (the one moment the
#   table is rewritten anyway — ``compact_parquet(exclude=...)`` /
#   the versioned-dir rewrites), so a takedown is logically immediate
#   and physically durable at the next maintenance pass;
# - the ledger itself is RETAINED after purge (ids only — KB-scale):
#   a not-yet-watermarked fold replay could otherwise re-append rows
#   whose delete landed between the fold and its replay. The Bloom
#   family's rebuild-from-hashes is the one operation that may clear
#   it (its filter bits are re-derived from the purged hash set, so
#   nothing on disk can resurrect the rows).
#
# Deletion is keyed on the family's ID column. Re-upload semantics:
# id-keyed families (near-dup, media, ANN, decon) give re-uploads a
# NEW id, so they are admitted as novel while the dead id stays
# suppressed forever. The Bloom family is keyed on the CONTENT hash —
# its fold lifts a hash's tombstone when the content is legitimately
# re-admitted (see operators/bloom.update_dedup_index), otherwise a
# re-admitted document could never again suppress its own future dups.

_TOMBSTONE_DIRNAME = "tombstones"


def tombstone_dir(base_dir: str) -> str:
    return os.path.join(base_dir, _TOMBSTONE_DIRNAME)


def add_tombstones(ids: DataFrame, base_dir: str, batch_id: int | None = None) -> bool:
    """Record deletions for the persisted family at ``base_dir``:
    append ``ids`` (a one-column frame of the family's id values) to
    the ``tombstones/`` ledger. ``batch_id`` gives replayable callers
    (a takedown STREAM) the standard exactly-once epoch semantics;
    ``None`` (ad-hoc takedowns — the common case) auto-assigns the
    next free epoch above both the existing partition dirs and the
    compaction floor. Single-writer contract, like every ledger.
    Returns False when a replayed epoch was already committed."""
    import os

    tdir = tombstone_dir(base_dir)
    if batch_id is None:
        existing = []
        if os.path.isdir(tdir):
            existing = [
                int(n.split("=", 1)[1])
                for n in os.listdir(tdir)
                if n.startswith("batch_id=")
            ]
        floor = _ledger_floor(tdir) if os.path.isdir(tdir) else None
        batch_id = max(
            [i for i in existing if i >= 0] + ([floor] if floor is not None else []),
            default=-1,
        ) + 1
    return append_once_parquet(ids, tdir, batch_id)


def load_tombstones(spark, base_dir: str) -> "DataFrame | None":
    """The distinct tombstoned ids for a family base dir, or ``None``
    when no tombstone ledger exists (the fast path — callers skip the
    anti-join entirely, keeping non-deleting plans byte-identical to
    pre-tombstone ones). Ledger bookkeeping columns (the ``batch_id``
    partition column, ``orig_batch_id`` provenance after a history
    merge, the bloom family's ``min_lift_epoch`` replay guard) are
    dropped — consumers join on the id column alone."""
    import os

    tdir = tombstone_dir(base_dir)
    if not os.path.isdir(tdir):
        return None
    # partition dirs are the data; a floor manifest alone (every epoch
    # lifted — see bloom's re-admission path) means no active tombstones
    if not any(n.startswith("batch_id=") for n in os.listdir(tdir)):
        return None
    df = spark.read.parquet(tdir)
    drop = [c for c in ("batch_id", "orig_batch_id", "min_lift_epoch") if c in df.columns]
    return df.drop(*drop).distinct()


def parquet_footer_rows(path: str) -> int | None:
    """Total row count of a parquet directory from file FOOTERS alone —
    driver-side pyarrow metadata reads, no Spark job, no data pages
    touched. The persisted probes size their hot-set broadcast hint
    from it instead of a plan-time ``count()``: an index's row count is
    sitting in its footers already. Returns None when the directory has
    no readable parquet files (callers fall back to their documented
    default)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    total = 0
    seen = False
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.endswith(".parquet") or f.startswith("."):
                continue
            try:
                total += pq.read_metadata(os.path.join(dp, f)).num_rows
                seen = True
            except Exception:
                return None
    return total if seen else None


def ids_to_frame(
    spark, ids, out_col: str, id_col: str | None = None, dtype: str | None = None
) -> DataFrame:
    """Normalize a caller's deletion request into the one-column frame
    the tombstone ledger stores: accepts a DataFrame (``id_col``, or
    its only column) or a plain iterable of values (takedown requests
    usually arrive as a handful of ids, not a frame).

    Type safety (r15 ADVICE): a DataFrame's id column keeps ITS OWN
    type by default — the old unconditional cast-to-long turned a
    string-keyed index's tombstones into all-NULL rows, and NULLs
    never match an anti-join, so the takedown silently no-opped. When
    ``dtype`` IS requested, a cast that nulls a non-null id raises
    instead of recording a ledger that can never match. Iterable input
    infers string vs long from the values."""
    from pyspark.sql import functions as F

    if isinstance(ids, DataFrame):
        col = id_col or (ids.columns[0] if len(ids.columns) == 1 else None)
        if col is None:
            raise ValueError(
                f"ids_to_frame: pass id_col= to pick among columns {ids.columns}"
            )
        out = ids.select(F.col(col).alias(out_col)).distinct()
        if dtype is not None:
            # try_cast: ANSI mode would otherwise THROW mid-job on the
            # first malformed value — the point here is a clear error
            # naming the takedown consequence
            bad = out.filter(
                F.col(out_col).isNotNull() & F.col(out_col).try_cast(dtype).isNull()
            )
            if not bad.isEmpty():
                raise ValueError(
                    f"ids_to_frame: casting {col!r} to {dtype} nulls real id "
                    "values — the resulting tombstones would never match; pass "
                    "the ids in the column's own type"
                )
            out = out.select(F.col(out_col).cast(dtype).alias(out_col))
        return out
    vals = list(ids)
    if dtype is None:
        dtype = "string" if any(isinstance(v, str) for v in vals) else "long"
    return spark.createDataFrame([(v,) for v in vals], f"{out_col} {dtype}").distinct()


def tombstone_max_epoch(base_dir: str) -> int | None:
    """Highest tombstone epoch recorded for a family base dir — the max
    over the ledger's live ``batch_id=`` dirs and its compaction floor.
    None when no tombstone ledger exists (or it is empty)."""
    tdir = tombstone_dir(base_dir)
    if not os.path.isdir(tdir):
        return None
    epochs = [
        int(n.split("=", 1)[1]) for n in os.listdir(tdir) if n.startswith("batch_id=")
    ]
    floor = _ledger_floor(tdir)
    return max(
        [e for e in epochs if e >= 0] + ([floor] if floor is not None else []),
        default=None,
    )


_PURGE_STATE_FILENAME = ".purge_state.json"


def record_tombstone_purge(base_dir: str, **extra) -> None:
    """Compliance bookkeeping for a physical purge (r15; the r14
    verdict's Missing #3): after a family's compaction anti-joined its
    tombstoned rows out of the data tables, record HOW FAR the purge
    reached — ``purged_through_epoch`` = the highest tombstone epoch
    whose deletions are now durable on disk. Written as an atomic
    whole-file sidecar inside the tombstone ledger dir, so the audit
    surface (:func:`tombstone_ledger_stats`) can answer the question a
    legal team actually asks: "is the deletion merely logical, or
    physically gone — and since when?" ``extra`` lets a family record
    its own remedies (the Bloom rebuild writes
    ``rebuilt_through_epoch`` — bits re-derived without the deleted
    hashes). Keys accumulate across writes (a compaction after a
    rebuild must not erase the rebuild watermark)."""
    tdir = tombstone_dir(base_dir)
    if not os.path.isdir(tdir):
        return
    prior = tombstone_purge_state(base_dir) or {}
    mx = tombstone_max_epoch(base_dir)
    state = {**prior, **extra}
    if mx is not None:
        state["purged_through_epoch"] = mx
    write_manifest_atomic(tdir, state, filename=_PURGE_STATE_FILENAME)


def tombstone_purge_state(base_dir: str) -> dict | None:
    """The recorded purge watermarks for a family's tombstone ledger,
    or None when nothing was ever purged (or no ledger exists)."""
    import json

    p = os.path.join(tombstone_dir(base_dir), _PURGE_STATE_FILENAME)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def tombstone_ledger_stats(spark, base_dir: str) -> dict:
    """One audit record for a family base dir — the compliance-evidence
    readback (r15): how many ids are actively tombstoned, the ledger's
    epoch range, and whether/when the physical purge caught up.
    ``fully_purged`` is the deliverable: every recorded deletion is
    durable on disk (purge watermark at or past the newest tombstone
    epoch). A family with no ledger reports zeros — nothing was ever
    deleted. Cost: driver-side listings + one KB-scale ledger count."""
    tdir = tombstone_dir(base_dir)
    state = tombstone_purge_state(base_dir) or {}
    mx = tombstone_max_epoch(base_dir)
    tomb = load_tombstones(spark, base_dir)
    active = 0 if tomb is None else tomb.count()
    epochs = 0
    if os.path.isdir(tdir):
        epochs = sum(1 for n in os.listdir(tdir) if n.startswith("batch_id="))
    purged_through = state.get("purged_through_epoch")
    return {
        "active_tombstones": int(active),
        "ledger_epoch_dirs": int(epochs),
        "max_epoch": None if mx is None else int(mx),
        "floor_epoch": _ledger_floor(tdir) if os.path.isdir(tdir) else None,
        "purged_through_epoch": None if purged_through is None else int(purged_through),
        "rebuilt_through_epoch": (
            None if state.get("rebuilt_through_epoch") is None
            else int(state["rebuilt_through_epoch"])
        ),
        "fully_purged": bool(
            mx is None or (purged_through is not None and int(purged_through) >= mx)
        ),
    }


# --- kept-ledger ownership: takedown reaches corpus membership --------
# (r15; the r14 verdict's lead item): the streaming loops' kept ledgers
# ARE the corpus-membership record — a takedown that only silences
# future index probes leaves the victim enumerated there. Each loop
# records WHICH index family owns its kept ledger (an atomic JSON
# sidecar next to the ledger), and every kept-ledger read goes through
# :func:`read_kept_ledger` — ONE filter point that anti-joins the
# owning family's tombstones (the load_*_index pattern, applied to the
# ledger). Physical purge rides :func:`purge_kept_ledger` (the ledger
# compaction with ``exclude=``). No tombstones → no join; a ledger
# with no owner sidecar reads as plain parquet (pre-r15 ledgers).

_KEPT_OWNER_FILENAME = ".kept_owner.json"


def record_kept_ledger_owner(kept_out: str, owners: list[dict]) -> None:
    """Declare the index families whose tombstones govern a kept
    ledger. ``owners``: one dict per family —
    ``{"index_path": ..., "ledger_col": <ledger id column>,
    "tombstone_col": <the family's tombstone column>}``, plus
    ``"stride"`` for a video frame index whose tombstones are
    composite ``clip*stride + frame`` keys (mapped to clip ids for the
    clip-keyed ledger). Atomic whole-file write; idempotent — the
    loops re-record every epoch (cheap, and a moved/recreated ledger
    heals itself)."""
    os.makedirs(kept_out, exist_ok=True)
    write_manifest_atomic(kept_out, {"owners": owners}, filename=_KEPT_OWNER_FILENAME)


def kept_ledger_owners(kept_out: str) -> list[dict]:
    """The recorded owner families for a kept ledger ([] when none —
    a pre-r15 ledger or a non-streaming table)."""
    import json

    p = os.path.join(kept_out, _KEPT_OWNER_FILENAME)
    if not os.path.exists(p):
        return []
    with open(p) as fh:
        return list(json.load(fh).get("owners", []))


def _owner_exclusion_keys(spark, owner: dict) -> "DataFrame | None":
    """The ledger-keyed exclusion frame for one owner family: its
    tombstone ids, renamed (and for a video frame index, collapsed
    ``key DIV stride``) to the kept ledger's id column. None when the
    family has no active tombstones."""
    from pyspark.sql import functions as F

    tomb = load_tombstones(spark, owner["index_path"])
    if tomb is None:
        return None
    key = tomb.select(F.col(owner["tombstone_col"]).alias("__k"))
    stride = owner.get("stride")
    if stride:
        key = key.select(F.expr(f"__k DIV {int(stride)}").alias("__k"))
    return key.select(F.col("__k").alias(owner["ledger_col"])).distinct()


def read_kept_ledger(spark, kept_out: str, owners: list[dict] | None = None) -> DataFrame:
    """THE canonical reader for a streaming loop's kept ledger: the raw
    parquet minus every owning family's tombstoned assets — so a
    takedown leaves the corpus-membership record, not just the index
    (r15; the r14 gap where ``kept_ids`` still listed the victim).
    Owners resolve from the ledger's sidecar unless passed explicitly.
    Plans with no active tombstones are byte-identical to a plain
    read."""
    df = spark.read.parquet(kept_out)
    for owner in owners if owners is not None else kept_ledger_owners(kept_out):
        keys = _owner_exclusion_keys(spark, owner)
        if keys is not None:
            df = df.join(keys, owner["ledger_col"], "left_anti")
    return df


def purge_kept_ledger(
    spark, kept_out: str, target_file_mb: int = 256,
    owners: list[dict] | None = None, merge_history: bool = False,
) -> int:
    """Physically rewrite a kept ledger WITHOUT its owning families'
    tombstoned rows — the durable half of corpus-membership retraction,
    riding the ledger compaction (:func:`compact_ledger_parquet` with
    ``exclude=``; the per-epoch replay contract survives via the floor
    manifest). Returns the new data-file count. Single-writer contract:
    run between micro-batch drains, like every ledger compaction."""
    from functools import reduce

    owners = owners if owners is not None else kept_ledger_owners(kept_out)
    frames = {}
    for owner in owners:
        keys = _owner_exclusion_keys(spark, owner)
        if keys is not None:
            frames.setdefault(owner["ledger_col"], []).append(keys)
    if not frames:
        return compact_ledger_parquet(
            spark, kept_out, target_file_mb, merge_history=merge_history
        )
    # owners sharing a key column fold into ONE exclusion frame; a
    # ledger governed by families keyed on DIFFERENT columns (the
    # curated loop: bloom on content_hash, near-dup on the doc id)
    # runs one compaction per key column — takedowns are rare and the
    # ledgers slim, so the extra rewrite beats complicating the
    # single-exclude compaction contract
    n = 0
    for col, fs in frames.items():
        n = compact_ledger_parquet(
            spark, kept_out, target_file_mb, merge_history=merge_history,
            exclude=reduce(lambda a, b: a.unionByName(b), fs).distinct(),
            exclude_on=[col],
        )
    return n
