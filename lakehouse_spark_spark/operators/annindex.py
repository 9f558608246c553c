"""Persisted IVF-PQ ANN index: similarity search as O(batch + index).

The Bloom and near-dup index persistence template applied to the ANN
family. ``operators/similarity.py`` holds the in-plan IVF-PQ machinery
(train/encode/search in one query — every call retrains the model and
re-encodes the corpus); this module makes the index a first-class
on-disk artifact:

- MODEL: the coarse centroids (n_cells × dim) and residual PQ
  codebooks (m × k × dim/m) as two KB-sized parquet tables, trained
  once by ``similarity.train_ivfpq`` (one bounded driver sample, one
  deterministic numpy k-means kernel: the same corpus gives the same
  model on any host and partitioning), FROZEN thereafter. Freezing is
  the standard IVF-PQ ingest shape (FAISS's add-with-trained-index):
  new vectors are encoded against the existing model; retraining is a
  periodic offline rebuild, not an ingest-path operation.
- CELLS: the coded corpus as parquet PARTITIONED BY the coarse cell id,
  columns (id, codes, vec). Partitioning is the IO story: a search
  probing n_probe cells reads ONLY those cells' files (partition
  pruning), and parquet's columnar layout means the ADC scan reads just
  (id, codes) — the float vectors are fetched only for the shortlist
  re-rank (column pruning + an id-semi-join within the probed cells).
  Storing the original vector alongside the codes costs 1× storage and
  buys exact re-rank without ever touching the source corpus — the
  locality trade FAISS makes with its separate reconstruction store,
  here collapsed into one columnar table.
- COMMIT: a JSON manifest (atomic whole-file replace — the bloom
  module's pointer-commit shape) records the geometry and the ingest
  watermark; :func:`update_ann_index` appends are new files only and
  are idempotent under a replayed ``batch_id``.

Search against a loaded index never reads the corpus embeddings
(tests/test_annindex.py deletes them before executing) and reads only
the probed cell partitions — asserted on the plan's PartitionFilters,
NOT on ``DataFrame.inputFiles()``, which lists the relation's files
ignoring partition pruning entirely.
At 100 TB the per-query cost is n_probe/n_cells of the CODED corpus
(~32× smaller than the floats) plus |shortlist| vector fetches.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

import pandas as pd  # module-level: pandas_udf resolves stringified type hints here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_spark_spark.operators.similarity import (
    adc_dist,
    dot,
    ivfpq_encode,
    ivfpq_probe_lut_rows,
    ivfpq_probe_luts_np,
    l2_norm,
    nearest_cells,
    sq_dist,
    train_ivfpq,
)


class AnnIndex(NamedTuple):
    """A loaded IVF-PQ index: the cells table (lazy, partition-prunable
    scan), the frozen model as plain Python lists (KB-sized — broadcast
    with the plan), and the resolved cells directory for
    partition-filtered re-reads (the manifest pointer's CURRENT version
    dir — search must reuse it, not re-derive ``path/cells``, or a
    compaction flip would strand the plan on a GC'd dir)."""

    path: str
    cells: DataFrame  # (id, codes array<int>, vec array<double>), partitioned by cell
    centroids: list[list[float]]
    codebooks: list[list[list[float]]]
    id_col: str
    cells_path: str
    # active tombstones keyed on id_col, or None: `cells` is
    # already filtered, but the partition-pruned RE-reads of cells_path
    # (search tails, semantic dedup) must re-apply the anti-join — they
    # bypass the loaded frame on purpose for cell pruning
    tombstones: "DataFrame | None" = None


def _pruned_cells_scan(index: "AnnIndex", probed_cells: list[int]) -> DataFrame:
    """Partition-pruned scan of the index's CURRENT cells dir with the
    tombstone anti-join re-applied (the one thing a raw re-read of
    cells_path would otherwise lose — a deleted vector must never come
    back through a search tail)."""
    df = (
        index.cells.sparkSession.read.parquet(index.cells_path)
        .filter(F.col("cell").isin(probed_cells))
    )
    if index.tombstones is not None:
        df = df.join(index.tombstones, index.id_col, "left_anti")
    return df


def _manifest_path(path: str) -> str:
    return os.path.join(path, "manifest.json")


def _resolve_cells_dir(path: str, mf: dict) -> str:
    """The manifest-pointed cells dir (``cells_dir``) — the shared
    versioned-dir protocol (sources/sinks.resolve_versioned_dir)."""
    from lakehouse_spark_spark.sources.sinks import resolve_versioned_dir

    return resolve_versioned_dir(path, mf, "cells")


def _gc_cells_versions(path: str, keep_dir: str, retain_dir: str | None) -> None:
    """One-version-retention GC after a pointer flip — the shared
    protocol (sources/sinks.gc_versioned_dirs)."""
    from lakehouse_spark_spark.sources.sinks import gc_versioned_dirs

    gc_versioned_dirs(path, "cells", keep_dir, retain_dir)


def _write_manifest(path: str, manifest: dict) -> None:
    from lakehouse_spark_spark.sources.sinks import write_manifest_atomic

    write_manifest_atomic(path, manifest)


def _encode_with_vec(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, cell, codes, vec): the persisted row shape. ``vec`` is the
    element-wise double cast of the input vector — exactly the value
    the in-plan operators use (float→double casts are exact), so the
    persisted re-rank is byte-identical to the in-plan one."""
    coded = ivfpq_encode(df, id_col, vec_col, centroids, codebooks)
    vecs = df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec")
    )
    return coded.join(vecs, id_col).select(id_col, "cell", "codes", "vec")


def _residual_stats(cell_vec: DataFrame, centroids: list[list[float]]) -> dict:
    """Drift signal over a (cell, vec) frame: count, mean and approx-p99
    L2 residual distance (vector to its assigned coarse centroid),
    cell-occupancy skew (max/mean cell count), and the per-cell counts
    themselves (``cell_counts`` — n_cells entries, KB-sized by
    construction, how the manifest tracks cumulative occupancy).
    Residuals are what the PQ codebooks were trained on — when a
    stream's distribution shifts, the residuals grow and ADC distances
    degrade long before anyone notices recall loss, so this is the
    cheap observable that makes the periodic-rebuild trigger a
    measurement instead of a guess. Cost: one broadcast join against
    the KB-sized centroid table + two small aggregates over the batch —
    O(batch), no corpus reads; the p99 is ``approx_percentile`` (a
    bounded-memory sketch — a 1.5x rebuild trigger doesn't need the
    exact quantile, and the exact form buffered every residual of a
    multi-million-row fold in one aggregation buffer)."""
    from pyspark.sql.functions import broadcast

    spark = cell_vec.sparkSession
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cell int, __cent array<double>"
    )
    rd = (
        cell_vec.join(broadcast(cent_df), "cell")
        .select(
            "cell",
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("vec"), F.col("__cent"), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("__rd"),
        )
        # pin the slim (cell, rd) rows: the heavy part — the vec-array
        # scan + residual fold — runs ONCE; the two aggregates below
        # (global percentile can't merge from per-cell stats, so they
        # can't be one job) re-read 12-byte rows, not the vectors
        .localCheckpoint(eager=True)
    )
    row = rd.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__rd").alias("mean"),
        F.expr("approx_percentile(__rd, 0.99, 10000)").alias("p99"),
    ).first()
    if int(row["n"]) == 0:  # an all-dup fold: nothing to measure
        return {"n": 0, "mean_resid": None, "p99_resid": None, "cell_skew": None,
                "cell_counts": {}}
    occ_rows = rd.groupBy("cell").agg(F.count(F.lit(1)).alias("cn")).collect()
    counts = {int(r["cell"]): int(r["cn"]) for r in occ_rows}
    mean_occ = sum(counts.values()) / len(counts)
    return {
        "n": int(row["n"]),
        "mean_resid": float(row["mean"]),
        "p99_resid": float(row["p99"]),
        "cell_skew": float(max(counts.values()) / mean_occ),
        # JSON object keys are strings; the manifest stores them as-is
        "cell_counts": {str(c): n for c, n in counts.items()},
    }


# A fold whose mean residual reaches this multiple of the BUILD-time
# baseline is flagged for rebuild (ann_index_health.rebuild_flag): the
# frozen quantizer is no longer representative of what's being folded.
ANN_REBUILD_RESID_RATIO = 1.5

# Occupancy trigger: n_cells is FROZEN at build while folds grow
# the corpus, so the in-cell quadratics (semantic_dedup_against_index,
# ann_index_semantic_join) grow with corpus²/n_cells² — residual drift
# alone never notices a same-distribution corpus simply outgrowing its
# cell count. Rebuild when the fullest cell holds this multiple of the
# BUILD-time mean occupancy over OCCUPIED cells — the population
# cell_skew measures, so the baseline row's ratio IS its skew and empty
# build cells can't fake growth (at 4x mean, the hottest cell's in-cell
# pair count is ~16x what the build sized for).
ANN_REBUILD_OCCUPANCY_RATIO = 4.0

# The manifest keeps the most recent fold stats only — a long-lived
# stream would otherwise grow the manifest without bound.
_ANN_HEALTH_TRAIL_MAX = 64


def _write_recall_panel(
    cells_rb: DataFrame,
    id_col: str,
    path: str,
    panel_n: int,
    panel_k: int,
    out_dir: str = "panel",
) -> dict | None:
    """Measured-recall probe panel: a fixed, deterministic sample
    of ``panel_n`` corpus vectors plus their EXACT top-``panel_k``
    neighbors (squared-L2, self excluded, neighbor-id tiebreak — the
    search's own re-rank metric), persisted under ``{path}/panel``.
    Folds re-run the index search on this panel and record recall@k
    into the health trail — the number a user acts on, where the
    residual ratio is only a proxy. Ground truth is one O(panel·corpus)
    broadcast pass at BUILD time (64 slim rows against the corpus —
    bounded, and never again); panel members are picked by md5-of-id
    order, so the panel is reproducible without an RNG. Returns the
    manifest panel record, or None for an empty corpus."""
    if panel_n <= 0:
        return None
    base = cells_rb.select(F.col(id_col), "vec")
    pids = (
        base.select(id_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(panel_n)
    )
    p = (
        base.join(pids, id_col)
        .select(F.col(id_col).alias("query_id"), F.col("vec").alias("__qv"))
        .localCheckpoint(eager=True)  # source-free: feeds the broadcast cross + the panel write
    )
    if p.isEmpty():
        return None
    pairs = (
        base.select(F.col(id_col).alias("neighbor_id"), F.col("vec").alias("__cv"))
        .crossJoin(F.broadcast(p))  # bounded grid: ≤panel_n broadcast rows
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sq_dist().alias("sq_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sq_dist").asc(), F.col("neighbor_id"))
    truth = (
        pairs.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= panel_k)
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__r").alias("r"), F.col("neighbor_id").alias("nid")))
                ),
                lambda s: s["nid"],
            ).alias("truth")
        )
    )
    panel = p.select(F.col("query_id").alias(id_col), F.col("__qv").alias("vec")).join(
        truth.withColumnRenamed("query_id", id_col), id_col
    )
    panel.write.mode("overwrite").parquet(os.path.join(path, out_dir))
    return {"dir": out_dir, "n": int(panel_n), "k": int(panel_k), "n_probe": 4, "shortlist": 50}


def _panel_recall(index: "AnnIndex", path: str, mf: dict) -> float | None:
    """recall@k of the CURRENT index against the panel's build-time
    ground truth: re-run the persisted-index search on the panel
    queries (collected front — the panel is ≤64 vectors by contract)
    and average |retrieved ∩ truth| / |truth|. Caveat, by design:
    truth is frozen at build, so a fold can lower recall two ways —
    quantization drift (the signal) or legitimately-closer new vectors
    displacing build-time neighbors (an artifact). Both mean the
    build-time geometry no longer describes the corpus, which is
    exactly when a rebuild (and a fresh panel) is due, so the trend
    reads as a conservative lower bound."""
    pinfo = (mf or {}).get("panel")
    if not pinfo:
        return None
    pdir = os.path.join(path, pinfo["dir"])
    if not os.path.isdir(pdir):
        return None
    spark = index.cells.sparkSession
    panel = spark.read.parquet(pdir)
    truths = {r[index.id_col]: list(r["truth"]) for r in panel.select(index.id_col, "truth").collect()}
    if not truths:
        return None
    res = ann_index_topk(
        index,
        panel.select(index.id_col, "vec"),
        "vec",
        k=int(pinfo["k"]),
        n_probe=int(pinfo["n_probe"]),
        shortlist=int(pinfo["shortlist"]),
    )
    got: dict = {}
    for r in res.select("query_id", "neighbor_id").collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    scores = [len(got.get(q, set()) & set(t)) / len(t) for q, t in truths.items() if t]
    return round(sum(scores) / len(scores), 6) if scores else None


def write_ann_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    max_train_rows: int = 50_000,
    *,
    model: tuple[list[list[float]], list[list[list[float]]]] | None = None,
    panel_n: int = 64,
    panel_k: int = 5,
) -> AnnIndex:
    """One-time index construction — the ONLY operation that scans the
    full corpus embeddings. Trains the model on a bounded sample,
    encodes every vector (one Arrow-batched pass), and writes the
    cell-partitioned cells table + model tables + manifest.

    ``model`` injects a pre-trained (centroids, codebooks) pair instead
    of training — how a SECOND corpus is indexed under an existing
    index's frozen quantizer (``(idx.centroids, idx.codebooks)``), which
    aligns the two indexes' cell spaces and makes them joinable by
    :func:`ann_index_semantic_join`. The geometry params are ignored
    when a model is given (it carries its own)."""
    spark = corpus.sparkSession
    if model is not None:
        cents, books = model
        # fail loudly driver-side BEFORE any cluster work: a malformed
        # or dimension-mismatched model would otherwise surface as an
        # opaque numpy broadcasting error inside the Arrow encode pass
        if not cents or not books or not books[0]:
            raise ValueError("write_ann_index: injected model is empty")
        dim = len(cents[0])
        if any(len(c) != dim for c in cents):
            raise ValueError("write_ann_index: centroids are not rectangular")
        sub = len(books[0][0])
        if any(len(code) != sub for book in books for code in book):
            raise ValueError("write_ann_index: codebooks are not rectangular")
        if len(books) * sub != dim:
            raise ValueError(
                f"write_ann_index: model dims disagree — {len(books)} codebooks x "
                f"{sub}-dim subspaces != centroid dim {dim}"
            )
        n_cells, m, k = len(cents), len(books), len(books[0])
    else:
        cents, books = train_ivfpq(
            corpus, vec_col, n_cells=n_cells, m=m, k=k, max_train_rows=max_train_rows
        )
    _encode_with_vec(corpus, id_col, vec_col, cents, books).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/cells")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [(j, c, books[j][c]) for j in range(len(books)) for c in range(len(books[j]))],
        "sub int, code int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    # drift baseline: residual stats of the corpus the model was trained
    # to represent, from a column-pruned (cell, vec) read-back of the
    # just-written cells table (no second encode pass). Its per-cell
    # counts seed the manifest's cumulative occupancy tracker.
    rb = spark.read.parquet(f"{path}/cells")
    baseline = _residual_stats(rb.select("cell", "vec"), cents)
    panel_info = _write_recall_panel(rb, id_col, path, panel_n, panel_k)
    mf = {"format": 1, "id_col": id_col, "n_cells": int(n_cells), "m": int(m),
          "k": int(k), "cells_dir": "cells", "last_batch_id": None,
          "cell_counts": dict(baseline["cell_counts"]),
          "panel": panel_info,
          "health": {"baseline": baseline, "trail": []}}
    _write_manifest(path, mf)
    idx = load_ann_index(spark, path)
    if panel_info is not None:
        # baseline recall@k: the index searching its OWN build corpus —
        # what the quantizer geometry costs before any drift. Needs the
        # loaded index, hence the second (still build-time, single-
        # writer) manifest write.
        baseline = {**baseline, "recall_at_k": _panel_recall(idx, path, mf)}
        _write_manifest(path, {**mf, "health": {"baseline": baseline, "trail": []}})
    return idx


def load_ann_index(spark: SparkSession, path: str) -> AnnIndex:
    """Load the model tables to the driver (KB-sized by construction)
    and open the cells table lazily. Tombstoned vectors
    (:func:`delete_from_ann_index`) are anti-joined out of the cells
    frame here — the single filter point every consumer (top-k search,
    semantic dedup/join, recall panel re-score, rebuild re-train)
    inherits. No ledger on disk → no join."""
    from lakehouse_spark_spark.sources.sinks import resolve_versioned_dir

    with open(_manifest_path(path)) as fh:
        mf = json.load(fh)
    # model tables resolve through the manifest like the cells dir —
    # write_ann_index writes them at the fixed names `centroids` and
    # `codebooks` with no `<fam>_dir` key; rebuild_ann_index versions
    # them so a model swap is one atomic pointer flip, never a
    # half-old-half-new read
    cents_rows = spark.read.parquet(resolve_versioned_dir(path, mf, "centroids")).collect()
    cents = [list(r["centroid"]) for r in sorted(cents_rows, key=lambda r: r["cell"])]
    book_rows = spark.read.parquet(resolve_versioned_dir(path, mf, "codebooks")).collect()
    m, k = int(mf["m"]), int(mf["k"])
    books: list[list[list[float]]] = [[None] * k for _ in range(m)]  # type: ignore[list-item]
    for r in book_rows:
        books[r["sub"]][r["code"]] = list(r["centroid"])
    cells_path = _resolve_cells_dir(path, mf)
    from lakehouse_spark_spark.sources.sinks import load_tombstones

    cells = spark.read.parquet(cells_path)
    tomb = load_tombstones(spark, path)
    if tomb is not None:
        tomb = tomb.select(F.col(tomb.columns[0]).alias(str(mf["id_col"])))
        cells = cells.join(tomb, str(mf["id_col"]), "left_anti")
    return AnnIndex(
        path=path,
        cells=cells,
        centroids=cents,
        codebooks=books,
        id_col=str(mf["id_col"]),
        cells_path=cells_path,
        tombstones=tomb,
    )


def delete_from_ann_index(spark: SparkSession, path: str, ids, batch_id: int | None = None) -> bool:
    """Takedown/opt-out for the persisted ANN family: record the
    vector ids in the index's tombstone ledger (sources/sinks.
    add_tombstones — the shared exactly-once protocol). Logically
    immediate (:func:`load_ann_index` anti-joins the cells frame, so no
    top-k search, semantic dedup/join, or panel re-score ever returns
    the vector again); physically purged at the next
    :func:`compact_ann_index`, and a :func:`rebuild_ann_index`
    re-trains from the filtered corpus (the deleted vectors stop
    influencing the quantizer too). Single-writer contract."""
    from lakehouse_spark_spark.sources.sinks import add_tombstones, ids_to_frame

    with open(_manifest_path(path)) as fh:
        mf = json.load(fh)
    return add_tombstones(ids_to_frame(spark, ids, str(mf["id_col"])), path, batch_id)


def update_ann_index(
    path: str,
    batch: DataFrame,
    vec_col: str,
    batch_id: int | None = None,
    *,
    encoded: DataFrame | None = None,
    measure_recall: bool = True,
) -> AnnIndex:
    """Fold a batch of new vectors into the index: encode against the
    FROZEN model (O(batch) — the accumulated corpus is untouched) and
    append to the cell partitions (new files only — object-store-safe
    by construction). ``batch_id`` replays are no-ops past the manifest
    watermark, which advances strictly after the append (the bloom
    module's idempotence contract; a replayed half-append leaves
    duplicate id rows, which search tolerates via id-dedup and
    :func:`compact_ann_index` repairs). Single-writer contract.

    ``encoded`` injects a precomputed :func:`_encode_with_vec` frame
    (this index's model — the caller's contract) so an ingest loop that
    also probed the batch encodes it exactly once.

    Model drift is the documented trade: vectors far from every trained
    centroid still encode (to their nearest cell, with larger residual
    error) — recall degrades gracefully until a periodic
    :func:`write_ann_index` rebuild, exactly like FAISS add()."""
    spark = batch.sparkSession
    with open(_manifest_path(path)) as fh:
        mf = json.load(fh)
    last = mf.get("last_batch_id")
    if batch_id is not None and last is not None and batch_id <= last:
        return load_ann_index(spark, path)
    idx = load_ann_index(spark, path)
    if encoded is None:
        # eager pin: the frame feeds both the append and the drift
        # stats below — unpinned, the Arrow encode pass would run twice
        encoded = _encode_with_vec(
            batch, idx.id_col, vec_col, idx.centroids, idx.codebooks
        ).localCheckpoint(eager=True)
    encoded.select(idx.id_col, "cell", "codes", "vec").write.mode(
        "append"
    ).partitionBy("cell").parquet(idx.cells_path)
    # drift observability: per-fold residual/occupancy stats ride
    # the SAME manifest write as the watermark — a crash before it
    # loses neither or both, and a replayed epoch (no-op above) never
    # double-records. Trail is capped; ann_index_health reads it.
    stats = _residual_stats(encoded.select("cell", "vec"), idx.centroids)
    # cumulative occupancy: fold the batch's per-cell counts into
    # the manifest tracker — the residual signal never notices a
    # same-distribution corpus outgrowing its frozen n_cells, so the
    # fullest cell's count vs the BUILD-time mean is its own trigger.
    # Advisory by design: compact_ann_index id-dedups replayed rows the
    # tracker counted, so it can only over-state occupancy (flag early,
    # never late). write_ann_index and rebuild_ann_index seed the
    # tracker. Only max_cell (a plain int — JSON-safe) is persisted; the
    # ratio, whose zero-baseline edge is infinite, is computed at read
    # time by ann_index_health, exactly like resid_ratio. An empty
    # tracker (empty corpus, all-dup folds so far) records NULL.
    cum = {str(c): int(n) for c, n in mf["cell_counts"].items()}
    for c, n in stats.pop("cell_counts").items():
        cum[c] = cum.get(c, 0) + int(n)
    max_cell = max(cum.values()) if cum else None
    recall = None
    if measure_recall and mf.get("panel"):
        # measured recall on the persisted probe panel: the index AFTER
        # this append (fresh load — the pre-append frame's file listing
        # is already pinned), vs build-time exact ground truth
        recall = _panel_recall(load_ann_index(spark, path), path, mf)
    health = mf["health"]
    trail = health["trail"][-(_ANN_HEALTH_TRAIL_MAX - 1):]
    trail.append({
        **stats,
        "batch_id": None if batch_id is None else int(batch_id),
        "max_cell": max_cell,
        "recall_at_k": recall,
    })
    mf2 = {**mf, "cell_counts": cum, "health": {**health, "trail": trail}}
    if batch_id is not None:
        mf2["last_batch_id"] = int(batch_id)
    _write_manifest(path, mf2)
    return load_ann_index(spark, path)


def compact_ann_index(spark: SparkSession, path: str, target_file_mb: int = 256) -> int:
    """Rewrite the cells table: merge the per-batch small files and drop
    exact-duplicate rows a replayed half-append left behind, keeping
    the cell-partitioned layout. The rewrite hash-partitions the rows
    BY CELL into ~ceil(bytes/target) tasks — each cell's rows land in
    one task, so the output is ~one file per cell (a bare
    ``repartition(n)`` would scatter every cell across all n tasks and
    emit up to n × n_cells files, re-creating the small-files problem
    the compaction exists to fix).

    Publish protocol (the bloom module's versioned-dir +
    manifest-pointer commit; a rename-based swap would leave the index
    unreadable after a mid-swap crash): the rewrite
    lands in a FRESH ``cells_v{n+1}`` dir — never touching the current
    dir, which the rewrite plan is still reading — and becomes current
    only when the manifest pointer flips (atomic whole-file replace; no
    rename-atomicity assumption, object-store-safe). Crash before the
    flip: old index fully readable, the orphan dir is GC'd by the next
    compaction. The superseded dir is retained ONE cycle for in-flight
    readers. Returns the data-file count after the rewrite.
    Single-writer contract, like updates. Tombstoned vectors are
    physically PURGED by the rewrite (the ledger itself is retained —
    a not-yet-watermarked fold replay could re-append purged rows)."""
    import math

    from lakehouse_spark_spark.sources.sinks import load_tombstones

    with open(_manifest_path(path)) as fh:
        mf = json.load(fh)
    cur = mf["cells_dir"]
    cells_path = _resolve_cells_dir(path, mf)
    size = sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(cells_path) for f in fs
    )
    n_tasks = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(cells_path).distinct()
    tomb = load_tombstones(spark, path)
    if tomb is not None:
        df = df.join(
            tomb.select(F.col(tomb.columns[0]).alias(str(mf["id_col"]))),
            str(mf["id_col"]),
            "left_anti",
        )
    cur_v = int(cur.rsplit("_v", 1)[-1]) if "_v" in cur else 0  # first build: `cells`
    next_dir = f"cells_v{cur_v + 1}"
    df.repartition(n_tasks, "cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, next_dir)
    )
    _write_manifest(path, {**mf, "cells_dir": next_dir})
    _gc_cells_versions(path, next_dir, retain_dir=cur)
    if tomb is not None:
        # audit evidence: the deletions this rewrite carried are
        # now physically durable — stamp the purge watermark
        from lakehouse_spark_spark.sources.sinks import record_tombstone_purge

        record_tombstone_purge(path)
    return sum(
        1
        for dp, _, fs in os.walk(os.path.join(path, next_dir))
        for f in fs
        if f.endswith(".parquet")
    )


def rebuild_ann_index(
    spark: SparkSession,
    path: str,
    n_cells: int | None = None,
    max_train_rows: int = 50_000,
    panel_n: int | None = None,
    panel_k: int | None = None,
) -> AnnIndex:
    """The durable response to a health ``rebuild_flag``: re-train the
    quantizer and re-encode the accumulated corpus FROM THE INDEX'S OWN
    CELLS TABLE (the vectors are index state — no source-corpus reads),
    resetting the drift baseline, the occupancy tracker, and the recall
    panel in one atomic manifest flip.

    ``n_cells`` defaults to the occupancy policy: enough cells to
    restore the ORIGINAL build's mean occupancy over occupied cells
    (never shrinking below the current count) — a corpus that grew 5x
    gets ~5x the cells, returning the in-cell quadratics
    (semantic dedup, index-vs-index join) to the size the original
    build accepted. Falls back to doubling when the build-time tracker
    is empty (a :func:`write_ann_index` over an empty corpus).

    Publish protocol: a rebuild swaps the MODEL, so cells, centroids,
    codebooks, and the panel all land in fresh ``_v{n+1}`` dirs and
    become current together in ONE manifest flip — a reader never sees
    new centroids with old codes (each table family follows the shared
    versioned-dir protocol; model dirs resolve through the manifest,
    the fixed names a first build wrote when the keys are absent). The epoch
    watermark is PRESERVED: a replayed pre-rebuild epoch stays a no-op
    — its rows are already inside the re-encoded corpus. Crash before
    the flip leaves orphan ``_v`` dirs (GC'd by the next rebuild);
    after the flip, GC retains each superseded dir one cycle for
    in-flight readers. Single-writer contract. Cost: train sample +
    one encode pass + one panel ground-truth pass over the corpus —
    the documented FAISS-retrain shape, O(corpus), run when flagged,
    not per fold."""
    import math

    with open(_manifest_path(path)) as fh:
        mf = json.load(fh)
    idx = load_ann_index(spark, path)
    corpus = (
        idx.cells.select(F.col(idx.id_col), "vec")
        .dropDuplicates([idx.id_col])  # replayed-append repair, like compaction
        .localCheckpoint(eager=True)  # pin: feeds train sample, encode, count
    )
    if n_cells is None:
        base = mf["health"]["baseline"]
        bcc = base["cell_counts"]
        if bcc:
            base_mean = int(base["n"]) / len(bcc)
            n_cells = max(int(mf["n_cells"]), math.ceil(corpus.count() / base_mean))
        else:  # empty-corpus build: no occupancy seed to size from
            n_cells = int(mf["n_cells"]) * 2
    m, k = int(mf["m"]), int(mf["k"])
    cents, books = train_ivfpq(
        corpus, "vec", n_cells=n_cells, m=m, k=k, max_train_rows=max_train_rows
    )

    # current dir per family, as a READER resolves it: cells/centroids/
    # codebooks live under manifest `<fam>_dir` keys (the fixed names a
    # first build wrote when absent); the panel's pointer lives INSIDE
    # the panel record (mf['panel']['dir']) — a `panel_dir` key here
    # would always miss, version every rebuild to panel_v1, and
    # overwrite the LIVE panel pre-flip.
    cur_dirs = {fam: mf.get(f"{fam}_dir", fam) for fam in ("cells", "centroids", "codebooks")}
    cur_dirs["panel"] = (mf.get("panel") or {}).get("dir", "panel")

    def _next(fam: str) -> str:
        cur = cur_dirs[fam]
        v = int(cur.rsplit("_v", 1)[-1]) if "_v" in cur else 0
        return f"{fam}_v{v + 1}"

    cells_dir, cents_dir, books_dir, panel_dir = (
        _next("cells"), _next("centroids"), _next("codebooks"), _next("panel")
    )
    _encode_with_vec(corpus, idx.id_col, "vec", cents, books).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(os.path.join(path, cells_dir))
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    ).write.mode("overwrite").parquet(os.path.join(path, cents_dir))
    spark.createDataFrame(
        [(j, c, books[j][c]) for j in range(len(books)) for c in range(len(books[j]))],
        "sub int, code int, centroid array<double>",
    ).write.mode("overwrite").parquet(os.path.join(path, books_dir))
    rb = spark.read.parquet(os.path.join(path, cells_dir))
    baseline = _residual_stats(rb.select("cell", "vec"), cents)
    # panel geometry is index configuration, not a rebuild default:
    # inherit the existing panel's n/k unless the caller overrides
    # (resetting to 64/5 would silently change the metric an operator
    # configured at write_ann_index time)
    old_panel = mf.get("panel") or {}
    pn = panel_n if panel_n is not None else int(old_panel.get("n", 64))
    pk = panel_k if panel_k is not None else int(old_panel.get("k", 5))
    panel_info = _write_recall_panel(rb, idx.id_col, path, pn, pk, out_dir=panel_dir)
    mf2 = {
        "format": 1, "id_col": idx.id_col, "n_cells": int(n_cells), "m": m, "k": k,
        "cells_dir": cells_dir, "centroids_dir": cents_dir, "codebooks_dir": books_dir,
        "last_batch_id": mf.get("last_batch_id"),
        "cell_counts": dict(baseline["cell_counts"]),
        "panel": panel_info,
        "health": {"baseline": baseline, "trail": []},
    }
    _write_manifest(path, mf2)
    idx2 = load_ann_index(spark, path)
    if panel_info is not None:
        baseline = {**baseline, "recall_at_k": _panel_recall(idx2, path, mf2)}
        _write_manifest(path, {**mf2, "health": {"baseline": baseline, "trail": []}})
    # one-version retention per family (the flip superseded exactly one
    # dir each); panel is manifest-resolved too, same protocol
    from lakehouse_spark_spark.sources.sinks import gc_versioned_dirs

    for fam, keep in (("cells", cells_dir), ("centroids", cents_dir),
                      ("codebooks", books_dir), ("panel", panel_dir)):
        gc_versioned_dirs(path, fam, keep, retain_dir=cur_dirs[fam])
    return idx2


def maybe_rebuild_ann_index(
    spark: SparkSession,
    path: str,
    rebuild_ratio: float = ANN_REBUILD_RESID_RATIO,
    occupancy_rebuild_ratio: float = ANN_REBUILD_OCCUPANCY_RATIO,
    **rebuild_kwargs,
) -> tuple[bool, AnnIndex]:
    """The one-line maintenance policy the health trend exists for:
    rebuild iff the LATEST fold's ``rebuild_flag`` is set (current
    state, not history — an old flag a later rebuild already answered
    must not loop). Returns (rebuilt, index). Manifest-read cheap when
    not flagged; the rebuild itself is the O(corpus) retrain."""
    rows = ann_index_health(spark, path, rebuild_ratio, occupancy_rebuild_ratio).collect()
    trail = [r for r in rows if r["seq"] >= 0]
    if not (trail and trail[-1]["rebuild_flag"]):
        return False, load_ann_index(spark, path)
    return True, rebuild_ann_index(spark, path, **rebuild_kwargs)


def ann_index_health(
    spark: SparkSession,
    path: str,
    rebuild_ratio: float = ANN_REBUILD_RESID_RATIO,
    occupancy_rebuild_ratio: float = ANN_REBUILD_OCCUPANCY_RATIO,
) -> DataFrame:
    """The drift trend the frozen-model trade needs to stay honest: one
    row per recorded measurement — the build-time baseline (seq -1)
    followed by the per-fold trail — with each fold's mean residual
    expressed as a ratio to the baseline and flagged for rebuild when
    it reaches ``rebuild_ratio`` (default :data:`ANN_REBUILD_RESID_RATIO`).
    A long stream whose distribution shifts shows a rising
    ``resid_ratio`` here batches before recall visibly degrades; the
    flagged response is a periodic :func:`write_ann_index` rebuild.

    Two more signals cover what residual drift can't see: ``max_cell`` /
    ``occupancy_ratio`` (fullest-cell count vs the BUILD-time mean cell
    occupancy — a same-distribution corpus outgrowing its frozen
    n_cells trips this at ``occupancy_rebuild_ratio`` while residuals
    stay flat; the response is a rebuild with more cells, and until
    then a ``max_cell`` candidate cap on the in-cell quadratics) and
    ``recall_at_k`` (MEASURED recall on the persisted probe panel
    against build-time exact ground truth — the number the residual
    ratio only proxies; trend it, baseline row included).

    Pure manifest read — no index data scanned. NULL ratios mean no
    measurement to compare against (an empty-corpus build's baseline, an
    all-dup fold); ``recall_at_k`` is NULL without a recall panel."""
    with open(_manifest_path(path)) as fh:
        mf = json.load(fh)
    health = mf["health"]
    base = health["baseline"]
    base_mean = base["mean_resid"]

    def _ratio(mean_resid):
        # None-vs-0.0 matters: a baseline of exactly 0.0 (corpus with
        # <= n_cells distinct vectors — centroids coincide with the
        # points) is a REAL measurement, and any nonzero drift against
        # it is infinite, not unknowable; a falsy-zero guard would
        # silently disable the rebuild trigger forever
        if base_mean is None or mean_resid is None:
            return None
        if base_mean == 0.0:
            return 1.0 if mean_resid == 0.0 else float("inf")
        return mean_resid / base_mean

    # occupancy denominator: the BUILD-time mean over OCCUPIED cells
    # (n / |cell_counts|) — the same population cell_skew measures, so
    # the baseline row's ratio IS its skew and the trend is continuous;
    # dividing by mean-over-all-n_cells would punish builds whose
    # k-means left cells empty (a first fold would jump the ratio with
    # zero real growth). Computed at READ time, like resid_ratio — the
    # manifest stores only the JSON-safe max_cell int, and the
    # zero-baseline edge (empty-corpus build: any growth is infinite,
    # not unknowable) never has to serialize.
    bcc = base["cell_counts"]
    base_cell_mean = (int(base["n"]) / len(bcc)) if bcc else 0.0

    def _occ(mc):
        if mc is None:
            return None
        if base_cell_mean == 0.0:
            return 1.0 if mc == 0 else float("inf")
        return mc / base_cell_mean

    base_max = max(bcc.values()) if bcc else None
    rows = [
        (-1, None, base["n"], base["mean_resid"], base["p99_resid"],
         base["cell_skew"], None if base_mean is None else 1.0,
         base_max, _occ(base_max),
         base.get("recall_at_k"), False)
    ]
    for i, e in enumerate(health["trail"]):
        ratio = _ratio(e["mean_resid"])
        occ = _occ(e["max_cell"])
        flag = bool(ratio is not None and ratio >= rebuild_ratio) or bool(
            occ is not None and occ >= occupancy_rebuild_ratio
        )
        rows.append(
            (i, e["batch_id"], e["n"], e["mean_resid"], e["p99_resid"],
             e["cell_skew"], ratio, e["max_cell"], occ,
             e["recall_at_k"], flag)
        )
    return spark.createDataFrame(
        rows,
        "seq int, batch_id bigint, n bigint, mean_resid double, "
        "p99_resid double, cell_skew double, resid_ratio double, "
        "max_cell bigint, occupancy_ratio double, recall_at_k double, "
        "rebuild_flag boolean",
    )


def ann_index_semantic_join(
    index_a: AnnIndex,
    index_b: AnnIndex,
    threshold: float = 0.95,
    *,
    max_cell: int | None = None,
) -> DataFrame:
    """Index-vs-index semantic join: every (a, b) pair across two
    persisted indexes whose exact cosine reaches ``threshold`` — the
    cross-corpus form of SemDeDup, e.g. train-vs-eval embedding
    decontamination or cross-snapshot duplicate accounting, computed
    from the two indexes ALONE (no corpus-embedding reads, no encode
    pass, nothing collected to the driver).

    Contract: the two indexes must share ONE frozen model — index B is
    built under A's quantizer (``write_ann_index(..., model=
    (idx_a.centroids, idx_a.codebooks))`` or folded via
    :func:`update_ann_index` against the same path family). With one
    quantizer the cell spaces align, so a true near-dup pair
    co-assigns and the candidate join is a plain equi-join on the cell
    id; mismatched models are rejected loudly (silently joining two
    different cell spaces would return plausible garbage). Boundary
    pairs (each side quantized to a different-but-adjacent cell) are
    missed at the same documented rate as single-probe SemDeDup.

    Scale: per-cell cross products only — the SemDeDup shape; both
    sides scan (id, vec) column-pruned from their cell-partitioned
    tables, duplicate rows from partially-replayed appends are
    id-deduped per side, and the quadratic term never sees a corpus,
    only a cell — whose size ``max_cell`` bounds when folds have
    outgrown the frozen n_cells (cells past the cap on either side are
    skipped; the occupancy ``rebuild_flag`` names the durable fix).
    Zero-norm semantics are the module's pinned rule
    (:func:`_zero_safe_cosine`).

    Returns (id_a, id_b, cell, cosine), one row per qualifying pair.
    """
    if index_a.centroids != index_b.centroids or index_a.codebooks != index_b.codebooks:
        raise ValueError(
            "ann_index_semantic_join: the two indexes carry different frozen "
            "models — their cell spaces don't align. Build/fold index B under "
            "index A's model (write_ann_index(..., model=(a.centroids, a.codebooks)))."
        )
    a = (
        index_a.cells.select(
            F.col(index_a.id_col).alias("id_a"), "cell", F.col("vec").alias("__va")
        )
        .dropDuplicates(["id_a"])  # replayed-append defense
        .withColumn("__na", l2_norm("__va"))
    )
    b = (
        index_b.cells.select(
            F.col(index_b.id_col).alias("id_b"), "cell", F.col("vec").alias("__vb")
        )
        .dropDuplicates(["id_b"])
        .withColumn("__nb", l2_norm("__vb"))
    )
    if max_cell is not None:
        # hot-cell candidate cap: a cell past max_cell distinct
        # vectors on EITHER side is skipped — its per-cell cross product
        # is the quadratic the frozen n_cells lets grow without bound
        # (same trade as semantic_dedup_against_index's cap; the
        # occupancy rebuild_flag in ann_index_health is the durable
        # fix). Both sides are id-deduped above, so plain count IS the
        # distinct-doc count, replay-safe included.
        hot = (
            a.groupBy("cell").agg(F.count(F.lit(1)).alias("__occ"))
            .filter(F.col("__occ") > max_cell).select("cell")
            .union(
                b.groupBy("cell").agg(F.count(F.lit(1)).alias("__occ"))
                .filter(F.col("__occ") > max_cell).select("cell")
            )
            .distinct()
        )
        a = a.join(hot, "cell", "left_anti")
        b = b.join(hot, "cell", "left_anti")
    cos = _zero_safe_cosine("__va", "__vb", "__na", "__nb")
    return (
        a.join(b, "cell")
        .select("id_a", "id_b", "cell", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _topk_against_cells(
    index: AnnIndex,
    probes: DataFrame,
    q: DataFrame,
    probed_cells: list[int],
    k: int,
    shortlist: int,
) -> DataFrame:
    """Shared search tail for the collected and distributed probe
    fronts: ADC scan over the probed cell partitions (equi-join on the
    cell id — parquet partition pruning restricts IO to the probed
    cells, column pruning keeps the float vectors out of the ADC
    stage), per-query shortlist, exact re-rank of the survivors against
    vectors stored IN the index (a second partition-pruned, id-joined
    read of the same cells). ``probes`` = (query_id, cell, lut);
    ``q`` = (query_id, __qv array<double>) — both must already be
    SOURCE-FREE frames (collected literals or checkpointed), or the
    caller's corpus scan would splice back into the search plan.
    Returns (query_id, neighbor_id, sq_dist, rank<=k)."""
    spark = index.cells.sparkSession
    id_col = index.id_col
    m, kk = len(index.codebooks), len(index.codebooks[0])
    coded = (
        _pruned_cells_scan(index, probed_cells)
        .select(F.col(id_col).alias("neighbor_id"), "cell", "codes")
        .dropDuplicates(["neighbor_id", "cell"])  # replayed-append defense
    )
    cand = coded.join(probes, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select("query_id", "neighbor_id", adc_dist(m, kk).alias("adc_dist"))
    w_sl = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    sl = scored.withColumn("__r", F.row_number().over(w_sl)).filter(F.col("__r") <= shortlist)

    vecs = (
        _pruned_cells_scan(index, probed_cells)
        .select(F.col(id_col).alias("neighbor_id"), F.col("vec").alias("__cv"))
        .dropDuplicates(["neighbor_id"])
    )
    exact = (
        sl.select("query_id", "neighbor_id")
        .join(q, "query_id")
        .join(vecs, "neighbor_id")
        .select("query_id", "neighbor_id", sq_dist().alias("sq_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sq_dist").asc(), F.col("neighbor_id"))
    return exact.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_index_topk(
    index: AnnIndex,
    queries: DataFrame,
    vec_col: str,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """IVF-PQ search consuming ONLY the persisted index — zero reads of
    the source corpus. Same algorithm (and, for an index built from the
    same model, the same output) as similarity.ivfpq_topk: per query,
    per-probed-cell ADC lookup tables broadcast as slim rows into the
    shared :func:`_topk_against_cells` tail.

    This is the COLLECTED-probe front: the query vectors come to the
    driver (one LUT pass, then broadcast literals). Right for the small
    interactive probe sets it is gated with; a batch-scale probe frame
    (millions of queries) belongs on :func:`ann_index_topk_distributed`,
    which computes the same LUTs executor-side and never collects a
    vector. Returns (query_id, neighbor_id, sq_dist, rank<=k)."""
    from lakehouse_spark_spark.sources.loaders import arrow_rows_df

    spark = index.cells.sparkSession
    id_col = index.id_col
    # the search supports whatever id dtype the index was built over —
    # the probe/query frames carry it through verbatim
    id_dt = dict(queries.dtypes)[id_col]

    qrows = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).collect()
    probe_rows = ivfpq_probe_lut_rows(qrows, index.centroids, index.codebooks, n_probe)
    probes = arrow_rows_df(spark, probe_rows, f"query_id {id_dt}, cell INT, lut ARRAY<DOUBLE>")
    probed_cells = sorted({c for _, c, _ in probe_rows})
    # the query side is rebuilt from the ALREADY-COLLECTED probe rows —
    # referencing the caller's lazy frame here would splice its source
    # scan (often the corpus parquet) back into the search plan
    q = arrow_rows_df(
        spark,
        [(r["query_id"], [float(x) for x in r["__qv"]]) for r in qrows],
        f"query_id {id_dt}, __qv ARRAY<DOUBLE>",
    )
    return _topk_against_cells(
        index, F.broadcast(probes), F.broadcast(q), probed_cells, k, shortlist
    )


def ann_index_topk_distributed(
    index: AnnIndex,
    queries: DataFrame,
    vec_col: str,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """Batch-scale IVF-PQ search against the persisted index with NO
    driver collect of query vectors: the frozen
    model (KB-sized centroids + codebooks) ships inside a mapInPandas
    closure, and the per-query, per-probed-cell ADC lookup tables are
    computed executor-side in Arrow batches — the same
    ``ivfpq_probe_lut_rows`` math as the collected front, so for the
    same index, queries, and geometry the output frame is EXACTLY equal
    (tests/test_annindex.py pins it). The driver sees only the ≤n_cells
    DISTINCT probed cell ids (for partition pruning), never a vector —
    a million-probe batch-vs-index top-k runs without driver memory in
    the plan.

    Plan shape: the slim (query_id, __qv) frame is checkpointed ONCE
    (feeds the LUT pass and the re-rank join without re-reading the
    caller's source — corpus-freedom holds even when the queries came
    from the indexed corpus itself); probes/q join WITHOUT a broadcast
    hint (they scale with |queries| — Catalyst/AQE picks broadcast when
    small, shuffle otherwise, and the cell-key join's low key
    cardinality is AQE-skew-splittable). Returns
    (query_id, neighbor_id, sq_dist, rank<=k)."""
    id_col = index.id_col
    id_dt = dict(queries.dtypes)[id_col]
    cents, books = index.centroids, index.codebooks
    probe_n = n_probe

    spark = index.cells.sparkSession
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
        )
        # spread the Arrow LUT pass across the cluster — probe frames
        # often arrive as one explode-of-a-small-scan partition
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )

    def lut_batches(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"query_id": [], "cell": [], "lut": []})
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__qv"]])
            cells, luts = ivfpq_probe_luts_np(X, cents, books, probe_n)
            b, p = cells.shape
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy().repeat(p),
                    "cell": cells.reshape(-1),
                    "lut": list(luts.reshape(b * p, -1)),
                }
            )

    probes = q.mapInPandas(
        lut_batches, schema=f"query_id {id_dt}, cell int, lut array<double>"
    ).localCheckpoint(eager=True)  # one Arrow pass feeds the cell collect + the join
    probed_cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
    return _topk_against_cells(index, probes, q, probed_cells, k, shortlist)


def _zero_safe_cosine(va: str, vb: str, na: str, nb: str):
    """Rounded cosine with the module's pinned zero-norm semantics:
    zero-vs-zero = 1.0 (byte-identical degenerate payloads must flag),
    zero-vs-nonzero = -1.0 (nothing in common) — one rule, shared
    by the arrival-time dedup and the index-vs-index join
    so the two can never drift."""
    return (
        F.when(
            (F.col(na) > 0) & (F.col(nb) > 0),
            F.round(dot(va, vb) / (F.col(na) * F.col(nb)), 6),
        )
        .when((F.col(na) == 0) & (F.col(nb) == 0), F.lit(1.0))
        .otherwise(F.lit(-1.0))
    )


def semantic_dedup_against_index(
    batch: DataFrame,
    index: AnnIndex,
    vec_col: str,
    threshold: float = 0.95,
    *,
    encoded: DataFrame | None = None,
    n_probe_cells: int = 1,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup at arrival time: flag batch vectors whose cosine to ANY
    indexed corpus vector in the SAME coarse cell reaches ``threshold``
    — the incremental form of similarity.semantic_dedup, with the
    corpus side read from the persisted index alone (cell-pruned, zero
    corpus-embedding reads).

    Unlike :func:`ann_index_topk` this never collects the batch to the
    driver: the batch is cell-assigned by the FROZEN quantizer in one
    Arrow pass (the same assignment the index's own rows got, so a
    true duplicate always lands in its twin's cell), the candidate join
    is an equi-join on the cell id, and only in-cell pairs pay the
    exact-cosine cost — the SemDeDup cell-partition semantics (a
    near-dup straddling a cell boundary is missed at the same
    documented rate as the batch operator). The driver sees only the
    DISTINCT batch cell ids (≤ n_cells — for the partition-pruning
    isin), never the vectors. A NULL batch vector has no cell: the
    query fails with a ``PythonException`` carrying the worker's
    ``ValueError``.

    Id-equal pairs are excluded so a REPLAYED batch (its vectors
    already folded into the index) is not flagged as a duplicate of
    itself — the same replay contract as the near-dup index probe.

    ``encoded`` injects a precomputed :func:`_encode_with_vec` frame
    ``(id, cell, codes, vec)`` so an ingest loop that also FOLDS the
    batch encodes it exactly once (the Arrow encode pass is the
    dominant per-batch cost); standalone probes leave it None and get
    the cheaper cell-only assignment (similarity.nearest_cells — the PQ
    codes are fold-side state the probe never reads).

    ``n_probe_cells`` (multi-probe): with the default 1 each batch
    vector probes only its HOME cell, so a near-dup pair straddling a
    cell boundary (each side quantized to a different-but-adjacent
    cell) is invisible — the documented single-cell miss. p > 1 probes
    each vector's top-p nearest cells instead: p·|batch| slim
    (id, cell) probe rows (still no driver vectors — the driver sees
    only the distinct probed cell ids), the dup flag is the max cosine
    over ALL probed cells, and the read cost grows to at most
    p/n_cells of the cells table. The home cell (= fold cell) is
    always probe rank 0, so p=1 output is byte-identical to a
    home-cell-only probe.

    ``max_cell`` bounds the in-cell quadratic: corpus cells
    holding more than this many distinct vectors are skipped for
    matching — see the inline comment for the full trade. Pair it with
    the occupancy ``rebuild_flag`` in :func:`ann_index_health`: the cap
    is the stopgap, the re-celled rebuild is the fix.

    Zero-norm vectors (a failed/degenerate embedder) have no direction,
    so cosine is undefined; the similarity is DEFINED here as 1.0 for a
    zero-vs-zero pair (byte-identical payloads — the second copy must
    flag as a dup or identical zero vectors would accumulate without
    bound in an ingest loop) and -1.0 for zero-vs-nonzero (nothing in
    common). Without this the division's NULL coalesced to dup=False
    forever. This INTENTIONALLY diverges
    from the one-shot similarity.semantic_dedup, whose NULL cosine
    keeps every zero vector: a batch operator sees the whole corpus at
    once so keep-and-quarantine is safe there, while an unbounded
    stream must self-limit — see the mirror note in its docstring.

    Returns one row per batch vector:
    (id, cell, max_corpus_cos, dup) — max_corpus_cos NULL when the
    probed cell holds no other corpus vector.
    """
    spark = index.cells.sparkSession
    id_col = index.id_col
    if encoded is None:
        encoded = batch.select(
            F.col(id_col),
            nearest_cells(F.col(vec_col), index.centroids)[0].alias("cell"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        )
    enc = (
        encoded.select(id_col, "cell", "vec")
        .withColumn("__n", l2_norm("vec"))
        .localCheckpoint(eager=True)  # feeds the cell collect + the join
    )
    cos = _zero_safe_cosine("vec", "__cv", "__n", "__cn")
    if n_probe_cells <= 1:
        probe = enc
    else:
        # top-p cell assignment: one more Arrow pass over the batch
        # (the fold's home assignment can't be reused for ranks 1..p-1),
        # exploded to p slim probe rows per vector. The probe JOIN key
        # becomes the probed cell; the output keeps the home cell.
        probe = enc.select(
            id_col, "vec", "__n",
            F.explode(nearest_cells(F.col("vec"), index.centroids, n_probe_cells)).alias("cell"),
        )
    probe = probe.localCheckpoint(eager=True) if n_probe_cells > 1 else probe
    batch_cells = sorted(r["cell"] for r in probe.select("cell").distinct().collect())
    corpus_side = (
        _pruned_cells_scan(index, batch_cells)
        .select(F.col(id_col).alias("__cid"), "cell", F.col("vec").alias("__cv"))
        .dropDuplicates(["__cid"])  # replayed-append defense
        .withColumn("__cn", l2_norm("__cv"))
    )
    if max_cell is not None:
        # hot-cell candidate cap (the neardup.max_bucket twin): a
        # frozen n_cells means fold-heavy cells grow without bound, and
        # every batch vector probing one pays |cell| exact-cosine rows.
        # Cells holding more than max_cell DISTINCT corpus vectors are
        # skipped for matching (one extra groupBy over a table the join
        # already scans — O(probed cells)). Documented trade: dups whose
        # corpus twin lives in a skipped cell go unseen until the
        # occupancy-flagged rebuild (ann_index_health) re-cells the
        # corpus. Plain count is already a distinct-doc count here —
        # corpus_side is id-deduped above, which is also what keeps
        # replayed appends from disqualifying a cell.
        hot = (
            corpus_side.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("__occ"))
            .filter(F.col("__occ") > max_cell)
            .select("cell")
        )
        corpus_side = corpus_side.join(hot, "cell", "left_anti")
    scored = (
        probe.join(corpus_side, "cell")
        .filter(F.col(id_col) != F.col("__cid"))
        .select(id_col, cos.alias("__cos"))
        .groupBy(id_col)
        .agg(F.max("__cos").alias("max_corpus_cos"))
    )
    return (
        enc.select(id_col, "cell")
        .join(scored, [id_col], "left")
        .select(
            id_col,
            "cell",
            "max_corpus_cos",
            F.coalesce(F.col("max_corpus_cos") >= threshold, F.lit(False)).alias("dup"),
        )
    )
