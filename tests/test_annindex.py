"""Persisted IVF-PQ ANN index (operators/annindex.py, round 10):
search parity with the in-plan operator, corpus-freedom (the index is
the only state — proven by deleting the embeddings parquet), probed-
cell-only IO, frozen-model incremental folds, and watermark
idempotence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from lakehouse_spark_spark.operators.annindex import (
    ann_index_topk,
    load_ann_index,
    update_ann_index,
    write_ann_index,
)
from lakehouse_spark_spark.operators.similarity import ivfpq_encode, ivfpq_topk

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select("vec_id", "embedding")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_persisted_search_equals_inplan_operator(spark, emb, tmp_path):
    """Same corpus, same (deterministic) training → the persisted-index
    search and the in-plan ivfpq_topk return the IDENTICAL frame."""
    idx = write_ann_index(emb, "vec_id", "embedding", str(tmp_path / "ann"), n_cells=8, m=8, k=16)
    probes = emb.filter(F.col("vec_id") < 5)
    got = ann_index_topk(idx, probes, "embedding", k=5, n_probe=3, shortlist=32)
    inline_index = ivfpq_encode(emb, "vec_id", "embedding", idx.centroids, idx.codebooks)
    want = ivfpq_topk(
        emb, inline_index, probes, "vec_id", "embedding", idx.centroids, idx.codebooks,
        k=5, n_probe=3, shortlist=32,
    )
    assert _rows(got) == _rows(want)
    assert got.count() == 5 * 5


def test_search_is_corpus_free_and_reads_only_probed_cells(spark, emb, tmp_path):
    """The incremental contract: after write_ann_index, search consumes
    ONLY the index. The embeddings parquet is DELETED before execution
    (any lingering scan would throw), the plan never references it, and
    the files actually read all live under probed cell partitions."""
    import shutil

    corpus_dir = str(tmp_path / "ann_corpus_parquet")
    emb.write.parquet(corpus_dir)
    idx_path = str(tmp_path / "ann_idx")
    idx = write_ann_index(
        spark.read.parquet(corpus_dir), "vec_id", "embedding", idx_path, n_cells=8
    )
    probes = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in emb.filter("vec_id < 5").collect()],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    expected = _rows(ann_index_topk(idx, probes, "embedding", k=5, n_probe=3, shortlist=32))

    shutil.rmtree(corpus_dir)  # the index is now the ONLY corpus state
    idx2 = load_ann_index(spark, idx_path)
    out = ann_index_topk(idx2, probes, "embedding", k=5, n_probe=3, shortlist=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ann_corpus_parquet" not in plan
    assert _rows(out) == expected

    # IO bound: the cells scans carry PartitionFilters restricted to the
    # probed cells (inputFiles() ignores pruning, so the plan is the
    # honest signal — given a partition-column filter, Spark's scan
    # reads only those partitions' files)
    import re

    pfs = re.findall(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", plan)
    assert pfs, f"expected cell partition filters in the search plan:\n{plan[:2000]}"
    import numpy as np

    C = np.asarray(idx2.centroids)
    probed = set()
    for r in probes.collect():
        qv = np.asarray(r["embedding"], dtype=np.float64)
        cd = ((C - qv) ** 2).sum(axis=1)
        probed |= {int(c) for c in np.argsort(cd, kind="stable")[:3]}
    for pf in pfs:
        cells_in_filter = {int(x) for x in pf.split(",")}
        assert cells_in_filter == probed


def test_update_with_frozen_model_equals_encode_of_union(spark, emb, tmp_path):
    """Folding a batch appends its codes/vectors under the FROZEN model;
    search over the updated index equals the in-plan operator over the
    union encoded with the same model."""
    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx_path = str(tmp_path / "ann_upd")
    idx = write_ann_index(corpus, "vec_id", "embedding", idx_path, n_cells=8)
    idx = update_ann_index(idx_path, batch, "embedding", batch_id=1)
    probes = emb.filter(F.col("vec_id") < 5)
    got = ann_index_topk(idx, probes, "embedding", k=5, n_probe=3, shortlist=32)
    union = corpus.unionByName(batch)
    inline_index = ivfpq_encode(union, "vec_id", "embedding", idx.centroids, idx.codebooks)
    want = ivfpq_topk(
        union, inline_index, probes, "vec_id", "embedding", idx.centroids, idx.codebooks,
        k=5, n_probe=3, shortlist=32,
    )
    assert _rows(got) == _rows(want)
    # batch members are actually findable post-fold
    assert got.filter(F.col("neighbor_id") % 5 == 0).count() > 0


def test_update_watermark_and_duplicate_tolerance(spark, emb, tmp_path):
    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx_path = str(tmp_path / "ann_wm")
    write_ann_index(corpus, "vec_id", "embedding", idx_path, n_cells=8)
    idx = update_ann_index(idx_path, batch, "embedding", batch_id=3)
    n = idx.cells.count()
    probes = emb.filter(F.col("vec_id") < 5)
    want = _rows(ann_index_topk(idx, probes, "embedding", k=5, n_probe=3))
    # same epoch replayed, and an older one: both no-ops
    assert update_ann_index(idx_path, batch, "embedding", batch_id=3).cells.count() == n
    assert update_ann_index(idx_path, batch, "embedding", batch_id=1).cells.count() == n
    # a replayed half-append leaves duplicate rows; search is unchanged
    idx.cells.limit(7).write.mode("append").partitionBy("cell").parquet(f"{idx_path}/cells")
    dup_idx = load_ann_index(spark, idx_path)
    assert _rows(ann_index_topk(dup_idx, probes, "embedding", k=5, n_probe=3)) == want


def test_compact_preserves_search(spark, emb, tmp_path):
    from lakehouse_spark_spark.operators.annindex import compact_ann_index

    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx_path = str(tmp_path / "ann_cp")
    write_ann_index(corpus, "vec_id", "embedding", idx_path, n_cells=8)
    idx = update_ann_index(idx_path, batch, "embedding", batch_id=1)
    idx.cells.limit(5).write.mode("append").partitionBy("cell").parquet(f"{idx_path}/cells")
    probes = emb.filter(F.col("vec_id") < 5)
    want = _rows(ann_index_topk(load_ann_index(spark, idx_path), probes, "embedding", k=5, n_probe=3))
    compact_ann_index(spark, idx_path)
    idx2 = load_ann_index(spark, idx_path)
    assert idx2.cells.count() == idx2.cells.distinct().count()  # replay dups gone
    assert _rows(ann_index_topk(idx2, probes, "embedding", k=5, n_probe=3)) == want


def test_index_supports_non_integer_ids(spark, emb, tmp_path):
    """The id dtype flows through write/search untouched (r10 review:
    the first cut hard-coded BIGINT query ids and crashed on string
    ids at search time)."""
    s_emb = emb.select(F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding")
    idx = write_ann_index(s_emb, "vec_id", "embedding", str(tmp_path / "ann_str"), n_cells=8)
    probes = s_emb.filter(F.col("vec_id").isin("doc-0", "doc-1", "doc-2"))
    out = ann_index_topk(idx, probes, "embedding", k=5, n_probe=3, shortlist=32)
    rows = out.collect()
    assert len(rows) == 3 * 5
    assert all(isinstance(r["query_id"], str) and isinstance(r["neighbor_id"], str) for r in rows)
    # numeric-id twin agrees modulo the id rendering (same vectors)
    idx_n = write_ann_index(emb, "vec_id", "embedding", str(tmp_path / "ann_num"), n_cells=8)
    probes_n = emb.filter(F.col("vec_id") < 3)
    want = {
        (f"doc-{r['query_id']}", f"doc-{r['neighbor_id']}", r["sq_dist"], r["rank"])
        for r in ann_index_topk(idx_n, probes_n, "embedding", k=5, n_probe=3, shortlist=32).collect()
    }
    got = {(r["query_id"], r["neighbor_id"], r["sq_dist"], r["rank"]) for r in rows}
    # NOTE: ranks can differ where sq_dist ties break on the id's sort
    # order (string vs numeric) — compare the (query, neighbor, dist)
    # triples instead
    assert {g[:3] for g in got} == {w[:3] for w in want}


def _within_cell_semdedup_reference(spark, corpus, batch, idx, threshold):
    """Reference: exact cosine of every (batch, corpus) pair whose
    FROZEN-quantizer cells agree — the SemDeDup cell-partition
    semantics the operator documents."""
    import numpy as np

    C = np.asarray(idx.centroids, dtype=np.float64)

    def cell_of(v):
        v = np.asarray(v, dtype=np.float64)
        return int(((C - v) ** 2).sum(axis=1).argmin())

    corpus_rows = [(r["vec_id"], cell_of(r["embedding"]), np.asarray(r["embedding"], float)) for r in corpus.collect()]
    out = {}
    for r in batch.collect():
        bid, bc = r["vec_id"], cell_of(r["embedding"])
        bv = np.asarray(r["embedding"], float)
        best = None
        for cid, cc, cv in corpus_rows:
            if cc != bc or cid == bid:
                continue
            cos = round(float(bv @ cv / (np.linalg.norm(bv) * np.linalg.norm(cv))), 6)
            best = cos if best is None else max(best, cos)
        out[bid] = (bc, best, best is not None and best >= threshold)
    return out


def test_semantic_dedup_against_index_matches_reference(spark, emb, tmp_path):
    from lakehouse_spark_spark.operators.annindex import semantic_dedup_against_index

    corpus = emb.filter("vec_id % 4 != 0")
    # batch: novel vectors + planted semantic dups (slightly scaled
    # copies of corpus vectors — cosine 1.0 to their source)
    batch = emb.filter("vec_id % 4 = 0").union(
        corpus.filter("vec_id % 8 = 1").select(
            (F.col("vec_id") + 50000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
        )
    )
    idx = write_ann_index(corpus, "vec_id", "embedding", str(tmp_path / "sd_idx"), n_cells=8)
    got = {
        r["vec_id"]: (r["cell"], r["max_corpus_cos"], r["dup"])
        for r in semantic_dedup_against_index(batch, idx, "embedding", threshold=0.98).collect()
    }
    want = _within_cell_semdedup_reference(spark, corpus, batch, idx, 0.98)
    assert got == want
    # planted dups flagged; the operator is non-vacuous both ways
    planted = [k for k in got if k >= 50000]
    assert planted and all(got[k][2] for k in planted)
    assert any(not got[k][2] for k in got)


def test_ann_ingest_foreach_batch_replay_idempotent(spark, emb, tmp_path):
    """The streaming loop: two batches fold sequentially; a full epoch
    replay neither duplicates index rows (watermark) nor drops the
    batch as a dup of itself (id-exclusion), and a later semantic dup
    of a folded vector is blocked."""
    from lakehouse_spark_spark.operators.annindex import load_ann_index
    from lakehouse_spark_spark.streaming.ingest import ann_ingest_foreach_batch

    corpus = emb.filter("vec_id % 4 != 0")
    b1 = emb.filter("vec_id % 8 = 0")
    idx_path = str(tmp_path / "ai_idx")
    write_ann_index(corpus, "vec_id", "embedding", idx_path, n_cells=8)
    kept_out = str(tmp_path / "ai_kept")
    fn = ann_ingest_foreach_batch(idx_path, "embedding", kept_out, threshold=0.98)

    fn(b1, 0)
    idx = load_ann_index(spark, idx_path)
    n_cells_rows = idx.cells.count()
    n_kept = spark.read.parquet(kept_out).count()
    assert n_kept == b1.count()  # all novel vs this corpus at 0.98

    ledger0 = sorted(
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(kept_out).collect()
    )
    fn(b1, 0)  # full epoch replay
    idx2 = load_ann_index(spark, idx_path)
    assert idx2.cells.count() == n_cells_rows  # watermark: no re-fold
    # exactly-once ledger (r11): the epoch's batch_id partition already
    # committed, so the replay skips the write — row-SET equality
    assert sorted(
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(kept_out).collect()
    ) == ledger0

    # batch 2: semantic dups of batch-1 vectors (scaled copies) drop
    b2 = b1.select(
        (F.col("vec_id") + 70000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.999)).alias("embedding"),
    )
    fn(b2, 1)
    ledger = spark.read.parquet(kept_out)
    assert ledger.filter("vec_id >= 70000").count() == 0  # all blocked
    assert load_ann_index(spark, idx_path).cells.count() == n_cells_rows


def test_ann_ingest_is_corpus_free(spark, emb, tmp_path):
    """The loop's per-batch plans consume only the index + the batch:
    the corpus embeddings parquet is deleted before the first batch."""
    import shutil

    from lakehouse_spark_spark.streaming.ingest import ann_ingest_foreach_batch

    corpus_dir = str(tmp_path / "ai_corpus_parquet")
    emb.filter("vec_id % 4 != 0").write.parquet(corpus_dir)
    idx_path = str(tmp_path / "ai_cf_idx")
    write_ann_index(spark.read.parquet(corpus_dir), "vec_id", "embedding", idx_path, n_cells=8)
    batch = emb.filter("vec_id % 8 = 0").localCheckpoint(eager=True)
    shutil.rmtree(corpus_dir)
    kept_out = str(tmp_path / "ai_cf_kept")
    fn = ann_ingest_foreach_batch(idx_path, "embedding", kept_out, threshold=0.98)
    fn(batch, 0)  # executes fine with the corpus gone
    assert spark.read.parquet(kept_out).count() == batch.count()


def test_semantic_dedup_zero_norm_vectors(spark, emb, tmp_path):
    """Zero-norm vectors (degenerate embedder output) have undefined
    cosine; the operator defines zero-vs-zero as 1.0 (the second copy
    must flag) and zero-vs-nonzero as -1.0 — without this the NULL
    division coalesced every zero vector to dup=False forever (r10
    second-review finding)."""
    from lakehouse_spark_spark.operators.annindex import semantic_dedup_against_index

    dim = len(emb.first()["embedding"])
    zero = [0.0] * dim
    corpus = emb.filter("vec_id % 2 != 0").select("vec_id", "embedding").union(
        spark.createDataFrame([(99990, zero)], f"vec_id bigint, embedding array<double>")
    )
    idx = write_ann_index(corpus, "vec_id", "embedding", str(tmp_path / "z_idx"), n_cells=4)
    batch = spark.createDataFrame(
        [(99991, zero), (99992, zero)], "vec_id bigint, embedding array<double>"
    )
    out = {r["vec_id"]: r for r in semantic_dedup_against_index(batch, idx, "embedding", 0.98).collect()}
    # both batch zeros are dups of the INDEXED zero vector (cos 1.0)
    assert out[99991]["dup"] and out[99992]["dup"]
    assert out[99991]["max_corpus_cos"] == 1.0
    # a zero vector vs a nonzero-only cell is NOT a dup
    corpus_nz = emb.filter("vec_id % 2 != 0").select("vec_id", "embedding")
    idx2 = write_ann_index(corpus_nz, "vec_id", "embedding", str(tmp_path / "z_idx2"), n_cells=4)
    out2 = semantic_dedup_against_index(batch, idx2, "embedding", 0.98).collect()
    assert all(not r["dup"] for r in out2)
    assert all(r["max_corpus_cos"] in (None, -1.0) for r in out2)


def test_compact_pointer_commit_crash_windows(spark, emb, tmp_path):
    """r11: compaction publishes cells_v{n+1} under an atomic
    manifest-pointer flip (the bloom commit protocol — the r10
    _swap_dirs rename dance left a mid-swap crash unreadable).
    Windows: (a) fully-written next version WITHOUT the flip — old
    index readable, answers unchanged, orphan GC'd later; (b) after a
    real compaction the superseded dir is RETAINED one cycle so
    in-flight reader frames keep resolving, and the next compaction
    GCs it; (c) a family whose current dir exists only as
    ``<dir>__old`` (the state an interrupted ``_swap_dirs`` would leave;
    no index writer publishes that way) fails to load instead of being
    served or repaired — rebuild it with write_ann_index."""
    import json
    import os
    import shutil

    from lakehouse_spark_spark.operators.annindex import compact_ann_index

    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx_path = str(tmp_path / "ann_ptr")
    write_ann_index(corpus, "vec_id", "embedding", idx_path, n_cells=8)
    idx = update_ann_index(idx_path, batch, "embedding", batch_id=1)
    probes = emb.filter(F.col("vec_id") < 5)
    want = _rows(ann_index_topk(idx, probes, "embedding", k=5, n_probe=3))

    # (a) crash BEFORE the pointer flip: next version fully written,
    # manifest still points at `cells` — reader sees the old index
    idx.cells.distinct().write.partitionBy("cell").parquet(f"{idx_path}/cells_v1")
    with open(os.path.join(idx_path, "manifest.json")) as fh:
        assert json.load(fh)["cells_dir"] == "cells"
    reloaded = load_ann_index(spark, idx_path)
    assert reloaded.cells_path.endswith("/cells")
    assert _rows(ann_index_topk(reloaded, probes, "embedding", k=5, n_probe=3)) == want

    # (b) a real compaction flips the pointer ("cells" -> cells_v1,
    # overwriting the orphan) and retains the superseded dir one cycle
    old_reader = load_ann_index(spark, idx_path)  # pins the pre-flip pointer
    compact_ann_index(spark, idx_path)
    with open(os.path.join(idx_path, "manifest.json")) as fh:
        assert json.load(fh)["cells_dir"] == "cells_v1"
    assert os.path.isdir(f"{idx_path}/cells")  # retained for in-flight readers
    assert old_reader.cells.count() > 0       # their lazy frames still resolve
    idx_v1 = load_ann_index(spark, idx_path)
    assert _rows(ann_index_topk(idx_v1, probes, "embedding", k=5, n_probe=3)) == want
    compact_ann_index(spark, idx_path)
    with open(os.path.join(idx_path, "manifest.json")) as fh:
        assert json.load(fh)["cells_dir"] == "cells_v2"
    assert os.path.isdir(f"{idx_path}/cells_v1")   # new previous, retained
    assert not os.path.exists(f"{idx_path}/cells")  # two generations old: GC'd
    assert _rows(
        ann_index_topk(load_ann_index(spark, idx_path), probes, "embedding", k=5, n_probe=3)
    ) == want

    # (c) only cells_v2__old exists: the loader does not fall back to it
    os.rename(f"{idx_path}/cells_v2", f"{idx_path}/cells_v2__old")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_ann_index(spark, idx_path)
    assert not os.path.exists(f"{idx_path}/cells_v2")  # reader left disk alone


def test_distributed_probe_equals_collected_front(spark, emb, tmp_path):
    """r11: ann_index_topk_distributed computes the per-query ADC LUTs
    executor-side (mapInPandas over the broadcast-with-the-closure
    frozen model) — same math, so the output frame is EXACTLY equal to
    the collected front's on the same index/queries/geometry, including
    with a batch-scale probe set and with non-integer ids."""
    from lakehouse_spark_spark.operators.annindex import ann_index_topk_distributed

    idx = write_ann_index(emb, "vec_id", "embedding", str(tmp_path / "ann_d"), n_cells=8)
    probes = emb.filter(F.col("vec_id") < 5)
    want = _rows(ann_index_topk(idx, probes, "embedding", k=5, n_probe=3, shortlist=32))
    got = _rows(ann_index_topk_distributed(idx, probes, "embedding", k=5, n_probe=3, shortlist=32))
    assert got == want

    # batch-scale probe set: every corpus vector plus scaled variants
    big = emb.select("vec_id", "embedding").union(
        emb.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"),
        )
    )
    want_big = _rows(ann_index_topk(idx, big, "embedding", k=3, n_probe=2, shortlist=16))
    got_big = _rows(ann_index_topk_distributed(idx, big, "embedding", k=3, n_probe=2, shortlist=16))
    assert got_big == want_big
    assert len(got_big) == big.count() * 3

    # string ids flow through the executor-side LUT pass untouched
    s_emb = emb.select(F.concat(F.lit("d-"), F.col("vec_id")).alias("vec_id"), "embedding")
    idx_s = write_ann_index(s_emb, "vec_id", "embedding", str(tmp_path / "ann_ds"), n_cells=8)
    p_s = s_emb.filter(F.col("vec_id").isin("d-0", "d-1", "d-2"))
    assert _rows(ann_index_topk_distributed(idx_s, p_s, "embedding", k=5, n_probe=3)) == _rows(
        ann_index_topk(idx_s, p_s, "embedding", k=5, n_probe=3)
    )


def test_distributed_probe_is_corpus_free(spark, emb, tmp_path):
    """The distributed front's plan consumes only the index + the
    checkpointed query frame: the corpus parquet (which is ALSO the
    query source here — the worst case for source-splicing) is deleted
    before execution, and the executed plan never references it."""
    import shutil

    from lakehouse_spark_spark.operators.annindex import ann_index_topk_distributed

    corpus_dir = str(tmp_path / "annd_corpus_parquet")
    emb.write.parquet(corpus_dir)
    src = spark.read.parquet(corpus_dir)
    idx_path = str(tmp_path / "annd_idx")
    idx = write_ann_index(src, "vec_id", "embedding", idx_path, n_cells=8)
    out = ann_index_topk_distributed(
        idx, src.filter("vec_id < 5"), "embedding", k=5, n_probe=3, shortlist=32
    )
    # the query frame is checkpointed inside the operator, so the
    # corpus can vanish before the action
    shutil.rmtree(corpus_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "annd_corpus_parquet" not in plan
    assert out.count() == 5 * 5


def test_multi_probe_semdedup_catches_boundary_dups(spark, tmp_path):
    """r11 multi-probe: a near-dup pair planted astride the midline of
    two coarse cells — the corpus copy quantizes into one cell, the
    batch copy into the other — is invisible at n_probe_cells=1 (the
    documented single-cell miss) and caught at n_probe_cells=2, while
    every non-boundary vector's row is identical under both settings
    (p=1 stays the default behavior)."""
    from lakehouse_spark_spark.operators.annindex import (
        load_ann_index,
        semantic_dedup_against_index,
        write_ann_index,
    )

    dim = 8
    def jit(i):
        return (i % 7 - 3) / 50.0
    cluster_a = [(i, [10.0 + jit(i), jit(i + 1)] + [jit(i + j) for j in range(2, dim)]) for i in range(40)]
    cluster_b = [(100 + i, [jit(i + 3), 10.0 + jit(i)] + [jit(i + j) for j in range(2, dim)]) for i in range(40)]
    # u: just B-side of the midline; its batch twin v sits just A-side.
    # Planted at radius 10 along the inter-cluster diagonal with a ±0.2
    # perpendicular offset: cosine(u,v) = (r²-δ²)/(r²+δ²) ≈ 0.9984,
    # and the offset dominates the centroid drift u's own membership
    # in the corpus induces (it pulls centroid B toward the midline).
    c, delta = 10.0 / 2**0.5, 0.2
    u = (500, [c - delta, c + delta] + [0.0] * (dim - 2))
    v = (600, [c + delta, c - delta] + [0.0] * (dim - 2))
    corpus = spark.createDataFrame(cluster_a + cluster_b + [u], "vec_id bigint, embedding array<double>")
    idx = write_ann_index(corpus, "vec_id", "embedding", str(tmp_path / "mp_idx"), n_cells=2, m=8, k=16)
    idx = load_ann_index(spark, str(tmp_path / "mp_idx"))
    # fixture sanity: the pair really does straddle the cell boundary
    u_cell = idx.cells.filter("vec_id = 500").first()["cell"]
    batch = spark.createDataFrame(
        [v] + cluster_a[:3], "vec_id bigint, embedding array<double>"
    )
    p1 = semantic_dedup_against_index(batch, idx, "embedding", threshold=0.99)
    p2 = semantic_dedup_against_index(
        batch, idx, "embedding", threshold=0.99, n_probe_cells=2
    )
    rows1 = {r["vec_id"]: r for r in p1.collect()}
    rows2 = {r["vec_id"]: r for r in p2.collect()}
    assert rows1[600]["cell"] != u_cell  # the straddle is real
    assert rows1[600]["dup"] is False  # p=1: boundary dup invisible
    assert rows2[600]["dup"] is True and rows2[600]["max_corpus_cos"] >= 0.99
    assert rows2[600]["cell"] == rows1[600]["cell"]  # home cell unchanged
    for i, _ in cluster_a[:3]:  # non-boundary vectors: p=2 == p=1
        assert tuple(rows2[i]) == tuple(rows1[i])


def test_ann_index_health_flags_distribution_drift(spark, emb, tmp_path):
    """r11 drift observability: per-fold residual stats ride the
    manifest; an in-distribution fold stays under the rebuild ratio, a
    constant-offset (shifted-embedder) fold trips it, and a replayed
    epoch records nothing."""
    from lakehouse_spark_spark.operators.annindex import (
        ANN_REBUILD_RESID_RATIO,
        ann_index_health,
    )

    corpus = emb.filter("vec_id % 4 != 0")
    path = str(tmp_path / "health_idx")
    write_ann_index(corpus, "vec_id", "embedding", path, n_cells=8)
    update_ann_index(path, emb.filter("vec_id % 8 = 0"), "embedding", batch_id=1)
    shifted = emb.filter("vec_id % 8 = 4").select(
        (F.col("vec_id") + 50_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.5)).alias("embedding"),
    )
    update_ann_index(path, shifted, "embedding", batch_id=2)
    h = {r["seq"]: r for r in ann_index_health(spark, path).collect()}
    assert set(h) == {-1, 0, 1}
    assert h[-1]["resid_ratio"] == 1.0 and h[-1]["rebuild_flag"] is False
    assert h[-1]["p99_resid"] >= h[-1]["mean_resid"] > 0
    assert h[0]["batch_id"] == 1 and h[0]["rebuild_flag"] is False
    assert h[0]["resid_ratio"] < ANN_REBUILD_RESID_RATIO  # in-distribution
    assert h[1]["batch_id"] == 2 and h[1]["rebuild_flag"] is True
    assert h[1]["resid_ratio"] >= ANN_REBUILD_RESID_RATIO  # drifted
    # a replayed epoch is a watermark no-op: no duplicate trail entry
    update_ann_index(path, shifted, "embedding", batch_id=2)
    assert ann_index_health(spark, path).count() == 3


def test_ann_index_health_zero_baseline_still_flags(spark, tmp_path):
    """A degenerate-but-legal baseline of exactly 0.0 (corpus with <=
    n_cells distinct vectors: centroids coincide with the points) must
    not disable the rebuild trigger — any nonzero drift against it is
    infinite (r11 review: a falsy-zero guard returned None forever)."""
    from lakehouse_spark_spark.operators.annindex import ann_index_health

    dim = 8
    pts = [[float(i)] * dim for i in range(4)]
    corpus = spark.createDataFrame(
        [(i, pts[i]) for i in range(4)], "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "zb_idx")
    write_ann_index(corpus, "vec_id", "embedding", path, n_cells=4, m=8, k=2)
    drifted = spark.createDataFrame(
        [(10, [100.0] * dim)], "vec_id bigint, embedding array<double>"
    )
    update_ann_index(path, drifted, "embedding", batch_id=1)
    h = {r["seq"]: r for r in ann_index_health(spark, path).collect()}
    assert h[-1]["mean_resid"] == 0.0 and h[-1]["resid_ratio"] == 1.0
    assert h[0]["resid_ratio"] == float("inf")
    assert h[0]["rebuild_flag"] is True


def test_index_vs_index_semantic_join(spark, emb, tmp_path):
    """r11: the cross-corpus join consumes the two indexes alone (both
    corpora deleted before execution), equals a driver-side within-cell
    brute force under the shared model, finds the planted cross-corpus
    near-dups, and rejects mismatched models loudly."""
    import shutil

    import numpy as np

    from lakehouse_spark_spark.operators.annindex import ann_index_semantic_join

    corpus_a = emb.filter("vec_id % 3 != 0")
    # corpus B: its own organic vectors + scaled copies of 10 A vectors
    # (ids pinned ONCE — an unordered limit(10) evaluated twice gives
    # no same-rows guarantee, r11 review)
    planted_src = sorted(
        int(r["vec_id"]) for r in emb.filter("vec_id % 9 = 1").limit(10).collect()
    )
    planted = emb.filter(F.col("vec_id").isin(planted_src)).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    corpus_b = emb.filter("vec_id % 3 = 0").unionByName(planted)
    dir_a, dir_b = str(tmp_path / "ja"), str(tmp_path / "jb")
    corpus_a.write.parquet(dir_a)
    corpus_b.write.parquet(dir_b)
    idx_a = write_ann_index(spark.read.parquet(dir_a), "vec_id", "embedding", str(tmp_path / "jidx_a"), n_cells=8)
    idx_b = write_ann_index(
        spark.read.parquet(dir_b), "vec_id", "embedding", str(tmp_path / "jidx_b"),
        model=(idx_a.centroids, idx_a.codebooks),
    )
    shutil.rmtree(dir_a); shutil.rmtree(dir_b)  # indexes are the only state
    idx_a = load_ann_index(spark, str(tmp_path / "jidx_a"))
    idx_b = load_ann_index(spark, str(tmp_path / "jidx_b"))
    out = ann_index_semantic_join(idx_a, idx_b, threshold=0.98)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ja" not in plan.replace("jidx_a", "") and "jb" not in plan.replace("jidx_b", "")
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    # planted recall: a 1.001-scaled copy lands at cosine ~1.0, but cell
    # assignment is L2-argmin, so a source near a Voronoi boundary can
    # legitimately quantize its copy into an adjacent cell (the
    # operator's documented single-cell miss) — require >= 8/10 found
    # rather than assuming co-assignment for every planted pair
    found = [s_ for s_ in planted_src if (s_, s_ + 10_000_000) in got]
    assert len(found) >= 8, (found, planted_src)
    assert all(got[(s_, s_ + 10_000_000)] >= 0.98 for s_ in found)
    # driver-side brute force within shared-model cells == the join
    def side(df):
        rows = {}
        for r in df.collect():
            v = np.asarray(r["vec"], dtype=np.float64)
            rows[r["vec_id"]] = (int(r["cell"]), v)
        return rows
    A, B = side(idx_a.cells), side(idx_b.cells)
    want = {}
    for ia, (ca, va) in A.items():
        for ib, (cb, vb) in B.items():
            if ca != cb:
                continue
            na, nb = np.sqrt((va * va).sum()), np.sqrt((vb * vb).sum())
            cos = 1.0 if (na == 0 and nb == 0) else (-1.0 if (na == 0) != (nb == 0) else round(float(va @ vb / (na * nb)), 6))
            if cos >= 0.98:
                want[(ia, ib)] = cos
    assert got == want
    # mismatched models are rejected, never silently joined
    idx_c = write_ann_index(
        emb.filter("vec_id % 3 = 0"), "vec_id", "embedding", str(tmp_path / "jidx_c"), n_cells=4
    )
    with pytest.raises(ValueError, match="different frozen"):
        ann_index_semantic_join(idx_a, idx_c)


def test_write_ann_index_rejects_malformed_injected_model(spark, emb, tmp_path):
    """r11 review: model= validation fails driver-side BEFORE any
    cluster work — empty models, ragged tables, and dimension
    disagreements all raise ValueError instead of an executor-side
    numpy broadcast error mid-encode."""
    import pytest as _pytest

    base = str(tmp_path / "mv")
    with _pytest.raises(ValueError, match="empty"):
        write_ann_index(emb, "vec_id", "embedding", base + "1", model=([], []))
    with _pytest.raises(ValueError, match="rectangular"):
        write_ann_index(
            emb, "vec_id", "embedding", base + "2",
            model=([[0.0] * 64, [0.0] * 63], [[[0.0] * 8] * 2] * 8),
        )
    with _pytest.raises(ValueError, match="disagree"):
        write_ann_index(
            emb, "vec_id", "embedding", base + "3",
            model=([[0.0] * 64], [[[0.0] * 9] * 2] * 8),  # 8x9 != 64
        )


def test_occupancy_flag_trips_on_hot_cell(spark, tmp_path):
    """r12 (r11 verdict task 2): a same-distribution stream outgrowing
    its frozen n_cells leaves residuals FLAT but concentrates folds in
    one cell — the occupancy ratio (fullest cell vs build-time mean
    cell count) must trip the rebuild flag where the residual ratio
    never would. Fold 1 stays under the 4x threshold, fold 2 crosses."""
    from lakehouse_spark_spark.operators.annindex import ann_index_health

    dim = 8

    def jit(i):
        return (i % 7 - 3) / 50.0

    a = [(i, [10.0 + jit(i)] + [jit(i + j) for j in range(1, dim)]) for i in range(10)]
    b = [(100 + i, [jit(i + 3), 10.0 + jit(i)] + [jit(i + j) for j in range(2, dim)]) for i in range(10)]
    corpus = spark.createDataFrame(a + b, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "occ_idx")
    write_ann_index(corpus, "vec_id", "embedding", path, n_cells=2, m=8, k=4)
    # build: 10 per cell, mean 10. fold 1: +15 near A -> max 25, ratio 2.5
    f1 = [(1000 + i, [10.0 + jit(i + 1)] + [jit(i + j) for j in range(1, dim)]) for i in range(15)]
    update_ann_index(path, spark.createDataFrame(f1, "vec_id bigint, embedding array<double>"), "embedding", batch_id=1)
    # fold 2: +30 more near A -> max 55, ratio 5.5 >= 4.0 -> flag
    f2 = [(2000 + i, [10.0 + jit(i + 2)] + [jit(i + j) for j in range(1, dim)]) for i in range(30)]
    update_ann_index(path, spark.createDataFrame(f2, "vec_id bigint, embedding array<double>"), "embedding", batch_id=2)
    h = {r["seq"]: r for r in ann_index_health(spark, path).collect()}
    assert h[0]["occupancy_ratio"] == pytest.approx(2.5) and h[0]["rebuild_flag"] is False
    assert h[1]["occupancy_ratio"] == pytest.approx(5.5) and h[1]["rebuild_flag"] is True
    assert h[1]["max_cell"] == 55
    # the residual signal alone would never have fired: same distribution
    assert h[1]["resid_ratio"] < 1.5


def test_max_cell_cap_bounds_semdedup_candidates(spark, tmp_path):
    """r12: the hot-cell candidate cap (neardup.max_bucket's twin).
    With the cap, a batch vector probing an over-full cell sees NO
    candidates (its dup goes unseen — the documented trade until the
    occupancy-flagged rebuild) while cold-cell dups keep matching;
    uncapped output is unchanged."""
    from lakehouse_spark_spark.operators.annindex import semantic_dedup_against_index

    dim = 8

    def jit(i):
        return (i % 7 - 3) / 50.0

    hot = [(i, [10.0 + jit(i)] + [jit(i + j) for j in range(1, dim)]) for i in range(30)]
    cold = [(100 + i, [jit(i + 3), 10.0 + jit(i)] + [jit(i + j) for j in range(2, dim)]) for i in range(8)]
    corpus = spark.createDataFrame(hot + cold, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "cap_idx")
    write_ann_index(corpus, "vec_id", "embedding", path, n_cells=2, m=8, k=4)
    idx = load_ann_index(spark, path)
    batch = spark.createDataFrame(
        [(5000, hot[0][1]), (6000, cold[0][1])], "vec_id bigint, embedding array<double>"
    )
    uncapped = {r["vec_id"]: r for r in
                semantic_dedup_against_index(batch, idx, "embedding", threshold=0.98).collect()}
    assert uncapped[5000]["dup"] is True and uncapped[6000]["dup"] is True
    capped = {r["vec_id"]: r for r in
              semantic_dedup_against_index(batch, idx, "embedding", threshold=0.98, max_cell=20).collect()}
    assert capped[5000]["dup"] is False and capped[5000]["max_corpus_cos"] is None
    assert capped[6000]["dup"] is True  # cold cell unaffected
    assert tuple(capped[6000]) == tuple(uncapped[6000])


def test_max_cell_cap_on_index_vs_index_join(spark, tmp_path):
    """r12: the same cap on the cross-corpus join — an over-full cell on
    EITHER side is skipped; cold-cell pairs are byte-identical to the
    uncapped run."""
    from lakehouse_spark_spark.operators.annindex import ann_index_semantic_join

    dim = 8

    def jit(i):
        return (i % 7 - 3) / 50.0

    a_hot = [(i, [10.0 + jit(i)] + [jit(i + j) for j in range(1, dim)]) for i in range(25)]
    a_cold = [(100 + i, [jit(i + 3), 10.0 + jit(i)] + [jit(i + j) for j in range(2, dim)]) for i in range(6)]
    idx_a = write_ann_index(
        spark.createDataFrame(a_hot + a_cold, "vec_id bigint, embedding array<double>"),
        "vec_id", "embedding", str(tmp_path / "ja"), n_cells=2, m=8, k=4,
    )
    # corpus B: scaled copies of 3 hot-cell and 3 cold-cell A vectors
    b = [(9000 + i, [x * 1.0001 for x in a_hot[i][1]]) for i in range(3)]
    b += [(9500 + i, [x * 1.0001 for x in a_cold[i][1]]) for i in range(3)]
    write_ann_index(
        spark.createDataFrame(b, "vec_id bigint, embedding array<double>"),
        "vec_id", "embedding", str(tmp_path / "jb"),
        model=(idx_a.centroids, idx_a.codebooks),
    )
    idx_b = load_ann_index(spark, str(tmp_path / "jb"))
    full = _rows(ann_index_semantic_join(idx_a, idx_b, threshold=0.98))
    capped = _rows(ann_index_semantic_join(idx_a, idx_b, threshold=0.98, max_cell=20))
    hot_cell = load_ann_index(spark, str(tmp_path / "ja")).cells.filter("vec_id = 0").first()["cell"]
    assert len(full) > len(capped) > 0
    assert capped == [r for r in full if r[2] != hot_cell]  # (id_a, id_b, cell, cos)


def test_recall_panel_trend_declines_when_truth_displaced(spark, tmp_path):
    """r12 (r11 verdict task 3): measured recall@k rides the health
    trail. Folding near-copies of every corpus vector displaces the
    panel's build-time exact ground truth from the index's top-k, so
    the recorded recall falls below the baseline — the actionable
    number the residual ratio only proxies."""
    import numpy as np

    from lakehouse_spark_spark.operators.annindex import ann_index_health

    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 16).round(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "recall_idx")
    write_ann_index(corpus, "vec_id", "embedding", path, n_cells=4, m=8, k=8)
    h0 = {r["seq"]: r for r in ann_index_health(spark, path).collect()}
    base_recall = h0[-1]["recall_at_k"]
    assert base_recall is not None and 0.3 <= base_recall <= 1.0
    copies = spark.createDataFrame(
        [(1000 + i, [float(x) * 1.0001 for x in vecs[i]]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    update_ann_index(path, copies, "embedding", batch_id=1)
    h1 = {r["seq"]: r for r in ann_index_health(spark, path).collect()}
    assert h1[0]["recall_at_k"] is not None
    assert h1[0]["recall_at_k"] < base_recall


def test_occupancy_flagged_rebuild_recells_and_resets(spark, tmp_path):
    """r12: the durable response to the occupancy flag. A fold-heavy
    cell trips the flag; maybe_rebuild_ann_index re-trains with enough
    cells to restore the original build's mean occupancy, resets
    baseline/tracker/panel in ONE manifest flip, preserves the epoch
    watermark (pre-rebuild replays stay no-ops), keeps in-flight
    readers alive (one-version retention), and is idempotent once the
    new baseline is healthy."""
    import json
    import os

    from lakehouse_spark_spark.operators.annindex import (
        ann_index_health,
        maybe_rebuild_ann_index,
    )

    dim = 8

    def jit(i):
        return (i % 7 - 3) / 50.0

    a = [(i, [10.0 + jit(i)] + [jit(i + j) for j in range(1, dim)]) for i in range(10)]
    b = [(100 + i, [jit(i + 3), 10.0 + jit(i)] + [jit(i + j) for j in range(2, dim)]) for i in range(10)]
    path = str(tmp_path / "rebuild_idx")
    write_ann_index(
        spark.createDataFrame(a + b, "vec_id bigint, embedding array<double>"),
        "vec_id", "embedding", path, n_cells=2, m=8, k=4,
    )
    # not flagged yet: maybe_rebuild is a manifest-read no-op
    rebuilt, _ = maybe_rebuild_ann_index(spark, path)
    assert rebuilt is False
    f = [(2000 + i, [10.0 + jit(i + 2)] + [jit(i + j) for j in range(1, dim)]) for i in range(50)]
    update_ann_index(
        path, spark.createDataFrame(f, "vec_id bigint, embedding array<double>"),
        "embedding", batch_id=1,
    )
    assert ann_index_health(spark, path).collect()[-1]["rebuild_flag"] is True
    old_idx = load_ann_index(spark, path)  # in-flight reader
    rebuilt, idx2 = maybe_rebuild_ann_index(spark, path)
    assert rebuilt is True
    mf = json.load(open(os.path.join(path, "manifest.json")))
    # occupancy policy: 70 rows / build-mean 10 -> 7 cells
    assert mf["n_cells"] == 7 and mf["cells_dir"] == "cells_v1"
    assert mf["centroids_dir"] == "centroids_v1" and mf["codebooks_dir"] == "codebooks_v1"
    assert mf["last_batch_id"] == 1  # watermark preserved
    h = ann_index_health(spark, path).collect()
    assert [r["seq"] for r in h] == [-1]  # fresh baseline, empty trail
    assert h[0]["recall_at_k"] is not None and h[0]["rebuild_flag"] is False
    assert idx2.cells.count() == 70 == old_idx.cells.count()  # retention
    # replayed pre-rebuild epoch: still a watermark no-op
    update_ann_index(
        path, spark.createDataFrame(f, "vec_id bigint, embedding array<double>"),
        "embedding", batch_id=1,
    )
    assert load_ann_index(spark, path).cells.count() == 70
    rebuilt, _ = maybe_rebuild_ann_index(spark, path)
    assert rebuilt is False  # healthy again


def test_second_rebuild_versions_every_family(spark, tmp_path):
    """Review catch (r12): the first rebuild moves each table family to
    _v1; a SECOND rebuild must step every family to _v2 — including the
    panel, whose pointer lives inside the manifest's panel record (a
    bad `panel_dir` key lookup used to re-target panel_v1 and overwrite
    the LIVE panel before the flip). Panel geometry (n/k) is index
    configuration and must survive both rebuilds."""
    import json
    import os

    from lakehouse_spark_spark.operators.annindex import rebuild_ann_index

    vecs = [(i, [float(i % 9), float(i % 7), float(i % 5), float(i % 3)]) for i in range(40)]
    corpus = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "revs_idx")
    write_ann_index(corpus, "vec_id", "embedding", path, n_cells=4, m=4, k=4,
                    panel_n=16, panel_k=3)
    rebuild_ann_index(spark, path, n_cells=4)
    mf1 = json.load(open(os.path.join(path, "manifest.json")))
    assert mf1["cells_dir"] == "cells_v1" and mf1["panel"]["dir"] == "panel_v1"
    assert mf1["panel"]["n"] == 16 and mf1["panel"]["k"] == 3  # inherited
    rebuild_ann_index(spark, path, n_cells=4)
    mf2 = json.load(open(os.path.join(path, "manifest.json")))
    assert mf2["cells_dir"] == "cells_v2"
    assert mf2["centroids_dir"] == "centroids_v2"
    assert mf2["codebooks_dir"] == "codebooks_v2"
    assert mf2["panel"]["dir"] == "panel_v2"
    assert mf2["panel"]["n"] == 16 and mf2["panel"]["k"] == 3
    # one-version retention: v1 dirs survive this flip, originals are GC'd
    names = set(os.listdir(path))
    assert {"cells_v1", "cells_v2", "panel_v1", "panel_v2"} <= names
    assert "cells" not in names and "panel" not in names
    idx = load_ann_index(spark, path)
    assert idx.cells.count() == 40  # still fully readable


def test_ann_ingest_auto_rebuild_self_heals(spark, tmp_path):
    """r12: the self-healing streaming loop. Hot-cell-heavy batches
    trip the occupancy flag and auto_rebuild re-cells the index INSIDE
    the epoch (occupancy-policy n_cells, watermark preserved), after
    which (a) the next epoch probes the rebuilt index and still blocks
    a semantic dup of a pre-rebuild keep, (b) the exactly-once ledger
    is untouched by the rebuild, and (c) the health trail restarts at
    a healthy baseline."""
    import json
    import os

    from lakehouse_spark_spark.operators.annindex import ann_index_health, load_ann_index
    from lakehouse_spark_spark.streaming.ingest import ann_ingest_foreach_batch

    dim = 8

    def jit(i):
        return (i % 7 - 3) / 50.0

    a = [(i, [10.0 + jit(i)] + [jit(i + j) for j in range(1, dim)]) for i in range(10)]
    b = [(100 + i, [jit(i + 3), 10.0 + jit(i)] + [jit(i + j) for j in range(2, dim)]) for i in range(10)]
    idx_path = str(tmp_path / "heal_idx")
    write_ann_index(
        spark.createDataFrame(a + b, "vec_id bigint, embedding array<double>"),
        "vec_id", "embedding", idx_path, n_cells=2, m=8, k=4,
    )
    kept_out = str(tmp_path / "heal_kept")
    fn = ann_ingest_foreach_batch(
        idx_path, "embedding", kept_out, threshold=0.999, auto_rebuild=True
    )
    # epoch 0: 50 novel vectors into the A cell -> max 60 vs build mean
    # 10 -> occupancy 6x >= 4x -> flagged -> rebuilt within the epoch
    # (second coord >= 1.0 keeps every cos vs the A cluster < 0.996 —
    # novel at the 0.999 threshold — while the dominant first coord
    # still assigns the A cell)
    f = [(2000 + i, [10.0 + jit(3 * i + 1), 1.0 + float(i) / 10.0] + [jit(i + j) for j in range(2, dim)])
         for i in range(50)]
    fn(spark.createDataFrame(f, "vec_id bigint, embedding array<double>"), 0)
    mf = json.load(open(os.path.join(idx_path, "manifest.json")))
    assert mf["n_cells"] == 7 and mf["cells_dir"] == "cells_v1"  # 70/10
    assert mf["last_batch_id"] == 0  # watermark survived the rebuild
    h = ann_index_health(spark, idx_path).collect()
    assert [r["seq"] for r in h] == [-1] and h[0]["rebuild_flag"] is False
    assert spark.read.parquet(kept_out).count() == 50  # ledger intact
    # epoch 1 probes the REBUILT index: an exact copy of an epoch-0
    # keep is blocked, a genuinely novel vector passes
    b1 = [(9000, f[0][1]), (9001, [5.0, 5.0, 5.0] + [jit(j) for j in range(3, dim)])]
    fn(spark.createDataFrame(b1, "vec_id bigint, embedding array<double>"), 1)
    ledger = {r["vec_id"] for r in spark.read.parquet(kept_out).collect()}
    assert 9000 not in ledger and 9001 in ledger
    # epoch-0 replay after the rebuild: watermark + ledger both no-op
    n = load_ann_index(spark, idx_path).cells.count()
    fn(spark.createDataFrame(f, "vec_id bigint, embedding array<double>"), 0)
    assert load_ann_index(spark, idx_path).cells.count() == n
    assert spark.read.parquet(kept_out).count() == 51
