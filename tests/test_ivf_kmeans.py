"""The k-means fit behind every IVF path (``ivf_topk``,
``semantic_dedup``, ``train_ivfpq``, the persisted ANN index): one
numpy Lloyd kernel over one bounded driver sample. Its contracts:
the same corpus gives the same centroids whatever its partitioning,
degenerate corpora still yield ``n_cells`` usable centroids, and bad
input fails with the column named.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_ORACLE


def test_centroids_do_not_depend_on_partitioning(spark):
    from lakehouse_spark_spark.operators.similarity import train_ivf_centroids
    from lakehouse_spark_spark.plans.queries import _emb_corpus_with_planted

    # these float32 vectors sum exactly in doubles in any order; the
    # planted corpus is array<double>, where row order changes the means
    for emb in (spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet"), _emb_corpus_with_planted(spark, SF_ORACLE)):
        one = train_ivf_centroids(emb.repartition(1), "embedding", n_cells=8)
        seven = train_ivf_centroids(emb.repartition(7), "embedding", n_cells=8)
        assert len(one) == 8
        assert one == seven


def test_fewer_rows_than_cells_gives_n_cells_and_exact_topk(spark):
    from lakehouse_spark_spark.operators.similarity import cosine_topk, ivf_topk, train_ivf_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = train_ivf_centroids(df, "embedding", n_cells=8)
    assert len(cents) == 8 and all(len(c) == 2 for c in cents)
    # probing every cell makes IVF exact, so the output must equal brute force
    got = ivf_topk(df, df, "vec_id", "embedding", k=5, n_cells=8, n_probe=8)
    want = cosine_topk(df, df, "vec_id", "embedding", k=5)
    cols = ["query_id", "neighbor_id", "cosine_sim", "rank"]
    assert sorted(got.select(cols).collect()) == sorted(want.select(cols).collect())


def test_empty_training_sample_names_the_column(spark):
    from lakehouse_spark_spark.operators.similarity import train_ivf_centroids, train_ivfpq

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="embedding"):
        train_ivf_centroids(empty, "embedding", n_cells=4)
    with pytest.raises(ValueError, match="embedding"):
        train_ivfpq(empty, "embedding", n_cells=4, m=2, k=4)


def test_null_vector_fails_the_fit(spark):
    """A null vector fails the fit, and the cell assignment of a given
    model too."""
    from pyspark.errors import PythonException

    from lakehouse_spark_spark.operators.similarity import ivf_topk, semantic_dedup, train_ivf_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="null vector in 'embedding'"):
        train_ivf_centroids(df, "embedding", n_cells=2)
    with pytest.raises(ValueError, match="null vector in 'embedding'"):
        semantic_dedup(df, "vec_id", "embedding", n_cells=2).collect()
    with pytest.raises(PythonException, match="null vector"):
        ivf_topk(df, df, "vec_id", "embedding", centroids=[[1.0, 0.0], [0.0, 1.0]]).collect()


def _sse(X, cents) -> float:
    C = np.asarray(cents)
    return float(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1).sum())


@settings(max_examples=200, deadline=None)
@given(
    distinct=st.integers(1, 4).flatmap(
        lambda d: st.lists(st.lists(st.integers(-20, 20), min_size=d, max_size=d), min_size=1, max_size=6)
    ),
    picks=st.lists(st.integers(0, 5), min_size=0, max_size=30),
    k=st.integers(1, 8),
    scale=st.sampled_from([1.0, 0.1, 1e-3]),
)
def test_kmeans_kernel_properties(distinct, picks, k, scale):
    """Planted duplicates, fewer distinct rows than k and a single row:
    the kernel returns k finite centroids of the input's dim, Lloyd
    never raises the SSE of its farthest-point start, and equal input
    gives equal output."""
    from lakehouse_spark_spark.operators.similarity import _pq_codebooks_np

    rows = [distinct[0]] + [distinct[p % len(distinct)] for p in picks]
    X = np.asarray(rows, dtype=np.float64) * scale
    cents = _pq_codebooks_np(X, m=1, k=k)[0]
    assert len(cents) == k
    assert all(len(c) == X.shape[1] for c in cents)
    assert np.isfinite(np.asarray(cents)).all()
    init = _pq_codebooks_np(X, m=1, k=k, iters=0)[0]
    # a mean of equal floats can land an ulp off them; allow rounding only
    assert _sse(X, cents) <= _sse(X, init) * (1 + 1e-9) + 1e-12
    assert _pq_codebooks_np(X.copy(), m=1, k=k)[0] == cents


def _nearest_reference(points, cents, n):
    """Sequential-sum squared L2, then a stable sort: the n nearest
    centroid indices per point, ties to the lower index."""
    out = []
    for p in points:
        d = []
        for c in cents:
            acc = 0
            for a, b in zip(p, c):
                acc += (a - b) * (a - b)
            d.append(acc)
        out.append(sorted(range(len(cents)), key=lambda j: (d[j], j))[:n])
    return out


@settings(max_examples=200, deadline=None)
@given(
    data=st.integers(1, 4).flatmap(
        lambda d: st.tuples(
            st.lists(st.lists(st.integers(-6, 6), min_size=d, max_size=d), min_size=1, max_size=8),
            st.lists(st.lists(st.integers(-12, 12), min_size=d, max_size=d), max_size=12),
        )
    ),
    dups=st.lists(st.integers(0, 7), max_size=4),
    mids=st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=6),
    n=st.integers(1, 10),
)
def test_blocked_distances_match_the_unblocked_form(data, dups, mids, n):
    """The kernel against a sequential-sum reference on small integers,
    where every sum is exact: planted duplicate centroids and points
    equidistant from two centroids must rank the same cells in the same
    order, ties to the lower index, for n=1 and n>1, with the default
    block size and with one row per block."""
    from lakehouse_spark_spark.operators import similarity

    halves, pts = data
    cents = [[2 * x for x in c] for c in halves]  # even, so every midpoint is integral
    cents += [cents[i % len(cents)] for i in dups]
    pts = pts + [[(a + b) // 2 for a, b in zip(cents[i % len(cents)], cents[j % len(cents)])] for i, j in mids]
    pts += cents[:2]
    X, C = np.asarray(pts, dtype=np.float64), np.asarray(cents, dtype=np.float64)
    want = _nearest_reference(pts, cents, n)
    default = similarity._DIST_BLOCK_ELEMS
    for block in (default, 7):  # 7: one row per block
        similarity._DIST_BLOCK_ELEMS = block
        try:
            assert similarity._nearest_rows(X, C, n).tolist() == want
            assert similarity._nearest_rows(X, C).tolist() == [w[:1] for w in want]
        finally:
            similarity._DIST_BLOCK_ELEMS = default


def test_blocked_float_distances_match_the_unblocked_form(monkeypatch):
    """On float data the blocked ranks equal the unblocked N × k × d
    form's argmin and stable argsort, and the k-means fit is the same,
    with the default block size and with one row per block."""
    from lakehouse_spark_spark.operators import similarity

    rng = np.random.default_rng(5)
    X, C = rng.normal(size=(200, 8)), rng.normal(size=(5, 8))
    unblocked = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    books = similarity._pq_codebooks_np(X, m=2, k=5)
    for block in (similarity._DIST_BLOCK_ELEMS, 7):  # 7: one row per block
        monkeypatch.setattr(similarity, "_DIST_BLOCK_ELEMS", block)
        assert (similarity._nearest_rows(X, C)[:, 0] == unblocked.argmin(axis=1)).all()
        assert (similarity._nearest_rows(X, C, 3) == np.argsort(unblocked, axis=1, kind="stable")[:, :3]).all()
        assert similarity._pq_codebooks_np(X, m=2, k=5) == books
