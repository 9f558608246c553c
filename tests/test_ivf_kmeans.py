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
    from lakehouse_spark_spark.operators.similarity import semantic_dedup, train_ivf_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="null vector in 'embedding'"):
        train_ivf_centroids(df, "embedding", n_cells=2)
    with pytest.raises(ValueError, match="null vector in 'embedding'"):
        semantic_dedup(df, "vec_id", "embedding", n_cells=2).collect()


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


def test_blocked_distances_match_the_unblocked_form(monkeypatch):
    from lakehouse_spark_spark.operators import similarity

    rng = np.random.default_rng(5)
    X, C = rng.normal(size=(200, 8)), rng.normal(size=(5, 8))
    unblocked = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    books = similarity._pq_codebooks_np(X, m=2, k=5)
    monkeypatch.setattr(similarity, "_DIST_BLOCK_ELEMS", 7)  # one row per block
    assert (similarity._nearest_rows(X, C) == unblocked).all()
    assert similarity._pq_codebooks_np(X, m=2, k=5) == books
