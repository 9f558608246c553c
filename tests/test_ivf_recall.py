"""IVF recall on a CLUSTERED fixture: the workload IVF is built for.

Uniform-random vectors are IVF's worst case (cells carve a structureless
sphere, so true neighbors straddle cell borders). Real embedding spaces
are clustered; on Gaussian blobs the coarse quantizer recovers the blob
structure and multi-probe covers border queries — recall@5 must clear
0.9 and rise with n_probe.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, IntegerType, StructField, StructType

from tests.conftest import SF_SMALL

DIM = 32
N_BLOBS = 10
N_CORPUS = 1000
N_QUERIES = 25


def _blob_frame(spark):
    rng = np.random.default_rng(1234)
    centers = rng.normal(size=(N_BLOBS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(N_CORPUS + N_QUERIES):
        c = centers[i % N_BLOBS]
        v = c + 0.15 * rng.normal(size=DIM)
        rows.append((i, [float(x) for x in v.astype(np.float32)]))
    schema = StructType(
        [StructField("vec_id", IntegerType()), StructField("embedding", ArrayType(FloatType()))]
    )
    return spark.createDataFrame(rows, schema)


def test_ivf_recall_on_clustered_vectors(spark):
    from lakehouse_spark_spark.operators.similarity import cosine_topk, ivf_topk, train_ivf_centroids

    df = _blob_frame(spark)
    corpus = df.filter(F.col("vec_id") < N_CORPUS)
    queries = df.filter(F.col("vec_id") >= N_CORPUS)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, queries, "vec_id", "embedding", k=5, exclude_self=False).collect()
    }
    cents = train_ivf_centroids(corpus, "embedding", n_cells=N_BLOBS)

    def recall(n_probe: int) -> float:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                corpus, queries, "vec_id", "embedding", k=5, n_probe=n_probe, centroids=cents
            ).collect()
        }
        return len(exact & got) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    # multi-probe monotonicity: probing more cells can only add candidates
    assert r1 <= r2 <= r4, (r1, r2, r4)
    # the COVERAGE.md claim: clustered-fixture recall@5 with multi-probe
    assert r2 >= 0.9, (r1, r2, r4)


class TestProductQuantization:
    def test_adc_exact_on_reconstructible_vectors(self, spark):
        """When every subvector IS a centroid (≤k distinct subvectors),
        PQ loses nothing: ADC distance == exact squared L2."""
        import numpy as np

        from lakehouse_spark_spark.operators.similarity import (
            pq_adc_topk,
            pq_encode,
            train_pq_codebooks,
        )

        base = [
            [float((i * 3 + j) % 4) for j in range(8)] for i in range(12)
        ]  # 12 vectors, dim 8; few distinct subvectors
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(base)], "vec_id long, embedding array<float>"
        )
        books = train_pq_codebooks(df, "embedding", m=4, k=16)
        codes = pq_encode(df, "vec_id", "embedding", books)
        probes = df.filter("vec_id < 3")
        got = pq_adc_topk(codes, probes, "vec_id", "embedding", books, k=11).collect()
        X = np.asarray(base)
        for r in got:
            want = float(((X[r["query_id"]] - X[r["neighbor_id"]]) ** 2).sum())
            assert abs(r["adc_dist"] - want) < 1e-6, r

    def test_codes_shape_and_range(self, spark):
        from lakehouse_spark_spark.operators.similarity import pq_encode, train_pq_codebooks
        from lakehouse_spark_spark.sources.loaders import load_table

        emb = load_table(spark, SF_SMALL, "embeddings")
        books = train_pq_codebooks(emb, "embedding", m=8, k=16)
        assert len(books) == 8 and all(len(b) == 16 for b in books)
        rows = pq_encode(emb, "vec_id", "embedding", books).collect()
        assert all(len(r["codes"]) == 8 for r in rows)
        assert all(0 <= c < 16 for r in rows for c in r["codes"])

    def test_pq_rerank_recall_vs_exact_l2(self, spark):
        """The production shape (ADC shortlist-50 + exact re-rank)
        recovers most of the exact-L2 top-5 on the clustered fixture;
        raw ADC order alone is far above chance but much weaker —
        measured ~0.2 at these code sizes, which is WHY the re-rank
        stage exists."""
        import numpy as np

        from lakehouse_spark_spark.operators.similarity import (
            pq_adc_topk_reranked,
            pq_encode,
            train_pq_codebooks,
        )
        from lakehouse_spark_spark.sources.loaders import load_table

        emb = load_table(spark, SF_SMALL, "embeddings")
        books = train_pq_codebooks(emb, "embedding", m=8, k=16)
        codes = pq_encode(emb, "vec_id", "embedding", books)
        probes = emb.filter("vec_id < 10")
        got = pq_adc_topk_reranked(
            emb, codes, probes, "vec_id", "embedding", books, k=5, shortlist=50
        ).collect()
        by_q: dict[int, dict[int, float]] = {}
        for r in got:
            by_q.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["sq_dist"]

        rows = emb.select("vec_id", "embedding").collect()
        ids = np.asarray([r["vec_id"] for r in rows])
        X = np.asarray([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        recalls = []
        for q in sorted(by_q):
            qi = int(np.where(ids == q)[0][0])
            d2 = ((X - X[qi]) ** 2).sum(axis=1)
            d2[qi] = np.inf
            order = np.lexsort((ids, d2))
            want = set(ids[order[:5]].tolist())
            recalls.append(len(set(by_q[q]) & want) / 5)
            # re-ranked distances are EXACT (not ADC approximations)
            for nid, sd in by_q[q].items():
                ni = int(np.where(ids == nid)[0][0])
                assert abs(sd - float(((X[qi] - X[ni]) ** 2).sum())) < 1e-4
        assert sum(recalls) / len(recalls) >= 0.7, recalls


class TestIvfPq:
    def test_ivfpq_recall_and_exact_rerank(self, spark):
        """The composed IVF-PQ index (cell pruning + residual codes +
        exact re-rank) recovers most of the exact top-5 while reading
        only n_probe cells; re-ranked distances are exact."""
        import numpy as np

        from lakehouse_spark_spark.operators.similarity import (
            ivfpq_encode,
            ivfpq_topk,
            train_ivfpq,
        )
        from lakehouse_spark_spark.sources.loaders import load_table

        emb = load_table(spark, SF_SMALL, "embeddings")
        cents, books = train_ivfpq(emb, "embedding", n_cells=16, m=8, k=16)
        index = ivfpq_encode(emb, "vec_id", "embedding", cents, books)
        assert index.filter("cell < 0 OR cell >= 16").count() == 0
        probes = emb.filter("vec_id < 10")
        got = ivfpq_topk(
            emb, index, probes, "vec_id", "embedding", cents, books,
            k=5, n_probe=6, shortlist=64,
        ).collect()
        by_q: dict[int, dict[int, float]] = {}
        for r in got:
            by_q.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["sq_dist"]

        rows = emb.select("vec_id", "embedding").collect()
        ids = np.asarray([r["vec_id"] for r in rows])
        X = np.asarray([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        recalls = []
        for q in sorted(by_q):
            qi = int(np.where(ids == q)[0][0])
            d2 = ((X - X[qi]) ** 2).sum(axis=1)
            d2[qi] = np.inf
            order = np.lexsort((ids, d2))
            want = set(ids[order[:5]].tolist())
            recalls.append(len(set(by_q[q]) & want) / 5)
            for nid, sd in by_q[q].items():
                ni = int(np.where(ids == nid)[0][0])
                assert abs(sd - float(((X[qi] - X[ni]) ** 2).sum())) < 1e-4
        # clustered fixture: true neighbors share the query's label
        # cluster, which the coarse quantizer tracks — recall holds even
        # though only 6 of 16 cells are read
        assert sum(recalls) / len(recalls) >= 0.6, recalls
