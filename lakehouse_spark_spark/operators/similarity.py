"""Embedding similarity search: brute-force cosine top-k (the exact
baseline), random-hyperplane LSH, IVF, PQ and IVF-PQ (the scale paths).

Exact scores (cosine, squared L2, ADC table sums) are Column arithmetic
over array columns (``zip_with``/``aggregate``): element-wise casts to
double, summed in array order, so they are IEEE-deterministic and
comparable with the DuckDB oracles. Model-driven steps run in Arrow
UDFs that carry the model in their closure, so a model's size never
enters the plan: IVF cell assignment (:func:`nearest_cells`), PQ codes
(:func:`_pq_codes`) and LSH sign buckets (:func:`band_signatures`). One
numpy kernel, :func:`_nearest_rows`, ranks centroids for every model,
on the driver (k-means fits, probe tables) and on the executors alike.
These model-side choices only gate candidates; a near-tie between two
centroids or a dot product next to zero may fall either way.

Scale notes: brute force is O(|Q|·|C|) — correct shape only when the
query set is small enough to broadcast (it is here: broadcast join, no
shuffle of the corpus). For corpus×corpus near-dup at 100 TB use the
LSH variant: signatures are a narrow map, candidate generation is an
equi-join on (plane-sign bucket), and only in-bucket pairs pay the
exact-cosine cost. The IVF layouts (``ivf_topk``, ``semantic_dedup``,
IVF-PQ) slot in the same way with the cell id as the join key; their
k-means models are fit on the driver over one bounded sample by one
numpy kernel (``_pq_codebooks_np``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves stringified type hints here

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in doubles, summed in array order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(F.col(a) if isinstance(a, str) else a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = 5, exclude_self: bool = True
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector over the corpus.
    Queries are broadcast; the corpus is scanned once, never shuffled
    until the per-query top-k window (keyed by query_id — bounded
    cardinality)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine("__qv", "__cv"), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_lsh_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, planes: list[list[float]], k: int = 5
) -> DataFrame:
    """Approximate top-k: only candidates in the query's hyperplane
    bucket are scored. Recall improves with fewer planes / multi-probe;
    the join is an equi-join on the bucket id — the 100 TB shape. The
    bucket is the sign signature of one band holding every plane
    (:func:`band_signatures`). A NULL vector in ``corpus`` or
    ``queries`` has no bucket: the query fails with a
    ``PythonException`` carrying the worker's ``ValueError``."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")).withColumn(
        "bucket", band_signatures(F.col("__cv"), [planes])[0]
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).withColumn(
        "bucket", band_signatures(F.col("__qv"), [planes])[0]
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select("query_id", "neighbor_id", F.round(cosine("__qv", "__cv"), 6).alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    allow_bruteforce: bool = False,
    max_rows: int = 100_000,
) -> DataFrame:
    """Corpus-wide near-duplicate pairs by cosine ≥ threshold.

    VERIFICATION-ONLY brute-force O(n²/2) theta-join: its sole purpose
    is proving the scale path (``embedding_neardup_lsh_verified``)
    exact at oracle scale. It fails fast above ``max_rows`` input rows
    unless ``allow_bruteforce=True`` — a 100 TB corpus pointed here by
    accident would otherwise plan a quadratic broadcast nested loop."""
    from lakehouse_spark_spark.operators.guards import guard_bruteforce

    guard_bruteforce(df, max_rows, "embedding_neardup_pairs", allow_bruteforce)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", F.round(cosine("__va", "__vb"), 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def band_signatures(vec: Column, band_planes: list[list[list[float]]]) -> Column:
    """array<long>: the random-hyperplane sign bucket of ``vec`` in each
    band, bit i set when the vector's dot with the band's plane i is
    non-negative.

    Computed by a VECTORIZED pandas_udf (one numpy matmul per Arrow
    batch against the (b·r × dim) plane matrix, carried in the closure)
    rather than an expression tree — b·r·dim literal nodes would dwarf
    codegen limits at production band counts (64 bands × 12 planes × 64
    dims ≈ 49k literals). Signatures never need cross-engine agreement:
    they only GATE candidate generation; the verify stage recomputes
    exact cosine with the engine-deterministic sequential-sum expression.
    A NULL vector fails the query (a ``PythonException`` carrying the
    worker's ``ValueError``).
    """
    P = np.array([p for band in band_planes for p in band], dtype=np.float64)
    b, r = len(band_planes), len(band_planes[0])
    weights = 1 << np.arange(r, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sig(vs: pd.Series) -> pd.Series:
        X = _vector_matrix(vs, "an LSH band signature", P.shape[1])
        bits = (X @ P.T >= 0).astype(np.int64).reshape(len(vs), b, r)
        return pd.Series(list(bits @ weights))

    return sig(vec)


def embedding_neardup_lsh_verified(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    band_planes: list[list[list[float]]],
    threshold: float = 0.95,
) -> DataFrame:
    """Corpus-wide near-duplicate pairs at scale: banded random-
    hyperplane LSH candidate generation + EXACT cosine verification.

    The production twin of ``embedding_neardup_pairs`` — same output
    contract (id_a, id_b, cosine_sim), linear-shaped plan:

    1. each vector gets one sign-bucket per band (``band_planes`` is a
       list of bands, each a list of hyperplanes — an OR-of-ANDs
       construction: a pair is a candidate if ALL plane signs agree in
       ANY band, P[candidate] = 1-(1-(1-θ/π)^r)^b, so r planes/band
       sets precision and b bands sets recall — r must be LARGE enough
       that unrelated pairs rarely collide: at r=12, a random
       orthogonal-ish pair shares a band w.p. 2^-12, so even 64 bands
       admit only ~1.6% of all pairs as candidates);
    2. candidates come from a self-equi-join on (band, bucket) —
       controlled-cardinality key, never a cross join — deduped on
       (id_a, id_b);
    3. only candidates pay the exact-cosine cost — per-vector norms are
       precomputed ONCE and carried as scalars, so each candidate pair
       costs a single dot product — and the emitted similarity is EXACT
       (LSH only gates candidate generation), so output equality with
       the brute-force baseline is provable at oracle scale
       (driver-gated) up to the documented band-miss probability.

    The per-band explode multiplies the shuffled signature table by b
    (rows are (band, bucket, id) — 24 bytes), not the vectors: vectors
    are re-attached to the surviving candidate pairs only.
    """
    v = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")).withColumn(
        "__n", l2_norm("__v")
    )
    sig_rows = (
        df.select(F.col(id_col).alias("__id"), band_signatures(F.col(vec_col), band_planes).alias("__bk"))
        .select("__id", F.posexplode("__bk").alias("band", "bucket"))
        .localCheckpoint(eager=False)
    )
    a = sig_rows.select(F.col("__id").alias("id_a"), "band", "bucket")
    b = sig_rows.select(F.col("__id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = v.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    vb = v.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot("__va", "__vb") / (F.col("__na") * F.col("__nb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# fixed, so a k-means fit is a function of the corpus alone
_TRAIN_SAMPLE_SEED = 42


def _vector_matrix(vs: pd.Series, what: str, dim: int = -1):
    """Vectors as a len × ``dim`` float64 matrix. A null vector fails,
    naming ``what`` (the column, or the step that needed the vector): a
    fit, a cell, a code and a bucket need every vector. A training
    sample leaves ``dim`` to the rows and fails when empty; an Arrow
    batch passes its ``dim``, so an empty batch is fine."""
    if vs.isna().any():
        raise ValueError(f"null vector in {what}")
    if vs.empty and dim < 0:
        raise ValueError(f"no {what} vectors to train on")
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vs]).reshape(len(vs), dim)


def _train_sample(corpus: DataFrame, vec_col: str, max_train_rows: int):
    """The bounded driver sample every IVF fit trains on: the whole
    corpus when it has at most ``max_train_rows`` rows (one ``limit``
    read, which also answers the size question without a count job),
    otherwise a seeded Bernoulli sample (20% headroom over the counted
    fraction) cut to ``max_train_rows``. Rows come back sorted, because
    Lloyd sums each mean in row order and the collected order follows
    the partitioning."""
    vecs = corpus.select(vec_col)
    sample = vecs.limit(max_train_rows + 1).toPandas()[vec_col]
    if len(sample) > max_train_rows:
        fraction = min(1.0, 1.2 * max_train_rows / corpus.count())
        sample = vecs.sample(fraction=fraction, seed=_TRAIN_SAMPLE_SEED).limit(max_train_rows).toPandas()[vec_col]
    X = _vector_matrix(sample, repr(vec_col))
    return X[np.lexsort(X.T[::-1])]


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    max_train_rows: int = 100_000,
) -> list[list[float]]:
    """Fit the IVF coarse quantizer and return the centroid table
    (n_cells × dim plain floats): the library's one k-means kernel
    (:func:`_pq_codebooks_np` at ``m=1``) over at most
    ``max_train_rows`` vectors on the driver (:func:`_train_sample`).
    Deterministic across hosts and partitionings; ``n_cells`` rows even
    when the sample holds fewer distinct vectors (centroids repeat).
    Train once, reuse: pass the result to ``ivf_topk``'s ``centroids``
    argument across queries."""
    return _pq_codebooks_np(_train_sample(corpus, vec_col, max_train_rows), m=1, k=n_cells)[0]


def nearest_cells(vec: Column, centroids: list[list[float]], n: int = 1) -> Column:
    """array<int>: the ``n`` centroids nearest to ``vec``
    (:func:`_nearest_rows`), nearest first, ties to the lower index. One
    Arrow UDF pass with the centroid table in its closure, so the plan
    is the same size for any model. A NULL vector fails the query (a
    ``PythonException`` carrying the worker's ``ValueError``)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def cells(vs: pd.Series) -> pd.Series:
        X = _vector_matrix(vs, "an IVF cell assignment", C.shape[1])
        return pd.Series(list(_nearest_rows(X, C, n).astype(np.int32)))

    return cells(vec)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer assigns every
    corpus vector to a cell; each query scores only vectors in its
    ``n_probe`` nearest cells.

    The trained centroid table is tiny (n_cells × dim) and broadcasts
    with the plan; candidate generation is an equi-join on cell id —
    the same scale shape as the LSH variant, but data-adaptive.
    Pass a pre-trained ``centroids`` table to skip training entirely
    (the recommended shape for repeated queries); otherwise one bounded
    sample-fit runs via ``train_ivf_centroids`` (≤ ``max_train_rows``
    vectors regardless of corpus size).

    A NULL vector in ``corpus`` or ``queries`` has no cell: the fit
    raises ``ValueError``; with given ``centroids`` the query fails with
    a ``PythonException`` carrying the worker's ``ValueError``.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_cells=n_cells, max_train_rows=max_train_rows)

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")).withColumn(
        "cell", nearest_cells(F.col("__cv"), centroids)[0]
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).withColumn(
        "cell", F.explode(nearest_cells(F.col("__qv"), centroids, n_probe))
    )
    pairs = c.join(F.broadcast(q), "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select("query_id", "neighbor_id", F.round(cosine("__qv", "__cv"), 6).alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): embedding-space
    near-duplicate pruning via a k-means partition.

    Every vector is assigned to its nearest coarse centroid (same
    quantizer as IVF — pass pre-trained ``centroids`` to skip the
    bounded sample-fit); exact pairwise cosine runs ONLY within a cell.
    A document is dropped when some LOWER-id document in its cell has
    cosine ≥ ``threshold`` (a deterministic pairwise-witness rule — no
    iterative clustering, so the result is reproducible and testable;
    the paper's keep-one-per-group semantics differ only on chains
    a~b~c where a̸~c).

    Returns every corpus row as (id, cell, kept, dup_of): ``dup_of`` is
    the smallest qualifying witness (NULL when kept). A NULL vector has
    no cell: the fit raises ``ValueError``; with given ``centroids`` the
    query fails with a ``PythonException`` carrying the worker's
    ``ValueError``.

    Scale: the O(m²) cosine work is per-cell (m = cell size, controlled
    by n_cells — at 100 TB you size n_cells so cells fit the executor,
    exactly like IVF); the join is an equi-join on cell id, vectors
    re-attached by id, norms computed once. The quadratic term never
    sees the corpus, only a cell.

    Zero-norm vectors (INTENTIONAL divergence from the streaming form,
    annindex.semantic_dedup_against_index): here the 0/0 division
    yields NULL cosine, which never reaches ``threshold`` — zero
    vectors are always KEPT. This one-shot operator sees the whole
    corpus at once, so "keep every degenerate row and let the caller
    quarantine them" is safe and preserves the oracle-gated contract;
    the STREAMING form must instead define zero-vs-zero as cosine 1.0
    (dup) or identical zero vectors would accumulate without bound
    across batches (and zero-vs-nonzero as -1.0). Same rationale, two
    regimes — see the streaming docstring's mirror note.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_cells=n_cells, max_train_rows=max_train_rows)

    assigned = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("cell", nearest_cells(F.col("__v"), centroids)[0]).withColumn(
        "__n", l2_norm("__v")
    ).localCheckpoint(eager=False)
    a = assigned.select(F.col("__id").alias("id_a"), "cell", F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    b = assigned.select(F.col("__id").alias("id_b"), "cell", F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    witnesses = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.round(dot("__va", "__vb") / (F.col("__na") * F.col("__nb")), 6)).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        assigned.select(F.col("__id"), "cell")
        .join(witnesses.select(F.col("id_b").alias("__id"), "dup_of"), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic eval-set decontamination (the embedding-space twin of
    operators/contamination.py's n-gram form): flag corpus rows whose
    cosine to ANY eval-set vector reaches ``threshold``.

    Shape: the eval set broadcasts (benchmarks are small — thousands of
    rows); the corpus scans ONCE, never shuffles; per-corpus-row max
    and hit-count reduce by corpus id (map-side combinable). Cost is
    |corpus| × |eval| vectorized dot products — linear in the corpus.
    If the eval set outgrows a broadcast, generate candidates with the
    banded RP-LSH machinery (embedding_neardup_lsh_verified) and
    exact-verify only candidates; same output contract.

    Returns (corpus_id, max_eval_sim, n_eval_hits, contaminated).
    """
    e = eval_df.select(F.col(id_col).alias("eval_id"), F.col(vec_col).alias("__ev"))
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("__cv"))
    scored = c.join(F.broadcast(e)).select(
        "corpus_id", F.round(cosine("__cv", "__ev"), 6).alias("__sim")
    )
    return scored.groupBy("corpus_id").agg(
        F.max("__sim").alias("max_eval_sim"),
        F.sum((F.col("__sim") >= threshold).cast("long")).alias("n_eval_hits"),
        F.max((F.col("__sim") >= threshold).cast("int")).cast("boolean").alias("contaminated"),
    )


# --- Product quantization (PQ): compressed vectors + ADC search -------

def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    max_train_rows: int = 50_000,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks for product quantization (Jégou
    et al. 2011, "Product Quantization for Nearest Neighbor Search"):
    the dim-sized vector splits into ``m`` contiguous subvectors, each
    quantized against its own ``k`` centroids, so a vector stores as
    ``m`` small codes (m bytes at k≤256) instead of 4·dim float bytes —
    the RAM math that makes billion-vector ANN possible.

    Training runs the library's one k-means kernel
    (:func:`_pq_codebooks_np`) over the first ``max_train_rows``
    vectors on the driver; no RNG anywhere, so encode results are
    reproducible across runs and engines. Returns ``m × k × (dim/m)``
    plain floats (a few KB; broadcast it).
    """
    sample = corpus.select(vec_col).limit(max_train_rows).toPandas()[vec_col]
    return _pq_codebooks_np(_vector_matrix(sample, repr(vec_col)), m=m, k=k, iters=iters)


_DIST_BLOCK_ELEMS = 1 << 22  # a distance block's rows × k × d temporary: 32 MB of float64


def _nearest_rows(S, cents, n: int = 1):
    """The library's one nearest-centroid kernel: for each row of ``S``
    the indices of its ``n`` nearest rows of ``cents`` (squared L2 in
    doubles), nearest first, ties to the lower index — an N × min(n, k)
    int matrix; ``n=1`` is the plain argmin. Computed in row blocks;
    each distance sums the same elements in the same order as the
    unblocked N × k × d form."""
    rows = max(1, _DIST_BLOCK_ELEMS // (len(cents) * S.shape[1]))
    blocks = range(0, max(len(S), 1), rows)  # one empty block when N = 0

    def rank(d):
        return d.argmin(axis=1)[:, None] if n == 1 else np.argsort(d, axis=1, kind="stable")[:, :n]

    return np.concatenate([rank(((S[i : i + rows, None] - cents[None]) ** 2).sum(axis=2)) for i in blocks])


def _pq_codes(X, books):
    """N × m int32 PQ codes of the rows of ``X``: in each contiguous
    subspace j, the nearest codeword of ``books[j]``."""
    d_sub = books[0].shape[1]
    cols = [_nearest_rows(X[:, j * d_sub : (j + 1) * d_sub], b)[:, 0] for j, b in enumerate(books)]
    return np.stack(cols, axis=1).astype(np.int32)


def _pq_codebooks_np(X, m: int = 8, k: int = 16, iters: int = 10) -> list[list[list[float]]]:
    """The library's one k-means kernel: ``k`` centroids in each of
    ``m`` contiguous subspaces of the driver matrix ``X`` (N × dim).
    ``m=1`` is plain k-means (the IVF quantizer); ``m>1`` trains PQ
    codebooks. Deterministic farthest-point init, ``iters`` Lloyd
    steps; memory stays bounded at any N (:func:`_nearest_rows`)."""
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * d_sub : (j + 1) * d_sub]
        uniq = np.unique(S, axis=0)
        # deterministic farthest-point init: spreads centroids over the
        # sample's extent (first-k-rows init collapses into one region
        # and Lloyd cannot recover — measured recall@5 0.16 vs 0.5+)
        picked = [0]
        dmin = ((uniq - uniq[0]) ** 2).sum(axis=1)
        while len(picked) < min(k, len(uniq)):
            nxt = int(dmin.argmax())
            picked.append(nxt)
            dmin = np.minimum(dmin, ((uniq - uniq[nxt]) ** 2).sum(axis=1))
        cents = uniq[picked].copy()
        if len(cents) < k:  # degenerate corpora: pad by repeating
            cents = np.vstack([cents] * ((k // max(len(cents), 1)) + 1))[:k]
        for _ in range(iters):
            assign = _nearest_rows(S, cents)[:, 0]
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = S[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """(id, codes array<int> of length m): nearest-centroid code per
    subspace (:func:`_pq_codes`), computed in ONE vectorized Arrow batch
    pass (numpy over the batch — no per-row Python). This is the
    compressed corpus you persist: m ints per vector instead of the
    float array."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dim = len(books) * books[0].shape[1]

    @F.pandas_udf("array<int>")
    def codes(vs: pd.Series) -> pd.Series:
        return pd.Series(list(_pq_codes(_vector_matrix(vs, repr(vec_col), dim), books)))

    return df.select(F.col(id_col), codes(F.col(vec_col)).alias("codes"))


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: for each query a
    driver-built lookup table LUT[j][c] = ||q_j - centroid_jc||² (m·k
    doubles, a few KB), and every corpus row scores as the pure-JVM sum
    Σ_j LUT[j][codes[j]] — table lookups, no float vector in sight.

    The queries (a small probe set by contract, like
    ``cosine_topk``) are collected once; the per-query LUTs ship as ONE
    literal array exploded in a Generate projection — no join of any
    kind, the compressed corpus scans exactly once for all queries.
    Returns (query_id, neighbor_id, adc_dist, rank≤k), deterministic
    tie-break on neighbor id.
    """
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m, kk, d_sub = len(books), books[0].shape[0], books[0].shape[1]
    qrows = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).collect()
    entries = []
    for r in qrows:
        qv = np.asarray(r["__qv"], dtype=np.float64)
        lut = [
            float(((qv[j * d_sub : (j + 1) * d_sub] - books[j][c]) ** 2).sum())
            for j in range(m)
            for c in range(kk)
        ]
        entries.append(F.struct(F.lit(int(r["query_id"])).alias("query_id"), F.array(*[F.lit(x) for x in lut]).alias("lut")))

    q = F.explode(F.array(*entries)).alias("q")
    scored = corpus_codes.select(F.col(id_col).alias("neighbor_id"), "codes").select(
        "neighbor_id",
        "codes",
        q,
    ).select(
        F.col("q.query_id").alias("query_id"),
        "neighbor_id",
        F.round(adc_dist(m, kk, lut_col="q.lut"), 6).alias("adc_dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_adc_topk_reranked(
    corpus: DataFrame,
    corpus_codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """The production PQ search shape: ADC over the COMPRESSED corpus
    produces a per-query ``shortlist`` (cheap table-lookup scan), then
    ONLY the shortlist rows re-attach their float vectors for an exact
    re-rank — the same candidates-then-verify discipline as
    ``embedding_neardup_lsh_verified``. Exact distances touch
    |queries|·shortlist vectors regardless of corpus size; measured
    recall@5 ≈0.8-0.9 on the clustered fixture vs ≈0.2 for raw ADC
    order (tests/test_ivf_recall.py).

    Returns (query_id, neighbor_id, sq_dist, rank≤k), exact distances,
    deterministic tie-break.
    """
    sl = pq_adc_topk(corpus_codes, queries, id_col, vec_col, codebooks, k=shortlist)
    return _exact_rerank(sl, corpus, queries, id_col, vec_col, k)


def _exact_rerank(
    shortlist: DataFrame, corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Top ``k`` of a (query_id, neighbor_id) shortlist by exact
    :func:`sq_dist`, vectors re-attached by id, tie-break on neighbor
    id. Returns (query_id, neighbor_id, sq_dist, rank)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    exact = (
        shortlist.select("query_id", "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", sq_dist().alias("sq_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sq_dist").asc(), F.col("neighbor_id"))
    return exact.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- IVF-PQ: coarse cells + residual product quantization -------------

def ivfpq_probe_luts_np(
    X,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int,
):
    """The vectorized probe kernel shared by BOTH search fronts: for a
    query matrix ``X`` (b × d float64), the ``n_probe`` nearest coarse
    cells per query and the per-(query, cell) ADC lookup table over the
    query's RESIDUAL against that cell. Returns ``(cells b×p int,
    luts b×p×(m·kk) float64)``. One numpy pass for the whole batch —
    the per-row Python loop this replaces was fine for 10 collected
    probes and 50× too slow for the 10k-probe distributed front; every
    reduction keeps the same element order as the row-at-a-time form,
    so the produced floats are bit-identical. The cells are ranked by
    the shared kernel (:func:`_nearest_rows`)."""
    C = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m, kk, d_sub = len(books), books[0].shape[0], books[0].shape[1]
    X = np.asarray(X, dtype=np.float64)
    cells = _nearest_rows(X, C, n_probe)                             # b×p
    R = X[:, None, :] - C[cells]                                     # b×p×d
    luts = np.empty((X.shape[0], cells.shape[1], m * kk), dtype=np.float64)
    for j in range(m):
        S = R[:, :, j * d_sub : (j + 1) * d_sub]
        luts[:, :, j * kk : (j + 1) * kk] = (
            (S[:, :, None, :] - books[j][None, None, :, :]) ** 2
        ).sum(axis=3)
    return cells, luts


def ivfpq_probe_lut_rows(
    qrows: list,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int,
) -> list[tuple]:
    """Probe construction shared by the in-plan search
    (:func:`ivfpq_topk`), the collected persisted-index search
    (operators/annindex.ann_index_topk — driver-side over the collected
    rows), and the distributed front (annindex.ann_index_topk_distributed
    — executor-side per Arrow batch): for each query row
    ``(query_id, __qv)``, the ``n_probe`` nearest cells and a per-cell
    ADC lookup table (:func:`ivfpq_probe_luts_np` — one shared kernel,
    so the two fronts are exactly equal by construction). Returns
    ``[(query_id, cell, lut)]`` with the query id passed through
    untouched (callers own the id dtype)."""
    if not qrows:
        return []
    qids = [r["query_id"] for r in qrows]
    X = np.asarray([np.asarray(r["__qv"], dtype=np.float64) for r in qrows])
    cells, luts = ivfpq_probe_luts_np(X, centroids, codebooks, n_probe)
    return [
        (qid, int(cells[i, p]), [float(v) for v in luts[i, p]])
        for i, qid in enumerate(qids)
        for p in range(cells.shape[1])
    ]


def adc_dist(m: int, kk: int, lut_col: str = "lut", codes_col: str = "codes") -> Column:
    """Σ_j LUT[j·kk + codes[j]] — the asymmetric-distance table-lookup
    sum, pure JVM expressions (one copy of the 1-based element_at
    indexing for every ADC consumer)."""
    return F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.col(lut_col), (j * kk + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_dist(a: Column | str = "__qv", b: Column | str = "__cv") -> Column:
    """round(Σ (aᵢ-bᵢ)², 6) in element-wise doubles — the exact re-rank
    distance shared by every shortlist verifier."""
    return F.round(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def train_ivfpq(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    max_train_rows: int = 50_000,
    iters: int = 10,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the composed IVF-PQ index (the FAISS IVFPQ layout): a
    k-means coarse quantizer assigns cells, and PQ codebooks quantize
    the RESIDUAL (vector − its cell centroid) — residuals concentrate
    near zero, so the same code budget buys far less distortion than
    quantizing raw vectors. Returns (centroids, codebooks); both are
    KB-sized driver tables that broadcast with the plan. Both train on
    ONE bounded driver sample (:func:`_train_sample`) with one kernel
    (:func:`_pq_codebooks_np`): the centroids at ``m=1``, then the books
    on that sample's residuals. Deterministic across hosts and
    partitionings; under the cap the Spark work is one collect."""
    X = _train_sample(corpus, vec_col, max_train_rows)
    cents = _pq_codebooks_np(X, m=1, k=n_cells, iters=iters)[0]
    C = np.asarray(cents)
    books = _pq_codebooks_np(X - C[_nearest_rows(X, C)[:, 0]], m=m, k=k, iters=iters)
    return cents, books


def ivfpq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, cell, codes): nearest coarse cell + PQ codes of the
    residual, one vectorized Arrow pass through the shared kernels
    (:func:`_nearest_rows`, :func:`_pq_codes`). This is the persisted
    index: 1 int + m small codes per vector."""
    C = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @F.pandas_udf("struct<cell:int, codes:array<int>>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        X = _vector_matrix(vs, repr(vec_col), C.shape[1])
        cell = _nearest_rows(X, C)[:, 0]
        return pd.DataFrame({"cell": cell.astype(np.int32), "codes": list(_pq_codes(X - C[cell], books))})

    return df.select(
        F.col(id_col), enc(F.col(vec_col)).alias("__e")
    ).select(id_col, F.col("__e.cell").alias("cell"), F.col("__e.codes").alias("codes"))


def ivfpq_topk(
    corpus: DataFrame,
    index: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """IVF-PQ search: per query, the ``n_probe`` nearest cells are
    probed with a PER-CELL ADC lookup table built from the query's
    residual against that cell (driver-side, m·k doubles each); the
    candidate scan is an EQUI-JOIN on the cell id against the broadcast
    (query, cell, LUT) rows — only probed cells' codes are read — and
    shortlist survivors re-attach float vectors for the exact re-rank.
    The full composed 100 TB ANN shape: cell pruning bounds IO, codes
    bound bandwidth, re-rank bounds accuracy loss.
    Returns (query_id, neighbor_id, sq_dist, rank≤k)."""
    from lakehouse_spark_spark.sources.loaders import arrow_rows_df

    m, kk = len(codebooks), len(codebooks[0])
    spark = corpus.sparkSession

    qrows = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")).collect()
    probe_rows = [
        (int(qid), cell, lut)
        for qid, cell, lut in ivfpq_probe_lut_rows(qrows, centroids, codebooks, n_probe)
    ]
    probes = arrow_rows_df(spark, probe_rows, "query_id BIGINT, cell INT, lut ARRAY<DOUBLE>")

    cand = index.select(F.col(id_col).alias("neighbor_id"), "cell", "codes").join(
        F.broadcast(probes), "cell"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select("query_id", "neighbor_id", adc_dist(m, kk).alias("adc_dist"))
    w_sl = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    sl = scored.withColumn("__r", F.row_number().over(w_sl)).filter(F.col("__r") <= shortlist)
    return _exact_rerank(sl, corpus, queries, id_col, vec_col, k)
