"""Hypothesis property tests for the signature operators (SURVEY.md §5:
'any duplicate multiset → exactly one row per key, the max-timestamp
one'), checked against independent pandas implementations."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 50), st.integers(0, 1000)),  # (key, ts, id)
        min_size=1,
        max_size=40,
    )
)
def test_dedup_latest_property(spark, rows):
    """For ANY multiset: one survivor per key = the (max ts, then max id)
    row — matches a pandas sort+drop_duplicates reference."""
    from lakehouse_spark_spark.operators.dedup import dedup_latest

    pdf = pd.DataFrame(rows, columns=["k", "ts", "id"]).drop_duplicates()
    expected = (
        pdf.sort_values(["ts", "id"], ascending=False, kind="mergesort")
        .drop_duplicates(subset=["k"], keep="first")
        .set_index("k")["id"]
        .to_dict()
    )
    df = spark.createDataFrame(pdf)
    got = {r["k"]: r["id"] for r in dedup_latest(df, "k", "ts", tiebreak="id").collect()}
    assert got == expected


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10_000)),  # (user, ts seconds)
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_sessionize_property(spark, rows):
    """Session numbering == a sequential pandas pass with the same gap."""
    from pyspark.sql import functions as F

    from lakehouse_spark_spark.operators.windows import sessionize

    gap_s = 600
    pdf = pd.DataFrame(rows, columns=["user_id", "t"])
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = pd.to_datetime(pdf["t"], unit="s")
    expected = {}
    for uid, grp in pdf.sort_values(["t", "event_id"]).groupby("user_id"):
        seq, prev = 0, None
        for r in grp.itertuples():
            if prev is None or r.t - prev > gap_s:
                seq += 1
            prev = r.t
            expected[r.event_id] = seq
    df = spark.createDataFrame(pdf[["user_id", "event_id", "ts"]])
    out = sessionize(df, "user_id", "ts", gap_minutes=gap_s // 60)
    got = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert got == expected


def test_neardup_pipeline_candidates_subset_of_exact(spark):
    """Production dedup flow: LSH candidates + exact verification must
    find a SUBSET of the brute-force exact pairs (no false positives
    after verification), and every high-similarity pair the corpus has
    must surface as a candidate (LSH recall at est>=threshold)."""
    from pyspark.sql import functions as F

    from lakehouse_spark_spark.operators.neardup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from lakehouse_spark_spark.sources.loaders import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=64)
    cands = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(sigs, "doc_id", bands=16, num_hashes=64).collect()
    }
    # recall: every exact pair at j>=0.5 must be an LSH candidate
    # (16 bands x 4 rows: P(candidate | j=0.5) = 1-(1-0.5^4)^16 ~ 0.64;
    # at j>=0.8: ~0.9997 — assert the strong end only)
    strong = {p for p, j in exact.items() if j >= 0.8}
    assert strong <= set(cands)
    # precision after exact verification: candidates verified at >=0.5
    # must be exactly the exact pairs at >=0.5 restricted to candidates
    verified = {p for p in cands if p in exact}
    assert all(exact[p] >= 0.5 for p in verified)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]), min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_matches_python_reference(spark, texts):
    """Exact Jaccard pairs == a brute-force pure-Python shingle-set
    computation on ANY random word sequences."""
    from lakehouse_spark_spark.operators.neardup import ngram_jaccard_pairs

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)} if len(toks) >= 3 else set()

    docs = list(enumerate(texts))
    expected = {}
    for i, a in docs:
        for j, b in docs:
            if i < j:
                sa, sb = shingles(a), shingles(b)
                if sa and sb and sa & sb:
                    jac = round(len(sa & sb) / len(sa | sb), 6)
                    if jac >= 0.3:
                        expected[(i, j)] = jac
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3).collect()
    }
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(st.sampled_from([f"w{i}" for i in range(20)]), min_size=5, max_size=30).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_simhash_is_deterministic_and_valid(spark, texts):
    """SimHash fingerprints: stable across runs, 63-bit non-negative."""
    from lakehouse_spark_spark.operators.neardup import simhash

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    a = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    assert a == b
    assert all(0 <= v < (1 << 63) for v in a.values())


_MASK64 = (1 << 64) - 1
_FP64 = st.integers(-(2**63), 2**63 - 1)
_EDGE_FP = st.sampled_from([0, 2**63 - 1, -1, -(2**63)])


def _signed64(v: int) -> int:
    v &= _MASK64
    return v - (1 << 64) if v >= 1 << 63 else v


@st.composite
def _hamming_cases(draw):
    """(blocks, max_hamming, max_bucket, [(id, fp | None)]): random
    fingerprints with planted edge values (nulls, 0, 2**63-1, negative
    longs), near twins a few bit flips from a base fingerprint (some at,
    some just past the radius), and one identical-fingerprint cluster
    larger than ``max_bucket``. Ids are a random permutation so the
    cluster minimum is not the first row."""
    blocks = draw(st.integers(2, 16))  # at 1 the 64-bit block mask overflows a long
    max_hamming = draw(st.integers(0, blocks - 1))
    max_bucket = draw(st.integers(1, 3))
    fps = draw(st.lists(st.one_of(st.none(), _EDGE_FP, _FP64), min_size=1, max_size=20))
    for i, flips in draw(
        st.lists(
            st.tuples(
                st.integers(0, len(fps) - 1),
                st.lists(st.integers(0, 63), max_size=blocks + 1, unique=True),
            ),
            max_size=10,
        )
    ):
        if fps[i] is not None:
            v = fps[i]
            for b in flips:
                v ^= 1 << b
            fps.append(_signed64(v))
    hot = draw(st.one_of(_EDGE_FP, _FP64))
    fps += [hot] * (max_bucket + draw(st.integers(1, 3)))
    ids = draw(st.permutations(range(len(fps))))
    return blocks, max_hamming, max_bucket, list(zip(ids, fps))


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(case=_hamming_cases())
def test_simhash_candidates_matches_bruteforce(spark, case):
    """The Hamming candidate join == a brute-force popcount(a ^ b) <= r
    scan over a < b for ANY fingerprint set at a radius inside the
    pigeonhole guarantee (null fingerprints never pair). With the
    hot-bucket cap the output is a subset of that scan, and every member
    of an equal-fingerprint cluster is still paired with the cluster
    minimum at distance 0."""
    import itertools

    from lakehouse_spark_spark.operators.neardup import simhash_candidates

    blocks, max_hamming, max_bucket, rows = case
    sim = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")
    known = sorted((i, v) for i, v in rows if v is not None)
    brute = set()
    for (a, va), (b, vb) in itertools.combinations(known, 2):
        d = bin((va ^ vb) & _MASK64).count("1")
        if d <= max_hamming:
            brute.add((a, b, d))

    def run(**kw):
        out = simhash_candidates(sim, "doc_id", max_hamming=max_hamming, blocks=blocks, **kw)
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len(set(got))  # no duplicate pairs
        return set(got)

    assert run() == brute
    capped = run(max_bucket=max_bucket)
    assert capped <= brute
    clusters: dict[int, list[int]] = {}
    for i, v in known:
        clusters.setdefault(v, []).append(i)
    for ids in clusters.values():
        lo = min(ids)
        assert {(lo, i, 0) for i in ids if i != lo} <= capped


class TestDecimalAvg6Formula:
    """The integer micro-unit half-away-from-zero average must equal
    exact decimal arithmetic for ANY 6-decimal sum and positive count —
    property-checked in pure Python (the Spark/DuckDB expressions are
    this same formula; tests/test_retrieval_spandedup.py pins the
    column version on the observed sf0.1 tie cases)."""

    @given(
        micro=st.integers(min_value=-10**15, max_value=10**15),
        n=st.integers(min_value=1, max_value=10**6),
    )
    @settings(max_examples=500, deadline=None)
    def test_matches_exact_decimal_half_away(self, micro, n):
        import decimal

        # formula under test (FLOOR of exact-enough double division)
        pos = abs(micro)
        q = math.floor((2 * pos + n) / (2 * n))
        got = (q if micro >= 0 else -q) / 1_000_000.0
        # ground truth: exact decimal division, ROUND_HALF_UP on |value|
        ctx = decimal.Context(prec=50)
        exact = ctx.divide(decimal.Decimal(pos), decimal.Decimal(n))
        want_abs = exact.quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
        want = float(want_abs if micro >= 0 else -want_abs) / 1_000_000.0
        assert got == want
