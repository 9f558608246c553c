"""Round-7: entity-resolution canopy blocking (the r5/r6 carried
`weak`). The match stage must be SUB-QUADRATIC under a one-dominant-
block corpus — the old (lang, source)-only blocking degraded to
O(n²) when one block dominates — while still finding every planted
near-dup pair (they share rare prefix 4-grams)."""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")

from tools.er_stress import make_docs  # noqa: E402


def _measure(spark, n: int) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from lakehouse_spark_spark.operators.text import norm_text
    from lakehouse_spark_spark.plans.queries import _er_candidate_pairs

    d = make_docs(spark, n).select(
        "doc_id", "lang", "source", F.substring(norm_text("text"), 1, 40).alias("pfx")
    )
    cand = _er_candidate_pairs(d)
    return cand.count(), cand.filter(F.levenshtein("__pa", "__pb") <= 10).count()


def test_dominant_block_candidates_sub_quadratic(spark):
    n_lo, n_hi = 500, 2000
    c_lo, m_lo = _measure(spark, n_lo)
    c_hi, m_hi = _measure(spark, n_hi)
    # quadratic would grow 16x for 4x docs; require well under that
    growth = c_hi / max(c_lo, 1)
    exponent = math.log(growth) / math.log(n_hi / n_lo)
    assert exponent < 1.5, f"candidate growth exponent {exponent:.2f} (quadratic = 2.0)"
    # absolute bound: candidates a small fraction of all-pairs at n_hi
    assert c_hi < 0.25 * n_hi * (n_hi - 1) / 2
    # recall: the planted one-word-typo near-dups (every 50th doc) are
    # all found — the canopy does not lose true matches here
    assert m_lo >= n_lo // 50 - 1
    assert m_hi >= n_hi // 50 - 1


def test_block_cap_drops_hot_grams(spark):
    """A gram whose posting list exceeds the cap contributes NO
    candidates: 120 docs sharing one hot prefix produce zero pairs
    through that gram (120 > cap=50), while two docs sharing a rare
    prefix still pair. ``xxhash64`` skips nulls, so (NULL, 'x', g) and
    ('x', NULL, g) hash alike; like the oracle's equi-join, they must
    not pair."""
    from pyspark.sql import functions as F

    from lakehouse_spark_spark.plans.queries import _er_candidate_pairs

    rows = [(i, "en", "cc", "hotprefixhotprefix") for i in range(120)]
    rows += [(200, "en", "cc", "rareuniqueprefix"), (201, "en", "cc", "rareuniqueprefix")]
    rows += [(300, None, "x", "abcd"), (301, "x", None, "abcd")]
    d = spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, source STRING, pfx STRING"
    ).select("doc_id", "lang", "source", F.col("pfx"))
    got = {(r.id_a, r.id_b) for r in _er_candidate_pairs(d).collect()}
    assert got == {(200, 201)}
