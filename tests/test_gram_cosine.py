"""Q-gram count-vector cosine (operators/term_vectors.py): naive
multiset-cosine parity, zero-vector and no-shared-gram conventions,
multiset (not set) semantics, native plan."""

from __future__ import annotations

import math
from collections import Counter


def _naive_cos(a, b, q):
    ca = Counter(
        (a or "").strip()[i : i + q]
        for i in range(max(len((a or "").strip()) - q + 1, 0))
    )
    cb = Counter(
        (b or "").strip()[i : i + q]
        for i in range(max(len((b or "").strip()) - q + 1, 0))
    )
    dot = sum(ca[g] * cb[g] for g in ca.keys() & cb.keys())
    if dot == 0:
        return 0.0
    n2a = sum(v * v for v in ca.values())
    n2b = sum(v * v for v in cb.values())
    return round(dot / math.sqrt(n2a * n2b), 6)


def _run(spark, recs, pairs, q=3):
    from idd_hw6_record_linkage_spark.operators.term_vectors import (
        qgram_cosine_for_pairs,
    )

    records = spark.createDataFrame(recs, "id string, k string")
    pdf = spark.createDataFrame(pairs, "id_l string, id_r string")
    got = qgram_cosine_for_pairs(records, pdf, "id", "k", q=q).collect()
    return {(r.id_l, r.id_r): r.qgram_cosine for r in got}


class TestQgramCosine:
    def test_matches_naive(self, spark):
        recs = [
            ("a", "jonathan smith"),
            ("b", "jonathon smith"),
            ("c", "totally unrelated"),
            ("d", None),
            ("e", "xy"),  # sub-q: zero vector
            ("f", "aaaa"),  # repeated gram: multiset counts matter
            ("g", "aaaaaaa"),
        ]
        txt = dict(recs)
        pairs = [
            ("a", "b"),
            ("a", "c"),
            ("a", "d"),
            ("a", "e"),
            ("f", "g"),
        ]
        got = _run(spark, recs, pairs)
        for pl, pr in pairs:
            assert got[(pl, pr)] == _naive_cos(txt[pl], txt[pr], 3), (pl, pr)
        # identical gram DISTRIBUTIONS score 1.0 only when proportional:
        # f = {aa:2}... f="aaaa" → {aaa:2}; g="aaaaaaa" → {aaa:5};
        # vectors are parallel → cosine exactly 1.0
        assert got[("f", "g")] == 1.0
        # zero-vector sides score 0.0, not NULL
        assert got[("a", "d")] == 0.0 and got[("a", "e")] == 0.0

    def test_multiset_not_set(self, spark):
        # "ababab" vs "ab" share gram types but with different counts;
        # a set cosine would be 1.0 for ("x","y") here — multiset is not
        recs = [("x", "ababa"), ("y", "abab")]
        got = _run(spark, recs, [("x", "y")])
        assert got[("x", "y")] == _naive_cos("ababa", "abab", 3)
        assert 0.0 < got[("x", "y")] < 1.0

    def test_pairs_preserved_left_join(self, spark):
        # every input pair comes back exactly once, matched or not
        recs = [("a", "abcdef"), ("b", "zzzzzz"), ("c", "abcdxx")]
        pairs = [("a", "b"), ("a", "c"), ("b", "c")]
        got = _run(spark, recs, pairs)
        assert set(got) == set(pairs)
        assert got[("a", "b")] == 0.0

    def test_plan_native_no_cartesian(self, spark):
        from idd_hw6_record_linkage_spark.operators.term_vectors import (
            qgram_cosine_for_pairs,
        )

        records = spark.createDataFrame(
            [("a", "abcd"), ("b", "bcde")], "id string, k string"
        )
        pairs = spark.createDataFrame([("a", "b")], "id_l string, id_r string")
        out = qgram_cosine_for_pairs(records, pairs, "id", "k")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
