"""IDF-weighted Jaccard (operators/term_vectors).

Naive-recompute parity on randomized corpora (weights replicated with
math.log in Python), the rare-token-dominance property that motivates
the weighting, set (not multiset) semantics, empty/NULL/zero-weight
conventions, pair preservation under the left joins, and a
fully-native plan assert.
"""

import math
import random

from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators.term_vectors import (
    weighted_jaccard_for_pairs,
)

SCALE = 1_000_000


def _naive(docs: dict[int, str], id_l: int, id_r: int) -> float:
    toksets = {i: set(s.split()) - {""} for i, s in docs.items()}
    n = len(docs)
    df: dict[str, int] = {}
    for ts in toksets.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1
    w = {
        t: int(
            # Python round() is banker's; replicate Spark/DuckDB
            # round-half-away-from-zero explicitly (values >= 0 here)
            math.floor(math.log(n / c) * SCALE + 0.5)
        )
        for t, c in df.items()
    }
    a, b = toksets[id_l], toksets[id_r]
    inter = sum(w[t] for t in a & b)
    union = sum(w[t] for t in a | b)
    if inter == 0 or union <= 0:
        return 0.0
    return round(inter / union, 6)


def _run(spark, docs: dict[int, str | None], pairs: list[tuple[int, int]]):
    rec = spark.createDataFrame(list(docs.items()), ["id", "s"])
    pdf = spark.createDataFrame(pairs, ["id_l", "id_r"])
    out = weighted_jaccard_for_pairs(rec, pdf, "id", "s", n_docs=len(docs))
    return {(r["id_l"], r["id_r"]): r["w_jaccard"] for r in out.collect()}


class TestParity:
    def test_randomized(self, spark):
        rng = random.Random(17)
        vocab = [f"t{i}" for i in range(30)]
        docs = {
            i: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 12))
            )
            for i in range(40)
        }
        pairs = [(a, b) for a in range(40) for b in range(a + 1, 40)][::7]
        got = _run(spark, docs, pairs)
        assert len(got) == len(pairs)
        for a, b in pairs:
            assert got[(a, b)] == _naive(docs, a, b), (a, b, docs[a], docs[b])

    def test_rare_token_dominates(self, spark):
        # x/y are corpus-common, 'rare' appears twice: the rare-token
        # pair must outscore the common-token pair despite equal
        # unweighted jaccard (1 shared of 3 union)
        docs = {
            0: "x y rare",
            1: "rare p q",
            2: "x y r",
            3: "x y s",
            4: "x t u",
            5: "y v w",
        }
        got = _run(spark, docs, [(0, 1), (2, 3)])
        assert got[(0, 1)] > got[(2, 3)] > 0.0

    def test_set_not_multiset(self, spark):
        docs = {0: "a a a b", 1: "a b", 2: "c d"}
        got = _run(spark, docs, [(0, 1)])
        # identical token SETS -> 1.0 regardless of repetition
        assert got[(0, 1)] == 1.0


class TestConventions:
    def test_empty_null_and_disjoint(self, spark):
        docs = {0: "a b", 1: "", 2: None, 3: "c d", 4: "a b"}
        got = _run(spark, docs, [(0, 1), (0, 2), (0, 3), (1, 2), (0, 4)])
        assert got[(0, 1)] == 0.0
        assert got[(0, 2)] == 0.0
        assert got[(0, 3)] == 0.0  # disjoint
        assert got[(1, 2)] == 0.0  # both empty: union weight 0
        assert got[(0, 4)] == 1.0

    def test_all_docs_share_token(self, spark):
        # a token in every doc has idf 0 -> contributes nothing to
        # numerator or denominator
        docs = {0: "common a", 1: "common b", 2: "common c"}
        got = _run(spark, docs, [(0, 1)])
        assert got[(0, 1)] == 0.0

    def test_pairs_preserved(self, spark):
        docs = {0: "a", 1: "b"}
        got = _run(spark, docs, [(0, 1), (1, 0)])
        assert set(got) == {(0, 1), (1, 0)}


class TestPlan:
    def test_fully_native(self, spark):
        rec = spark.createDataFrame([(0, "a b")], ["id", "s"])
        pdf = spark.createDataFrame([(0, 0)], ["id_l", "id_r"])
        plan = (
            weighted_jaccard_for_pairs(rec, pdf, "id", "s", n_docs=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
