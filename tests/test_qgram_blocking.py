"""Q-gram blocking (operators/qgram_blocking.py): naive-recomputation
parity, df-cap semantics (fraction counted after the drop), typo
tolerance vs equality blocking, null/short-key conventions, native
plan (no Python eval, no cartesian)."""

from __future__ import annotations

import pytest


def _naive(rows, q, min_common, max_df):
    grams = {}
    for rid, s in rows:
        s = (s or "").strip()
        grams[rid] = {s[i : i + q] for i in range(len(s) - q + 1)}
    if max_df is not None:
        df = {}
        for g_set in grams.values():
            for g in g_set:
                df[g] = df.get(g, 0) + 1
        grams = {
            rid: {g for g in gs if df[g] <= max_df}
            for rid, gs in grams.items()
        }
    ids = sorted(grams)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = len(grams[a] & grams[b])
            if c >= min_common:
                lo = min(len(grams[a]), len(grams[b]))
                out[(a, b)] = (c, round(c / lo, 6))
    return out


class TestQgramCandidates:
    def _run(self, spark, rows, **kw):
        from idd_hw6_record_linkage_spark.operators.qgram_blocking import (
            qgram_candidates,
        )

        df = spark.createDataFrame(rows, "id string, k string")
        got = qgram_candidates(df, "id", "k", **kw).collect()
        return {
            (min(r.id_l, r.id_r), max(r.id_l, r.id_r)): (r.n_common, r.frac)
            for r in got
        }

    def test_matches_naive(self, spark):
        rows = [
            ("a", "jonathan smith"),
            ("b", "jonathon smith"),  # one typo
            ("c", "smith jonathan"),  # token swap
            ("d", "completely different"),
            ("e", None),
            ("f", "xy"),  # shorter than q
        ]
        got = self._run(spark, rows, q=3, min_common=2)
        exp = _naive(rows, 3, 2, None)
        assert got == exp
        # the typo pair and the swap pair are both recovered
        assert ("a", "b") in got and ("a", "c") in got
        # null and sub-q keys produce no grams, hence no pairs
        assert not any("e" in p or "f" in p for p in got)

    def test_typo_tolerance_vs_equality(self, spark):
        got = self._run(
            spark, [("a", "acme corp"), ("b", "acme crop")], q=3, min_common=2
        )
        assert ("a", "b") in got  # equality blocking would miss this

    def test_df_cap_drops_hot_grams(self, spark):
        # 'aaa' appears in every record (hot); the distinctive tail
        # grams only pair x and y. With max_df=2 the hot gram drops
        # and 'z' (which shares ONLY the hot gram) pairs with nobody.
        rows = [("x", "aaaatail"), ("y", "aaaatail"), ("z", "aaaaelse")]
        capped = self._run(spark, rows, q=3, min_common=2, max_df=2)
        assert set(capped) == {("x", "y")}
        exp = _naive(rows, 3, 2, 2)
        assert capped == exp
        # fraction uses post-drop gram counts: x/y share all their
        # surviving grams, so frac is exactly 1.0
        assert capped[("x", "y")][1] == 1.0

    def test_min_common_threshold(self, spark):
        rows = [("a", "abcdef"), ("b", "abcxyz")]  # share only 'abc'
        assert self._run(spark, rows, q=3, min_common=2) == {}
        one = self._run(spark, rows, q=3, min_common=1)
        assert one[("a", "b")][0] == 1

    def test_plan_native_no_cartesian(self, spark):
        from idd_hw6_record_linkage_spark.operators.qgram_blocking import (
            qgram_candidates,
        )

        df = spark.createDataFrame(
            [("a", "abcd"), ("b", "bcde")], "id string, k string"
        )
        out = qgram_candidates(df, "id", "k", q=3, min_common=1, max_df=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestQgramKeysProfile:
    def test_keys_distinct_per_record(self, spark):
        from idd_hw6_record_linkage_spark.operators.blocking import block_sizes
        from idd_hw6_record_linkage_spark.operators.qgram_blocking import qgram_keys

        df = spark.createDataFrame([("a", "aaaa")], "id string, k string")
        keys = qgram_keys(df, "id", "k", q=3).collect()
        assert [(r.id, r.gram) for r in keys] == [("a", "aaa")]
        prof = block_sizes(
            qgram_keys(
                spark.createDataFrame(
                    [("a", "abcd"), ("b", "abcd")], "id string, k string"
                ),
                "id",
                "k",
                q=3,
            ),
            "gram",
        ).collect()
        assert {(r.gram, r.n) for r in prof} == {("abc", 2), ("bcd", 2)}
