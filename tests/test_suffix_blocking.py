"""Suffix-array blocking (operators/suffix_blocking.py): naive-
recomputation parity, max_block_size cap semantics, head-error
tolerance vs equality/prefix blocking, null/short-key conventions,
native plan (no Python eval, no cartesian)."""

from __future__ import annotations


def _naive(rows, min_len, max_block_size):
    sufs = {}
    for rid, s in rows:
        s = (s or "").strip()
        sufs[rid] = (
            {s[i:] for i in range(len(s) - min_len + 1)}
            if len(s) >= min_len
            else set()
        )
    if max_block_size is not None:
        df = {}
        for s_set in sufs.values():
            for s in s_set:
                df[s] = df.get(s, 0) + 1
        sufs = {
            rid: {s for s in ss if df[s] <= max_block_size}
            for rid, ss in sufs.items()
        }
    ids = sorted(sufs)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = sufs[a] & sufs[b]
            if common:
                out[(a, b)] = (len(common), max(len(s) for s in common))
    return out


class TestSuffixCandidates:
    def _run(self, spark, rows, **kw):
        from idd_hw6_record_linkage_spark.operators.suffix_blocking import (
            suffix_candidates,
        )

        df = spark.createDataFrame(rows, "id string, k string")
        got = suffix_candidates(df, "id", "k", **kw).collect()
        return {
            (min(r.id_l, r.id_r), max(r.id_l, r.id_r)): (
                r.n_common,
                r.max_suffix_len,
            )
            for r in got
        }

    def test_matches_naive(self, spark):
        rows = [
            ("a", "the quick brown fox"),
            ("b", "quick brown fox"),  # head truncation
            ("c", "a quick brown fox"),  # different head
            ("d", "completely different"),
            ("e", None),
            ("f", "tiny"),  # shorter than min_len
        ]
        got = self._run(spark, rows, min_len=10)
        exp = _naive(rows, 10, None)
        assert got == exp
        # head-of-string corruption is exactly what suffix blocking
        # recovers — all three fox variants pair up
        assert ("a", "b") in got and ("a", "c") in got and ("b", "c") in got
        # null and sub-min_len keys produce no suffixes, hence no pairs
        assert not any("e" in p or "f" in p for p in got)

    def test_head_error_vs_equality(self, spark):
        # prefix/equality blocking misses a stripped "www." head;
        # the shared tail is one suffix block
        got = self._run(
            spark,
            [("a", "wwwexample dot com page"), ("b", "example dot com page")],
            min_len=12,
        )
        assert ("a", "b") in got
        # the longest shared suffix is b's whole key
        assert got[("a", "b")][1] == len("example dot com page")

    def test_block_size_cap_drops_hot_suffixes(self, spark):
        # every key ends in the same hot 6-char tail; only x and y
        # share a longer distinctive suffix. With max_block_size=2 the
        # hot suffixes (df=3) drop and z pairs with nobody.
        rows = [("x", "aab hot999"), ("y", "aab hot999"), ("z", "zzb hot999")]
        capped = self._run(spark, rows, min_len=6, max_block_size=2)
        assert set(capped) == {("x", "y")}
        assert capped == _naive(rows, 6, 2)
        uncapped = self._run(spark, rows, min_len=6)
        assert set(uncapped) == {("x", "y"), ("x", "z"), ("y", "z")}
        assert uncapped == _naive(rows, 6, None)

    def test_plan_native_no_cartesian(self, spark):
        from idd_hw6_record_linkage_spark.operators.suffix_blocking import (
            suffix_candidates,
        )

        df = spark.createDataFrame(
            [("a", "abcdef"), ("b", "bcdef")], "id string, k string"
        )
        out = suffix_candidates(df, "id", "k", min_len=4, max_block_size=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestSuffixKeysProfile:
    def test_keys_and_profile(self, spark):
        from idd_hw6_record_linkage_spark.operators.blocking import block_sizes
        from idd_hw6_record_linkage_spark.operators.suffix_blocking import suffix_keys

        df = spark.createDataFrame(
            [("a", "abcde"), ("b", "bcde")], "id string, k string"
        )
        keys = suffix_keys(df, "id", "k", min_len=4)
        assert {(r.id, r.suffix) for r in keys.collect()} == {
            ("a", "abcde"),
            ("a", "bcde"),
            ("b", "bcde"),
        }
        prof = block_sizes(keys, "suffix").collect()
        assert {(r.suffix, r.n) for r in prof} == {
            ("abcde", 1),
            ("bcde", 2),
        }
