"""The shared pair-batch driver (functions/pair_batch.py) under every
kernel mode: a shuffled batch with repeated pairs, NULL and empty sides,
equal strings and strings over each kernel's length cap must score row
by row exactly like the single-pair call and the kernel's scalar
reference; an empty batch keeps the kernel's dtype."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from idd_hw6_record_linkage_spark.functions import alignment_sim as A
from idd_hw6_record_linkage_spark.functions import damerau as D
from idd_hw6_record_linkage_spark.functions import editex as E
from idd_hw6_record_linkage_spark.functions import needleman as N
from idd_hw6_record_linkage_spark.functions import similarity as S
from idd_hw6_record_linkage_spark.functions.pair_batch import _VEC_MAX_LEN


def _missing_or(fn, empty_zero=False):
    """Reference wrapper for the similarity conventions: missing → 0.0,
    equal → 1.0, one-sided (or, with ``empty_zero``, any) empty → 0.0."""

    def ref(a, b):
        if a is None or b is None:
            return 0.0
        if empty_zero and (a == "" or b == ""):
            return 0.0
        if a == b:
            return 1.0
        if a == "" or b == "":
            return 0.0
        return fn(a, b)

    return ref


def _sw_ref(match, mismatch, gap):
    return _missing_or(
        lambda a, b: A._sw_scalar(a, b, match, mismatch, gap)
        / (match * min(len(a), len(b)))
    )


def _udf(f):
    """The pandas UDF's body called directly on object Series."""
    return lambda a, b: f.func(
        pd.Series(a, dtype=object), pd.Series(b, dtype=object)
    ).to_numpy()


# name -> (batch function, scalar reference, dtype, length cap)
MODES = {
    "jaro": (
        lambda a, b: S._jaro_batch(a, b, winkler=False),
        _missing_or(S._jaro),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "jaro_winkler": (
        lambda a, b: S._jaro_batch(a, b, winkler=True),
        _missing_or(S._jaro_winkler),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "jaro_duck": (
        lambda a, b: S._jaro_batch(a, b, winkler=False, int_trans=True),
        _missing_or(lambda a, b: S._jaro(a, b, int_trans=True), empty_zero=True),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "jaro_winkler_duck": (
        lambda a, b: S._jaro_batch(a, b, winkler=True, int_trans=True),
        _missing_or(
            lambda a, b: S._jaro_winkler(a, b, int_trans=True), empty_zero=True
        ),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "nw": (
        lambda a, b: N._nw_batch(a, b),
        lambda a, b: N._nw_scalar(a or "", b or ""),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "nw_unit": (
        lambda a, b: N._nw_batch(a, b, 0.0, -1.0, 1.0),
        lambda a, b: N._nw_scalar(a or "", b or "", 0.0, -1.0, 1.0),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "nw_sim": (
        _udf(N.needleman_wunsch_udf),
        _missing_or(
            lambda a, b: max(N._nw_scalar(a, b), 0.0) / max(len(a), len(b))
        ),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "sw": (
        lambda a, b: A._sw_batch(a, b),
        _sw_ref(A._MATCH, A._MISMATCH, A._GAP),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "sw_unit": (
        lambda a, b: A._sw_batch(a, b, 1.0, -100.0, 100.0),
        _sw_ref(1.0, -100.0, 100.0),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "editex": (
        lambda a, b: E._editex_batch(a, b, unit=False),
        lambda a, b: E._editex_scalar(a or "", b or "", unit=False),
        np.int64,
        _VEC_MAX_LEN,
    ),
    "editex_unit": (
        lambda a, b: E._editex_batch(a, b, unit=True),
        lambda a, b: E._editex_scalar(a or "", b or "", unit=True),
        np.int64,
        _VEC_MAX_LEN,
    ),
    "editex_sim": (
        _udf(E.sim_editex_udf),
        _missing_or(
            lambda a, b: 1.0
            - E._editex_scalar(a, b) / (2.0 * max(len(a), len(b)))
        ),
        np.float64,
        _VEC_MAX_LEN,
    ),
    "damerau": (
        D._dl_batch,
        lambda a, b: D._dl_scalar(
            (a or "").encode("utf-8"), (b or "").encode("utf-8")
        ),
        np.int64,
        D._VEC_MAX_LEN,
    ),
}


def _batch(cap: int) -> tuple[list, list]:
    """Every distinct pair three times, shuffled so that no pair sits
    next to a copy of itself."""
    long1 = "ab" * (cap // 2 + 4)  # over the cap
    long2 = long1[:-2] + "ba"
    wide = "é" * (cap // 2 + 4)  # over a byte cap, under a char cap
    pairs = [
        (None, "abc"), ("abc", None), (None, None), (None, ""), ("", None),
        ("", "abc"), ("abc", ""), ("", ""),
        ("martha", "martha"), ("martha", "marhta"), ("dixon", "dicksonx"),
        ("the", "hte"), ("café", "cafe"), ("ca", "abc"),
        (long1, long2), (long1, "abab"), ("abab", long1), (long1, long1),
        (wide, "e" * len(wide)), (wide, wide[:-1] + "x"),
    ]
    rows = pairs * 3
    rng = random.Random(11)
    while True:
        rng.shuffle(rows)
        if all(rows[i] != rows[i + 1] for i in range(len(rows) - 1)):
            return [p[0] for p in rows], [p[1] for p in rows]


@pytest.mark.parametrize("mode", sorted(MODES))
def test_batch_equals_single_pair_and_scalar(mode):
    fn, ref, dtype, cap = MODES[mode]
    s1, s2 = _batch(cap)
    got = fn(s1, s2)
    assert got.dtype == dtype and len(got) == len(s1)
    for k, (a, b) in enumerate(zip(s1, s2)):
        single = fn([a], [b])[0]
        expect = ref(a, b)
        assert got[k] == single == expect, (mode, a, b, got[k], single, expect)


@pytest.mark.parametrize("mode", sorted(MODES))
def test_empty_batch_keeps_dtype(mode):
    fn, _, dtype, _ = MODES[mode]
    out = fn([], [])
    assert len(out) == 0 and out.dtype == dtype
