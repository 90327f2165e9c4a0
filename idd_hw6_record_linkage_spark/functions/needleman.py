"""Needleman-Wunsch global-alignment similarity (beyond reference —
SURVEY §2.12 comparator family).

The GLOBAL counterpart to functions/alignment_sim.py's Smith-Waterman:
where SW finds the best-scoring common region and ignores everything
around it, NW charges for every unaligned character end-to-end — the
right model when two fields are expected to be whole-value variants of
each other (names, titles, model codes) rather than one embedded in
the other. Christen's "Data Matching" ch. 5 presents the pair as the
two canonical alignment comparators; the reference's recordlinkage
stack sits in the same family (record_linkage.py:271-381 configures
jarowinkler/levenshtein).

Execution model mirrors the SW kernel: an Arrow-batched pandas UDF
running a numpy kernel vectorized across the BATCH dimension, with the
same linear-gap left-collapse (any chain of left gaps equals one left
jump, so the intra-row dependency folds into one
``np.maximum.accumulate`` over ``temp[k] + g·k``). Differences from
SW: no clamping to zero, initialized gap borders
(H[i][0] = −g·i, H[0][j] = −g·j), and the answer is the CORNER cell
H[l1][l2], captured per row as rows retire from the length-sorted
batch.

Scores: match m ≥ 0, mismatch µ ≤ 0, gap penalty g ≥ 0 (subtracted per
gap symbol). Two public forms:

- ``nw_unit_distance``: m=0, µ=−1, g=1 — the NW objective collapses to
  −(substitutions + indels), so the negated score IS the Levenshtein
  distance, every value is an integer, and the contract query is
  VALUE-EXACT against DuckDB's ``levenshtein`` (byte-based — callers
  ASCII-sanitize so char and byte bases coincide). This pins the whole
  DP kernel, not just an invariant of it.
- ``sim_needleman_wunsch``: classic m=1, µ=−0.5, g=1 (exact binary
  fractions, so kernel and scalar DP agree bit-for-bit), normalized as
  max(0, raw) / (m · max(l1, l2)) ∈ [0, 1]; equal strings → 1.0,
  missing → 0.0 (recordlinkage convention, same as the Jaro/SW UDFs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

from idd_hw6_record_linkage_spark.functions.pair_batch import (
    _VEC_MAX_LEN,
    pair_batch,
    sort_pack,
)

_MATCH = 1.0
_MISMATCH = -0.5
_GAP = 1.0


def _nw_scalar(
    a: str,
    b: str,
    match: float = _MATCH,
    mismatch: float = _MISMATCH,
    gap: float = _GAP,
) -> float:
    """Textbook O(L1·L2) global-alignment DP — the parity reference for
    the vectorized kernel and the fallback for strings beyond
    _VEC_MAX_LEN. Returns the raw corner score (not normalized)."""
    la, lb = len(a), len(b)
    prev = [-gap * j for j in range(lb + 1)]
    for i in range(1, la + 1):
        cur = [0.0] * (lb + 1)
        cur[0] = -gap * i
        ai = a[i - 1]
        for j in range(1, lb + 1):
            s = match if ai == b[j - 1] else mismatch
            v = prev[j - 1] + s
            if prev[j] - gap > v:
                v = prev[j] - gap
            if cur[j - 1] - gap > v:
                v = cur[j - 1] - gap
            cur[j] = v
        prev = cur
    return prev[lb]


def _nw_kernel(
    a_strs: list, b_strs: list, match: float, mismatch: float, gap: float
) -> "np.ndarray":
    """Vectorized NW corner scores over non-null, non-equal, non-empty
    string lists with len ≤ _VEC_MAX_LEN. Rows sorted by len(s1) desc;
    a row's corner value H[l1][l2] is captured at the iteration where
    it retires (i == l1)."""
    import numpy as np

    m = len(a_strs)
    order, a_mat, l1, b_mat, l2 = sort_pack(a_strs, b_strs)
    L1, L2 = int(l1[0]), int(l2.max())

    # h_prev holds the full row j = 0..L2 (column 0 is the gap border).
    j_idx = np.arange(L2 + 1, dtype=np.float64)
    gj = gap * j_idx[None, :]
    h_prev = np.broadcast_to(-gap * j_idx, (m, L2 + 1)).copy()
    out_sorted = np.zeros(m, dtype=np.float64)
    neg_l1 = -l1
    rows_all = np.arange(m)
    for i in range(1, L1 + 1):
        # rows still needing row i: l1 >= i
        k = int(np.searchsorted(neg_l1, -i, side="right"))
        if k == 0:
            break
        s = np.where(
            b_mat[:k] == a_mat[:k, i - 1 : i], match, mismatch
        ).astype(np.float64)
        # temp[j] = max(diag + s, up - g) for j = 1..L2; temp[0] = border.
        temp = np.empty((k, L2 + 1), dtype=np.float64)
        temp[:, 0] = -gap * i
        np.maximum(h_prev[:k, :-1] + s, h_prev[:k, 1:] - gap, out=temp[:, 1:])
        # left-gap collapse: h[j] = max_{k'<=j}(temp[k'] - g*(j-k'))
        scan = np.maximum.accumulate(temp + gj[:, : L2 + 1], axis=1)
        h = scan - gj[:, : L2 + 1]
        # rows retiring this iteration (l1 == i) read their corner cell
        lo = int(np.searchsorted(neg_l1, -i, side="left"))
        if lo < k:
            rr = rows_all[lo:k]
            out_sorted[rr] = h[lo:k][np.arange(k - lo), l2[rr]]
        h_prev[:k] = h

    out = np.empty(m, dtype=np.float64)
    out[order] = out_sorted
    return out


def _nw_shortcut(
    a: str, b: str, match: float, mismatch: float, gap: float
) -> float | None:
    """Raw NW score of a trivial or over-long pair; None → kernel."""
    if a == b:
        return match * len(a)  # includes '' == '' -> 0.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return -gap * (la + lb)
    if la > _VEC_MAX_LEN or lb > _VEC_MAX_LEN:
        return _nw_scalar(a, b, match, mismatch, gap)
    return None


def _nw_batch(
    s1_list: list,
    s2_list: list,
    match: float = _MATCH,
    mismatch: float = _MISMATCH,
    gap: float = _GAP,
) -> "np.ndarray":
    """Raw NW corner scores over parallel string lists through
    `pair_batch` (batch dedup + per-pair shortcuts). None is treated
    as '' here (the similarity UDF maps missing → 0.0 in its own
    shortcut; the unit-distance caller wants total behavior:
    NW(a, '') = −g·len(a), matching levenshtein against '')."""
    import numpy as np

    return pair_batch(
        s1_list,
        s2_list,
        lambda a, b: _nw_shortcut(a or "", b or "", match, mismatch, gap),
        lambda a, b: _nw_kernel(a, b, match, mismatch, gap),
        np.float64,
    )


@pandas_udf(LongType())
def nw_unit_distance_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Levenshtein distance computed BY the NW kernel at the unit-cost
    point (m=0, µ=−1, g=1): distance = −corner score. Integer-valued by
    construction; NULL is treated as the empty string."""
    import numpy as np

    raw = _nw_batch(s1.tolist(), s2.tolist(), 0.0, -1.0, 1.0)
    return pd.Series(np.rint(-raw).astype("int64"), dtype="int64")


def _nw_sim_shortcut(a, b) -> float | None:
    if a is None or b is None:
        return 0.0
    if a == b:
        return 1.0  # includes '' == ''
    raw = _nw_shortcut(a, b, _MATCH, _MISMATCH, _GAP)
    return None if raw is None else max(raw, 0.0) / (_MATCH * max(len(a), len(b)))


def _nw_sim_kernel(a_strs: list, b_strs: list) -> "np.ndarray":
    import numpy as np

    raw = _nw_kernel(a_strs, b_strs, _MATCH, _MISMATCH, _GAP)
    la = np.fromiter(map(len, a_strs), np.int64, len(a_strs))
    lb = np.fromiter(map(len, b_strs), np.int64, len(b_strs))
    return np.maximum(raw, 0.0) / (_MATCH * np.maximum(la, lb))


@pandas_udf(DoubleType())
def needleman_wunsch_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Normalized NW global-alignment similarity over an Arrow batch;
    missing / one-sided-empty → 0.0, equal strings → 1.0."""
    import numpy as np

    sim = pair_batch(
        s1.tolist(), s2.tolist(), _nw_sim_shortcut, _nw_sim_kernel, np.float64
    )
    return pd.Series(sim, dtype="float64")


def nw_unit_distance(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return nw_unit_distance_udf(l, r)


def sim_needleman_wunsch(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return needleman_wunsch_udf(l, r)
