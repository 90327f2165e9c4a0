"""Smith-Waterman local-alignment similarity (beyond reference —
SURVEY §2.12 comparator family).

The classic alignment comparator for dirty web text: where
Levenshtein (global edit) punishes a shared title embedded in
different boilerplate, local alignment finds the best-scoring common
REGION and ignores everything around it — SW("amazon deals {title}",
"{title} | best price") scores the shared title at full strength.
The reference's recordlinkage library exposes the same family
(Smith-Waterman via its algorithm= options, record_linkage.py:271-381
uses jarowinkler/levenshtein); here it completes the comparator set.

Execution model mirrors functions/similarity.py's Jaro kernel: an
Arrow-batched pandas UDF (never per-row Python at the Spark level)
running a numpy kernel vectorized across the BATCH dimension — the
O(L1·L2) DP loops only over the L1 character positions; each step is
a handful of (batch × L2) matrix ops. The intra-row left-gap
dependency (H[i][j-1] − g) is resolved without a j-loop by the
linear-gap collapse: any chain of left gaps equals one left jump, so
H[i][j] = max(temp[j], max_{k<j}(temp[k] − g·(j−k))), and the inner
max is a running ``np.maximum.accumulate`` of temp[k] + g·k.

Scores: match m > 0, mismatch µ ≤ 0, gap penalty g ≥ 0 (subtracted).
Similarity = best_cell / (m · min(len1, len2)) ∈ [0, 1]; equal
strings → 1.0, a string locally contained in the other → 1.0.
Missing / one-sided-empty → 0.0 (recordlinkage convention, same as
the Jaro UDFs). Not SQL-expressible — verified by pytest parity
against the scalar DP plus the rl_sw_gate invariant tripwire
(substring pairs must score exactly 1.0, bounds must hold).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from idd_hw6_record_linkage_spark.functions.pair_batch import (
    _VEC_MAX_LEN,
    pair_batch,
    sort_pack,
)

# default scoring: match +1, mismatch -0.5, gap -1 — exact binary
# fractions, so kernel and scalar DP agree bit-for-bit.
_MATCH = 1.0
_MISMATCH = -0.5
_GAP = 1.0


def _sw_scalar(
    a: str,
    b: str,
    match: float = _MATCH,
    mismatch: float = _MISMATCH,
    gap: float = _GAP,
) -> float:
    """Textbook O(L1·L2) Smith-Waterman DP — the parity reference for
    the vectorized kernel and the fallback for strings beyond
    _VEC_MAX_LEN. Returns the best raw cell score (not normalized)."""
    la, lb = len(a), len(b)
    prev = [0.0] * (lb + 1)
    best = 0.0
    for i in range(la):
        cur = [0.0] * (lb + 1)
        ai = a[i]
        for j in range(1, lb + 1):
            s = match if ai == b[j - 1] else mismatch
            v = prev[j - 1] + s
            if prev[j] - gap > v:
                v = prev[j] - gap
            if cur[j - 1] - gap > v:
                v = cur[j - 1] - gap
            if v < 0.0:
                v = 0.0
            cur[j] = v
            if v > best:
                best = v
        prev = cur
    return best


def _sw_kernel(
    a_strs: list, b_strs: list, match: float, mismatch: float, gap: float
) -> "np.ndarray":
    """Vectorized SW raw scores over non-null, non-equal, non-empty
    string lists with len ≤ _VEC_MAX_LEN. Rows sorted by len(s1) desc
    so DP row i only touches rows still active (same variable-length
    discipline as the Jaro kernel)."""
    import numpy as np

    m = len(a_strs)
    order, a_mat, l1, b_mat, l2 = sort_pack(a_strs, b_strs)
    L1, L2 = int(l1[0]), int(l2.max())

    j_idx = np.arange(L2, dtype=np.int64)
    valid2 = j_idx[None, :] < l2[:, None]
    gj = gap * j_idx.astype(np.float64)[None, :]

    h_prev = np.zeros((m, L2), dtype=np.float64)
    best = np.zeros(m, dtype=np.float64)
    neg_l1 = -l1
    for i in range(L1):
        k = int(np.searchsorted(neg_l1, -i, side="left"))  # rows with l1 > i
        if k == 0:
            break
        s = np.where(b_mat[:k] == a_mat[:k, i : i + 1], match, mismatch)
        diag = np.empty((k, L2), dtype=np.float64)
        diag[:, 0] = 0.0
        diag[:, 1:] = h_prev[:k, :-1]
        temp = np.maximum(diag + s, h_prev[:k] - gap)
        np.maximum(temp, 0.0, out=temp)
        temp[~valid2[:k]] = 0.0
        # left-gap collapse: H[j] = max(temp[j], max_{k'<j} temp[k'] - g(j-k'))
        scan = np.maximum.accumulate(temp + gj, axis=1)
        h = temp.copy()
        if L2 > 1:
            h[:, 1:] = np.maximum(temp[:, 1:], scan[:, :-1] - gj[:, 1:])
        h[~valid2[:k]] = 0.0
        best[:k] = np.maximum(best[:k], h.max(axis=1))
        h_prev[:k] = h

    out = np.empty(m, dtype=np.float64)
    out[order] = best
    return out


def _sw_batch(
    s1_list: list,
    s2_list: list,
    match: float = _MATCH,
    mismatch: float = _MISMATCH,
    gap: float = _GAP,
) -> "np.ndarray":
    """Normalized SW similarity over parallel string lists through
    `pair_batch`: candidate-pair batches repeat strings heavily, so the
    DP only sees distinct, genuinely different, non-trivial pairs."""
    import numpy as np

    def shortcut(a, b):
        if a is None or b is None:
            return 0.0
        if a == b:
            return 1.0  # includes "" == ""
        la, lb = len(a), len(b)
        if la == 0 or lb == 0:
            return 0.0
        if la > _VEC_MAX_LEN or lb > _VEC_MAX_LEN:
            return _sw_scalar(a, b, match, mismatch, gap) / (match * min(la, lb))
        return None

    def kernel(a_strs, b_strs):
        raw = _sw_kernel(a_strs, b_strs, match, mismatch, gap)
        denom = np.asarray(
            [match * min(len(a), len(b)) for a, b in zip(a_strs, b_strs)],
            dtype=np.float64,
        )
        return raw / denom

    return pair_batch(s1_list, s2_list, shortcut, kernel, np.float64)


@pandas_udf(DoubleType())
def smith_waterman_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Normalized Smith-Waterman local-alignment similarity over an
    Arrow batch; missing → 0.0, contained-substring → 1.0."""
    out = _sw_batch(s1.tolist(), s2.tolist())
    return pd.Series(out, dtype="float64")


def sim_smith_waterman(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return smith_waterman_udf(l, r)


@pandas_udf(DoubleType())
def sw_unit_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Smith-Waterman at the PROHIBITIVE-PENALTY point (match +1,
    mismatch −100, gap 100, snippets ≤ 40 chars): no alignment that
    spends a single mismatch or gap can outscore a pure exact run, so
    the max cell — and with the score/(match·min_len) normalization,
    the whole output — collapses to longest-common-substring length
    over min length. That makes this corner SQL-expressible: the
    contract query ``rl_sw_unit`` pins the ENTIRE vectorized SW
    machinery (zero floor, diagonal recurrence, left-gap collapse,
    max-cell retirement, batch dedup + short-circuits) value-exactly
    against DuckDB's independent substring-window enumeration — the
    same epistemic trick as editex_unit (=2·levenshtein) and nw_unit
    (=−levenshtein). General-parameter behavior is pinned by the
    scalar-DP parity tests in tests/test_alignment_sim."""
    out = _sw_batch(
        s1.tolist(), s2.tolist(), match=1.0, mismatch=-100.0, gap=100.0
    )
    return pd.Series(out, dtype="float64")


def sim_sw_unit(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return sw_unit_udf(l, r)
