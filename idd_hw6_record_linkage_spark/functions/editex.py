"""Editex phonetic edit distance (beyond reference — SURVEY §2.12
comparator family; Zobel & Dart, "Phonetic string matching: lessons
from information retrieval", SIGIR 1996).

Editex is the graded phonetic comparator the phonetic-KEY passes
(functions/phonetic.py Soundex / Refined Soundex) cannot express: the
keys give a binary same-bucket/different-bucket signal, editex scores
HOW phonetically far two strings are, by running a Levenshtein-style
DP whose costs read a letter-group table instead of charging every
difference equally:

- substitution r(x, y): 0 if x == y, 1 if x and y share a phonetic
  letter group, else 2;
- deletion d(x, y) of char y following char x IN THE SAME STRING:
  1 if x != y and y is 'h' or 'w' (the often-silent letters), else
  r(x, y) — so dropping a DOUBLED letter costs 0 (r of equal chars)
  and dropping a letter after one of its group-mates costs 1.

Letter groups (lowercase; a letter may sit in several groups — group
agreement means SHARING ANY group): {aeiouy} {bp} {ckq} {dt} {lr}
{mn} {gj} {fpv} {sxz} {csz}. Non-letters (digits, space) are in no
group. The deletion-cost convention ("the DELETED char is the h/w")
follows the silent-letter rationale of the paper; the first char of a
string is preceded by a sentinel that equals nothing and shares no
group, so deleting it costs 2 — the same convention as the customary
space-prefix formulation. Distances are invariant under argument
order (the DP and both cost functions are symmetric).

Execution model mirrors functions/needleman.py: an Arrow-batched
pandas UDF over a numpy kernel vectorized across the BATCH dimension.
Editex's intra-row dependency (a chain of left deletions) has
POSITION-DEPENDENT costs, so the constant-gap ``maximum.accumulate``
collapse generalizes to a min-plus scan over prefix sums:
``h[j] = SB[j] + cummin(temp[k] - SB[k])`` where SB is the cumulative
deletion cost of the right-hand string — one vectorized pass per DP
row, everything int64.

Two public forms:

- ``editex_unit_distance``: the DEGENERATE cost point — empty group
  table, h/w rule off, doubled-letter discount off — where every
  operation costs exactly 2, so the distance IS 2·levenshtein and the
  contract query is VALUE-EXACT against DuckDB's native
  ``levenshtein`` (callers ASCII-sanitize so char and byte bases
  coincide). Like nw_unit_distance, this pins the shared kernel —
  borders, cumsum collapse, retirement capture — not just an
  invariant of it.
- ``editex_distance`` / ``sim_editex``: the production Zobel-Dart
  cost table. No SQL engine reproduces the group DP, so the contract
  gate (rl_editex_gate) pins its provable sandwich instead:
  0 ≤ editex ≤ editex_unit = 2·levenshtein (each unit-cost operation
  is an editex operation of cost ≤ 2; the lower bound is NOT
  levenshtein — deleting a doubled letter is free), plus symmetry.
  sim_editex = 1 − dist / (2·max(len)) ∈ [0, 1]; equal strings → 1.0,
  NULL → 0.0 (recordlinkage convention, same as the Jaro/SW/NW UDFs).
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

_GROUPS = (
    "aeiouy", "bp", "ckq", "dt", "lr", "mn", "gj", "fpv", "sxz", "csz"
)


def _same_group_table() -> "np.ndarray":
    """27x27 bool: classes 0..25 = 'a'..'z', 26 = everything else
    (digits, space, sentinel) which shares no group with anything."""
    import numpy as np

    t = np.zeros((27, 27), dtype=bool)
    for g in _GROUPS:
        for x in g:
            for y in g:
                t[ord(x) - 97, ord(y) - 97] = True
    return t


_SAME_GROUP = None  # built lazily so importing the module needs no numpy


def _cls(codes: "np.ndarray") -> "np.ndarray":
    """Map uint32 codepoints to letter classes (0..25, else 26)."""
    import numpy as np

    c = codes.astype(np.int64) - 97
    return np.where((c >= 0) & (c < 26), c, 26)


def _r_cost(x: "np.ndarray", y: "np.ndarray", unit: bool) -> "np.ndarray":
    """Substitution cost r: 0 equal / 1 same-group / 2 else (int64).
    ``unit``: 0 equal / 2 else."""
    import numpy as np

    eq = x == y
    if unit:
        return np.where(eq, 0, 2).astype(np.int64)
    global _SAME_GROUP
    if _SAME_GROUP is None:
        _SAME_GROUP = _same_group_table()
    grp = _SAME_GROUP[_cls(x), _cls(y)]
    return np.where(eq, 0, np.where(grp, 1, 2)).astype(np.int64)


def _del_costs(mat: "np.ndarray", lens: "np.ndarray", unit: bool) -> "np.ndarray":
    """Per-position deletion costs d(prev, cur) for every string in the
    (m, L) codepoint matrix; position i holds the cost of deleting
    char i (0-based), preceded by char i−1 (sentinel 0 for i = 0).
    Entries past each string's length are garbage — callers mask by
    length."""
    import numpy as np

    m, L = mat.shape
    if unit:
        return np.full((m, L), 2, dtype=np.int64)
    prev = np.zeros_like(mat)
    prev[:, 1:] = mat[:, :-1]  # sentinel 0 before the first char
    cur = mat
    r = _r_cost(prev, cur, unit=False)
    hw = (cur == ord("h")) | (cur == ord("w"))
    return np.where((prev != cur) & hw, 1, r).astype(np.int64)


def _editex_scalar(a: str, b: str, unit: bool = False) -> int:
    """Textbook O(L1·L2) editex DP — the parity reference for the
    vectorized kernel and the fallback beyond _VEC_MAX_LEN."""
    import numpy as np

    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 0
    ca = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    cb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    da = (
        _del_costs(ca[None, :], np.array([la]), unit)[0]
        if la
        else np.zeros(0, dtype=np.int64)
    )
    db = (
        _del_costs(cb[None, :], np.array([lb]), unit)[0]
        if lb
        else np.zeros(0, dtype=np.int64)
    )
    prev = [0] * (lb + 1)
    for j in range(1, lb + 1):
        prev[j] = prev[j - 1] + int(db[j - 1])
    border = 0
    dbl = [int(x) for x in db]
    for i in range(1, la + 1):
        border += int(da[i - 1])
        dai = int(da[i - 1])
        sub_row = (
            _r_cost(ca[i - 1 : i], cb, unit) if lb else None
        )
        cur = [border] + [0] * lb
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + dai,
                cur[j - 1] + dbl[j - 1],
                prev[j - 1] + int(sub_row[j - 1]),
            )
        prev = cur
    return prev[lb]


def _editex_kernel(
    a_strs: list, b_strs: list, unit: bool
) -> "np.ndarray":
    """Vectorized editex corner distances over non-null, non-equal,
    non-empty strings with len ≤ _VEC_MAX_LEN. Same length-sorted
    retirement shape as the NW kernel; min-plus left collapse over the
    right string's cumulative deletion costs."""
    import numpy as np

    m = len(a_strs)
    order, a_mat, l1, b_mat, l2 = sort_pack(a_strs, b_strs)
    L1, L2 = int(l1[0]), int(l2.max())

    da = _del_costs(a_mat, l1, unit)  # (m, L1)
    db = _del_costs(b_mat, l2, unit)  # (m, L2)
    # SB[j] = cumulative right-string deletion cost of chars 1..j
    # (position 0 = 0); garbage past l2 never reaches a corner read.
    SB = np.zeros((m, L2 + 1), dtype=np.int64)
    np.cumsum(db, axis=1, out=SB[:, 1:])

    h_prev = SB.copy()  # row 0 border: delete the b prefix
    out_sorted = np.zeros(m, dtype=np.int64)
    border = np.zeros(m, dtype=np.int64)
    neg_l1 = -l1
    rows_all = np.arange(m)
    for i in range(1, L1 + 1):
        k = int(np.searchsorted(neg_l1, -i, side="right"))
        if k == 0:
            break
        dai = da[:k, i - 1 : i]  # (k, 1) deletion cost of a_i
        border[:k] += dai[:, 0]
        sub = _r_cost(a_mat[:k, i - 1 : i], b_mat[:k], unit)  # (k, L2)
        temp = np.empty((k, L2 + 1), dtype=np.int64)
        temp[:, 0] = border[:k]
        np.minimum(
            h_prev[:k, :-1] + sub, h_prev[:k, 1:] + dai, out=temp[:, 1:]
        )
        # left collapse: h[j] = SB[j] + min_{k'<=j}(temp[k'] - SB[k'])
        # guard garbage columns past l2 from polluting the scan is not
        # needed: cummin only ever LOWERS later values, and columns at
        # or before l2 use only entries at or before them.
        scan = np.minimum.accumulate(temp - SB[:k], axis=1)
        h = scan + SB[:k]
        lo = int(np.searchsorted(neg_l1, -i, side="left"))
        if lo < k:
            rr = rows_all[lo:k]
            out_sorted[rr] = h[lo:k][np.arange(k - lo), l2[rr]]
        h_prev[:k] = h

    out = np.empty(m, dtype=np.int64)
    out[order] = out_sorted
    return out


def _editex_shortcut(a: str, b: str, unit: bool) -> int | None:
    """Distance of a trivial or over-long pair; None → kernel."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0 or la > _VEC_MAX_LEN or lb > _VEC_MAX_LEN:
        return _editex_scalar(a, b, unit)  # border-only DP when one is ''
    return None


def _editex_batch(s1_list: list, s2_list: list, unit: bool) -> "np.ndarray":
    """Editex distances over parallel string lists through
    `pair_batch`. None is treated as '' (total behavior: editex(a, '')
    = the cumulative deletion cost of a — NOT 2·len(a) in production
    mode, because doubled letters drop free)."""
    import numpy as np

    return pair_batch(
        s1_list,
        s2_list,
        lambda a, b: _editex_shortcut(a or "", b or "", unit),
        lambda a, b: _editex_kernel(a, b, unit),
        np.int64,
    )


@pandas_udf(LongType())
def editex_distance_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Zobel-Dart editex distance over an Arrow batch; NULL-as-empty."""
    return pd.Series(
        _editex_batch(s1.tolist(), s2.tolist(), unit=False), dtype="int64"
    )


@pandas_udf(LongType())
def editex_unit_distance_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Degenerate-cost editex (every operation costs 2): the value
    equals 2·levenshtein by construction, pinning the shared kernel
    value-exactly against DuckDB's native levenshtein."""
    return pd.Series(
        _editex_batch(s1.tolist(), s2.tolist(), unit=True), dtype="int64"
    )


def _editex_sim_shortcut(a, b) -> float | None:
    if a is None or b is None:
        return 0.0
    if a == b:
        return 1.0
    d = _editex_shortcut(a, b, unit=False)
    return None if d is None else 1.0 - d / (2.0 * max(len(a), len(b)))


def _editex_sim_kernel(a_strs: list, b_strs: list) -> "np.ndarray":
    import numpy as np

    dist = _editex_kernel(a_strs, b_strs, unit=False).astype(np.float64)
    la = np.fromiter(map(len, a_strs), np.int64, len(a_strs))
    lb = np.fromiter(map(len, b_strs), np.int64, len(b_strs))
    return 1.0 - dist / (2.0 * np.maximum(la, lb))


@pandas_udf(DoubleType())
def sim_editex_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Normalized editex similarity 1 − dist/(2·max(len)); equal
    strings → 1.0, NULL → 0.0."""
    import numpy as np

    sim = pair_batch(
        s1.tolist(),
        s2.tolist(),
        _editex_sim_shortcut,
        _editex_sim_kernel,
        np.float64,
    )
    return pd.Series(sim, dtype="float64")


def editex_distance(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return editex_distance_udf(l, r)


def editex_unit_distance(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return editex_unit_distance_udf(l, r)


def sim_editex(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return sim_editex_udf(l, r)
