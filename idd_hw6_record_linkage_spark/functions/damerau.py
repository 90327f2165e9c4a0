"""Unrestricted Damerau-Levenshtein distance (beyond reference —
SURVEY §2.12 comparator family).

Transposition-aware edit distance — the classic typo model for names
and titles ("hte" → "the" is ONE edit, not two), the comparator the
recordlinkage library exposes as its damerau_levenshtein method next
to the jarowinkler/levenshtein pair the reference configures
(record_linkage.py:271-381). This is the UNRESTRICTED variant
(Lowrance-Wagner): a transposed pair may be edited again later, so
DL("CA","ABC") = 2, not OSA's 3 — chosen because it is the variant
DuckDB's ``damerau_levenshtein`` implements, which makes the contract
query value-exact instead of a tripwire.

Byte basis: both this kernel and DuckDB compute over the UTF-8 byte
sequence (DuckDB: 'héllo'→'hello' = 2), so the two sides agree on any
unicode input by construction. Bytes also bound the transposition
bookkeeping: the "last row seeing this symbol" table ``da`` is a dense
(batch × 256) array instead of a per-row dict.

Execution model mirrors functions/alignment_sim.py's SW kernel: an
Arrow-batched pandas UDF (never per-row Python at the Spark level)
running a numpy kernel vectorized across the BATCH dimension. Unlike
SW/Levenshtein, the unrestricted-DL inner dependency (the
``d[i1-1][j1-1]`` gather at a data-dependent cell) cannot be collapsed
into a scan, so the kernel walks the (i, j) grid scalar-wise and does
O(batch) vector work per cell over the full DP cube — rows are sorted
by len(a) desc so cell (i, j) only touches still-active rows, and the
cube is chunked so memory stays bounded. Strings beyond _VEC_MAX_LEN
bytes fall back to the scalar DP (the parity reference for tests).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from idd_hw6_record_linkage_spark.functions.pair_batch import pair_batch, sort_pack

# DP cube is (chunk × (L1+2) × (L2+2)) int32 — 64-byte cap and
# 2048-row chunks bound it at ~36 MB.
_VEC_MAX_LEN = 64
_CHUNK = 2048
_INF = 1 << 20


def _dl_scalar(a: bytes, b: bytes) -> int:
    """Textbook Lowrance-Wagner unrestricted Damerau-Levenshtein over
    byte strings — parity reference for the vectorized kernel and the
    fallback for strings beyond _VEC_MAX_LEN bytes."""
    la, lb = len(a), len(b)
    inf = la + lb
    # D[I][J] stores d[i][j] at I=i+1, J=j+1 (border row/col at 0).
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = inf
    for i in range(la + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    da: dict = {}
    for i in range(1, la + 1):
        db = 0
        ai = a[i - 1]
        for j in range(1, lb + 1):
            bj = b[j - 1]
            i1 = da.get(bj, 0)
            j1 = db
            if ai == bj:
                cost = 0
                db = j
            else:
                cost = 1
            v = d[i][j] + cost
            if d[i + 1][j] + 1 < v:
                v = d[i + 1][j] + 1
            if d[i][j + 1] + 1 < v:
                v = d[i][j + 1] + 1
            t = d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1)
            if t < v:
                v = t
            d[i + 1][j + 1] = v
        da[ai] = i
    return d[la + 1][lb + 1]


def _dl_kernel_chunk(a_bytes: list, b_bytes: list) -> "np.ndarray":
    """Vectorized unrestricted DL over ≤_CHUNK byte-string pairs, all
    lengths ≤ _VEC_MAX_LEN. Vectorizes across the batch dimension;
    the (i, j) grid is walked scalar-wise because the transposition
    term gathers a data-dependent earlier cell."""
    import numpy as np

    m = len(a_bytes)
    order, a_mat, l1, b_mat, l2 = sort_pack(a_bytes, b_bytes)
    L1, L2 = int(l1[0]), int(l2.max())

    D = np.zeros((m, L1 + 2, L2 + 2), dtype=np.int32)
    D[:, 0, :] = _INF
    D[:, :, 0] = _INF
    D[:, 1, 1:] = np.arange(L2 + 1, dtype=np.int32)[None, :]
    D[:, 1:, 1] = np.arange(L1 + 1, dtype=np.int32)[None, :]

    da = np.zeros((m, 256), dtype=np.int32)
    rows_all = np.arange(m)
    neg_l1 = -l1
    for i in range(1, L1 + 1):
        k = int(np.searchsorted(neg_l1, -(i - 1), side="left"))  # l1 >= i
        if k == 0:
            break
        rows = rows_all[:k]
        ai = a_mat[:k, i - 1]
        db = np.zeros(k, dtype=np.int32)
        for j in range(1, L2 + 1):
            bj = b_mat[:k, j - 1]
            i1 = da[rows, bj]
            j1 = db
            eq = ai == bj
            cost = np.where(eq, 0, 1).astype(np.int32)
            db = np.where(eq, j, db).astype(np.int32)
            trans = (
                D[rows, i1, j1]
                + (i - i1 - 1)
                + 1
                + (j - j1 - 1)
            )
            v = D[:k, i, j] + cost
            np.minimum(v, D[:k, i + 1, j] + 1, out=v)
            np.minimum(v, D[:k, i, j + 1] + 1, out=v)
            np.minimum(v, trans, out=v)
            D[:k, i + 1, j + 1] = v
        da[rows, ai] = i

    res = D[rows_all, l1 + 1, l2 + 1].astype(np.int64)
    out = np.empty(m, dtype=np.int64)
    out[order] = res
    return out


def _dl_shortcut(a: str, b: str) -> int | None:
    """Distance of a trivial or over-long pair; None → kernel."""
    if a == b:
        return 0  # includes '' == ''
    ab, bb = a.encode("utf-8"), b.encode("utf-8")
    if len(ab) == 0 or len(bb) == 0:
        return len(ab) + len(bb)
    if len(ab) > _VEC_MAX_LEN or len(bb) > _VEC_MAX_LEN:
        return _dl_scalar(ab, bb)
    return None


def _dl_kernel(a_strs: list, b_strs: list) -> "np.ndarray":
    """UTF-8 encode, then the vectorized DP in _CHUNK-row chunks."""
    import numpy as np

    a_bytes = [s.encode("utf-8") for s in a_strs]
    b_bytes = [s.encode("utf-8") for s in b_strs]
    out = np.empty(len(a_bytes), dtype=np.int64)
    for lo in range(0, len(a_bytes), _CHUNK):
        hi = lo + _CHUNK
        out[lo:hi] = _dl_kernel_chunk(a_bytes[lo:hi], b_bytes[lo:hi])
    return out


def _dl_batch(s1_list: list, s2_list: list) -> "np.ndarray":
    """Unrestricted DL distances over parallel string lists through
    `pair_batch` (candidate-pair batches repeat strings heavily). None
    is treated as '' (callers coalesce upstream; this keeps the kernel
    total)."""
    import numpy as np

    return pair_batch(
        s1_list,
        s2_list,
        lambda a, b: _dl_shortcut(a or "", b or ""),
        _dl_kernel,
        np.int64,
    )


@pandas_udf(LongType())
def damerau_levenshtein_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Unrestricted Damerau-Levenshtein byte distance over an Arrow
    batch; NULL is treated as the empty string."""
    out = _dl_batch(s1.tolist(), s2.tolist())
    return pd.Series(out, dtype="int64")


def damerau_distance(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return damerau_levenshtein_udf(l, r)


def sim_damerau(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    """Normalized similarity 1 − DL/max(byte_len); both-empty → 1.0.
    The normalization runs native (octet_length) so only the distance
    crosses the Arrow boundary."""
    denom = F.greatest(F.octet_length(l), F.octet_length(r), F.lit(1))
    return F.lit(1.0) - damerau_levenshtein_udf(l, r) / denom
