"""Pairwise comparators (SURVEY §2.6, C1-C8).

Native Catalyst expressions wherever Spark has the primitive
(levenshtein, exact, gaussian numeric, token jaccard, cosine); Arrow-
batched pandas UDFs only for Jaro / Jaro-Winkler, which Spark lacks.
The UDFs receive whole Arrow batches (no per-row Python at the Spark
level) and run a numpy-vectorized Jaro kernel across the batch (pair
dedup and shortcuts from functions/pair_batch.py) — the same strategy
the reference gets from the `recordlinkage` library's numpy comparators
(record_linkage.py:457), but without its per-pair Python dispatch.

Reference comparator configs (thresholds) live in
/root/reference/scripts/record_linkage/record_linkage.py:271-381.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from idd_hw6_record_linkage_spark.functions.pair_batch import (
    _VEC_MAX_LEN,
    pair_batch,
    sort_pack,
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- native comparators -----------------------------------------------------


def sim_exact(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    """C4 exact match → 0.0/1.0; null-safe like recordlinkage
    compare.exact (missing → 0)."""
    lc, rc = _c(l), _c(r)
    return (
        F.when(lc.isNull() | rc.isNull(), F.lit(0.0))
        .otherwise(lc.eqNullSafe(rc).cast("double"))
    )


def sim_gauss(l: Column | str, r: Column | str, scale: float) -> Column:  # noqa: E741
    """C5 Gaussian numeric kernel: 2^(-(d/scale)^2), recordlinkage
    'gauss' method (record_linkage.py:292-295). Missing → 0."""
    lc, rc = _c(l).cast("double"), _c(r).cast("double")
    d = (lc - rc) / F.lit(float(scale))
    return F.when(
        lc.isNull() | rc.isNull(), F.lit(0.0)
    ).otherwise(F.pow(F.lit(2.0), -(d * d)))


def sim_levenshtein(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    """C3 normalized edit similarity: 1 - lev/max(len); both empty → 1,
    missing → 0. Fully native (JVM levenshtein)."""
    lc, rc = _c(l), _c(r)
    denom = F.greatest(F.length(lc), F.length(rc))
    sim = F.when(denom == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(lc, rc) / denom.cast("double")
    )
    return F.when(lc.isNull() | rc.isNull(), F.lit(0.0)).otherwise(sim)


def sim_jaccard_tokens(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    """C6 token-set Jaccard over whitespace tokens (2_train_models.py:
    276-287 analogue). Native array ops."""
    # array_remove '': split(trim('')) yields [''] — without the filter
    # two empty strings would score 1.0 instead of the documented
    # missing→0 recordlinkage semantics.
    lt = F.array_remove(F.array_distinct(F.split(F.trim(_c(l)), r"\s+")), "")
    rt = F.array_remove(F.array_distinct(F.split(F.trim(_c(r)), r"\s+")), "")
    inter = F.size(F.array_intersect(lt, rt)).cast("double")
    union = F.size(F.array_union(lt, rt)).cast("double")
    sim = F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
    return F.when(_c(l).isNull() | _c(r).isNull(), F.lit(0.0)).otherwise(sim)


def sim_jaccard_token_arrays(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    """C6 over *pre-tokenized* distinct-token array columns. Tokenize
    once per record upstream instead of twice per candidate pair — at
    millions of pairs the per-pair split/distinct dominates otherwise."""
    lt, rt = _c(l), _c(r)
    inter = F.size(F.array_intersect(lt, rt)).cast("double")
    union = F.size(F.array_union(lt, rt)).cast("double")
    sim = F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
    return F.when(lt.isNull() | rt.isNull(), F.lit(0.0)).otherwise(sim)


def sim_cosine_arrays(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    """Cosine similarity between two array<float/double> columns —
    native zip_with + aggregate (no UDF)."""
    lc, rc = _c(l), _c(r)
    dot = F.aggregate(
        F.zip_with(lc, rc, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nl = F.sqrt(F.aggregate(lc, F.lit(0.0), lambda acc, x: acc + x * x))
    nr = F.sqrt(F.aggregate(rc, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((nl == 0) | (nr == 0), F.lit(0.0)).otherwise(dot / (nl * nr))


def thresholded(sim: Column, threshold: float) -> Column:
    """recordlinkage `threshold=` semantics: 1.0 if sim >= t else 0.0
    (record_linkage.py:280-289)."""
    return (sim >= F.lit(float(threshold))).cast("double")


# --- Jaro / Jaro-Winkler (pandas UDF; Spark has no native) -------------------
#
# Two implementations with identical semantics:
#  - `_jaro` / `_jaro_winkler`: scalar reference (jellyfish-compatible),
#    used for parity tests and as the fallback for very long strings;
#  - `_jaro_batch`: numpy-vectorized across the whole Arrow batch — the
#    hot path. The greedy character-matching loop runs once per s1
#    position but each step is a batch-wide numpy mask op, so the Python
#    interpreter cost is O(max_len) per batch instead of O(len1*window)
#    per pair (~25 µs/pair scalar → ~1-3 µs/pair vectorized).


def _jaro(s1: str, s2: str, int_trans: bool = False) -> float:
    """Standard Jaro similarity (jellyfish-compatible), scalar.

    ``int_trans=True`` switches the transposition term from the
    jellyfish convention t = diffs/2 (half-transpositions count) to the
    strcmp95/rapidfuzz convention t = diffs // 2 (INTEGER halving) that
    DuckDB's ``jaro_similarity`` implements — the single point where
    the two published variants disagree (empirically verified: 0
    mismatches over 5.5k random + adversarial pairs incl. >64-char
    strings once this flag and the ''-vs-'' convention are set; the
    greedy window matching itself is identical). Production scoring
    keeps the jellyfish default for reference parity; the DuckDB mode
    exists so the contract can pin the WHOLE kernel value-exactly."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_dist = max(len1, len2) // 2 - 1
    if match_dist < 0:
        match_dist = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(i + match_dist + 1, len2)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == ch:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions // 2 if int_trans else transpositions / 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3


def _jaro_winkler(
    s1: str,
    s2: str,
    prefix_weight: float = 0.1,
    int_trans: bool = False,
) -> float:
    """Jaro-Winkler with the standard 0.7 boost threshold and 4-char
    prefix cap (jellyfish-compatible, cf. SURVEY §7 risk 5).
    ``int_trans``: see `_jaro` — DuckDB-parity transposition halving."""
    j = _jaro(s1, s2, int_trans=int_trans)
    if j > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a == b:
                prefix += 1
            else:
                break
        j += prefix * prefix_weight * (1 - j)
    return j


def _jaro_kernel(
    a_strs: list,
    b_strs: list,
    winkler: bool,
    int_trans: bool = False,
) -> "np.ndarray":
    """Vectorized Jaro/JW over non-null, non-equal, non-empty string
    lists with len ≤ _VEC_MAX_LEN. Bandwidth-conscious:

    - rows sorted by len(s1) desc so iteration i only touches the
      prefix of rows still active (variable-length batches don't pay
      for the longest row);
    - all-ASCII batches compare as uint8 (4× less memory traffic than
      codepoints);
    - the s2 availability mask is maintained in place (matched slots
      cleared) instead of re-deriving window/flag masks per step.
    """
    import numpy as np

    m = len(a_strs)
    order, a, l1, b, l2 = sort_pack(a_strs, b_strs)
    L1, L2 = int(l1[0]), int(l2.max())
    if a.max(initial=0) < 256 and b.max(initial=0) < 256:
        a = a.astype(np.uint8)
        b = b.astype(np.uint8)

    md = np.maximum(np.maximum(l1, l2) // 2 - 1, 0).astype(np.int16)[:, None]
    j_idx = np.arange(L2, dtype=np.int16)
    avail2 = j_idx[None, :] < l2[:, None].astype(np.int16)  # in-window & unmatched
    flags2 = np.zeros((m, L2), dtype=bool)
    matched1 = np.zeros((m, L1), dtype=bool)
    rows = np.arange(m)
    neg_l1 = -l1
    for i in range(L1):
        k = int(np.searchsorted(neg_l1, -i, side="left"))  # rows with l1 > i
        if k == 0:
            break
        eq = b[:k] == a[:k, i : i + 1]
        eq &= avail2[:k]
        eq &= np.abs(j_idx - np.int16(i))[None, :] <= md[:k]
        first = eq.argmax(axis=1)
        has = eq[rows[:k], first]  # argmax==0 could mean "no True"
        sel, fj = rows[:k][has], first[has]
        avail2[sel, fj] = False
        flags2[sel, fj] = True
        matched1[:k, i] = has

    matches = matched1.sum(axis=1)
    # transpositions: matched chars of s1 in order vs matched of s2 in
    # order. Left-pack the matched chars via a running-rank scatter
    # (cumsum int16 + put_along_axis); unmatched cells dump into a
    # discard column K.
    K = int(matches.max()) if m else 0
    trans = np.zeros(m, dtype=np.int64)
    if K > 0:
        def _pack(mask, chars):
            # explicit dtype: without it numpy upcasts the accumulation
            # to int64 through a ~70x slower path
            pos = np.cumsum(mask.astype(np.int16), axis=1, dtype=np.int16) - np.int16(1)
            dest = np.where(mask, pos, np.int16(K)).astype(np.intp)
            seq = np.zeros((m, K + 1), dtype=chars.dtype)
            np.put_along_axis(seq, dest, chars, axis=1)
            return seq[:, :K]

        seq1 = _pack(matched1, a)
        seq2 = _pack(flags2, b)
        trans = ((seq1 != seq2) & (np.arange(K) < matches[:, None])).sum(axis=1)

    mm = matches.astype(np.float64)
    t = (trans // 2).astype(np.float64) if int_trans else trans / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (mm / l1 + mm / l2 + (mm - t) / mm) / 3.0
    jaro[matches == 0] = 0.0

    if winkler:
        P = min(4, L1, L2)
        p_idx = np.arange(P)
        pm = (
            (a[:, :P] == b[:, :P])
            & (p_idx < l1[:, None])
            & (p_idx < l2[:, None])
        )
        prefix = np.cumprod(pm, axis=1).sum(axis=1)
        boost = jaro > 0.7
        jaro = np.where(boost, jaro + prefix * 0.1 * (1.0 - jaro), jaro)

    out = np.empty(m, dtype=np.float64)
    out[order] = jaro
    return out


def _jaro_batch(
    s1_list: list,
    s2_list: list,
    winkler: bool,
    int_trans: bool = False,
) -> "np.ndarray":
    """Vectorized Jaro / Jaro-Winkler over parallel string lists.

    Bit-identical to `_jaro`/`_jaro_winkler` (same greedy first-unmatched
    match order, same float expression order); property-tested against
    the scalars in tests/test_similarity.py. None → 0.0. `pair_batch`
    dedups the batch and calls the shortcut below once per distinct
    pair (missing/empty → 0.0, equal → 1.0, over-long → scalar), so the
    kernel only sees distinct, genuinely different pairs."""
    import numpy as np

    scalar = _jaro_winkler if winkler else _jaro

    def shortcut(a, b):
        if a is None or b is None:
            return 0.0
        la, lb = len(a), len(b)
        if int_trans and (la == 0 or lb == 0):
            return 0.0  # DuckDB convention: ANY empty side → 0.0, '' == ''
        if a == b:
            return 1.0  # includes "" == ""
        if la == 0 or lb == 0:
            return 0.0
        if la > _VEC_MAX_LEN or lb > _VEC_MAX_LEN:
            return scalar(a, b, int_trans=int_trans)
        return None

    return pair_batch(
        s1_list,
        s2_list,
        shortcut,
        lambda a, b: _jaro_kernel(a, b, winkler, int_trans=int_trans),
        np.float64,
    )


@pandas_udf(DoubleType())
def jaro_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """C2 Jaro similarity over an Arrow batch; missing → 0.0."""
    out = _jaro_batch(s1.tolist(), s2.tolist(), winkler=False)
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """C1 Jaro-Winkler similarity over an Arrow batch; missing → 0.0."""
    out = _jaro_batch(s1.tolist(), s2.tolist(), winkler=True)
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def jaro_rf_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Jaro in the strcmp95/rapidfuzz transposition convention
    (t = diffs // 2, '' vs '' → 0.0) — the variant DuckDB's
    ``jaro_similarity`` implements, so this column is value-exact
    against it (see `_jaro`). Same vectorized batch kernel."""
    out = _jaro_batch(s1.tolist(), s2.tolist(), winkler=False, int_trans=True)
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def jaro_winkler_rf_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Jaro-Winkler in the DuckDB/rapidfuzz convention (integer
    transposition halving, standard 0.7 boost / 0.1 weight / 4-char
    prefix) — value-exact vs ``jaro_winkler_similarity``."""
    out = _jaro_batch(s1.tolist(), s2.tolist(), winkler=True, int_trans=True)
    return pd.Series(out, dtype="float64")


def sim_jaro(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return jaro_udf(_c(l), _c(r))


def sim_jaro_winkler(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return jaro_winkler_udf(_c(l), _c(r))


def sim_jaro_rf(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return jaro_rf_udf(_c(l), _c(r))


def sim_jaro_winkler_rf(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    return jaro_winkler_rf_udf(_c(l), _c(r))
