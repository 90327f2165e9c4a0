"""Pair-batch driver shared by the Arrow-batched string kernels
(Jaro/Jaro-Winkler, Smith-Waterman, Needleman-Wunsch, Editex,
Damerau-Levenshtein).

Candidate-pair batches repeat strings heavily (every pair in a block
shares the blocking field; domains and titles recur across pairs), and
many pairs are trivial (NULL, empty, equal) or too long for a batch
matrix. So each kernel's batch entry point is one `pair_batch` call:

- identical (s1, s2) pairs are deduplicated in first-seen order;
- ``shortcut(a, b)`` runs once per distinct pair and returns the
  answer, or None to hand the pair to the vectorized kernel (NULL and
  empty conventions and the long-string scalar fallback live there);
- ``kernel(list_a, list_b)`` runs once over the remaining pairs;
- results scatter back to batch order through the inverse index.

`sort_pack` is the kernels' common input layout: rows sorted by the
left length descending (so DP step i touches only the prefix of rows
still active) and packed into zero-padded code matrices.
"""

from __future__ import annotations

import numpy as np

# Strings longer than this take the kernel's scalar path: the
# vectorized kernels allocate O(batch * max_len) matrices, which is the
# right trade for the short keys they are meant for (domains, titles,
# models) but not for arbitrary documents.
_VEC_MAX_LEN = 512


def pair_batch(s1: list, s2: list, shortcut, kernel, dtype) -> np.ndarray:
    """Score parallel lists pairwise: dedup, per-pair shortcut, one
    kernel call over the rest, inverse scatter. Empty batch → length-0
    array of ``dtype``."""
    seen: dict = {}
    inv = [seen.setdefault(key, len(seen)) for key in zip(s1, s2)]
    if not inv:
        return np.zeros(0, dtype)
    res = np.zeros(len(seen), dtype)
    kern_idx: list[int] = []
    for j, (a, b) in enumerate(seen):
        v = shortcut(a, b)
        if v is None:
            kern_idx.append(j)
        else:
            res[j] = v
    if kern_idx:
        uniq = list(seen)
        res[kern_idx] = kernel(
            [uniq[j][0] for j in kern_idx], [uniq[j][1] for j in kern_idx]
        )
    return res[inv]


def _pack(items: list, lens: np.ndarray) -> np.ndarray:
    """(n, max(len)) zero-padded matrix: uint32 codepoints for ``str``
    items (one utf-32-le encode of the joined batch), uint8 for
    ``bytes``. Boolean-mask assignment fills row-major, which matches
    concatenation order."""
    if isinstance(items[0], bytes):
        flat = np.frombuffer(b"".join(items), dtype=np.uint8)
    else:
        flat = np.frombuffer("".join(items).encode("utf-32-le"), dtype=np.uint32)
    width = max(int(lens.max()), 1)
    mat = np.zeros((len(items), width), dtype=flat.dtype)
    mat[np.arange(width)[None, :] < lens[:, None]] = flat
    return mat


def sort_pack(a_items: list, b_items: list):
    """Stable sort of the pairs by len(a) descending, then both sides
    packed. Returns ``(order, a_mat, l1, b_mat, l2)``; callers unsort
    with ``out[order] = sorted_result``."""
    m = len(a_items)
    l1 = np.fromiter(map(len, a_items), np.int64, m)
    order = np.argsort(-l1, kind="stable")
    a_items = [a_items[i] for i in order]
    b_items = [b_items[i] for i in order]
    l1 = l1[order]
    l2 = np.fromiter(map(len, b_items), np.int64, m)
    return order, _pack(a_items, l1), l1, _pack(b_items, l2), l2
