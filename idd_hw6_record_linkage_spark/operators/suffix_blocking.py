"""Suffix-array blocking (beyond reference — SURVEY §2.12 blocking
family; Aizawa & Oyama 2005, Christen "Data Matching" ch. 4.6).

Each record key emits every suffix of length >= ``min_len``; records
sharing any suffix become candidates. The scheme's blind-spot profile
is the mirror of the others in the family: it is immune to HEAD-of-
string corruption (truncated titles, stripped prefixes, "the "/"www."
variants) where soundex only hears the word head and sorted-
neighborhood needs the error to not reorder the sort. Q-gram blocking
also survives head errors but at far higher key fan-out; a suffix key
of length >= min_len is near-unique, so suffix blocks are naturally
tiny and the scheme doubles as a cheap near-duplicate key for
URLs/titles.

Scale shape: suffixes explode map-side from a bounded key slice
(callers slice the key BEFORE calling, same discipline as
rl_qgram_blocks), at most ``len - min_len + 1`` rows per record.
``max_block_size`` drops suffixes whose doc-frequency exceeds it
BEFORE the self-join — the standard suffix-blocking parameter
(Christen fig. 4.10) and the same self-bounding trade as the q-gram
``max_df`` cap: a suffix shared by everyone ("...com") carries no
blocking information, and dropping it is a documented recall trade,
not silent truncation (read ``suffix_df_profile`` to pick the cap).
The pair aggregate shuffles once on the id pair. Everything is native
Catalyst (sequence/transform/substring — no Python), so the whole
plan stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking


def suffix_keys(
    df: DataFrame, id_col: str, key_col: str, min_len: int = 5
) -> DataFrame:
    """(id, suffix) — every suffix of the key with length >= ``min_len``
    (all distinct by construction: one per length). Keys shorter than
    ``min_len`` (and NULL keys) emit no rows — a too-short key can't be
    suffix-blocked; exact-key passes handle it, same convention as the
    B1/B2 null-key filter and the q-gram ``len < q`` case."""
    d = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.trim(F.col(key_col)), F.lit("")).alias("__s"),
    )
    arr = F.when(
        F.length("__s") >= min_len,
        F.expr(
            f"transform(sequence(1, length(__s) - {min_len} + 1),"
            f" i -> substring(__s, i))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select("id", F.explode(arr).alias("suffix"))


def suffix_df_profile(keys: DataFrame) -> DataFrame:
    """(suffix, df) doc-frequency profile of a suffix_keys output —
    what a blocking designer reads to pick ``max_block_size``."""
    return keys.groupBy("suffix").agg(F.count(F.lit(1)).alias("df"))


def suffix_candidates(
    df: DataFrame,
    id_col: str,
    key_col: str,
    min_len: int = 5,
    max_block_size: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing at least one suffix of length >=
    ``min_len`` of the key. ``max_block_size`` drops suffixes whose
    doc-frequency exceeds it before the self-join, bounding per-suffix
    join fan-out at C(max_block_size, 2). Output: (id_l, id_r,
    n_common, max_suffix_len), id_l < id_r — n_common counts shared
    kept suffixes and max_suffix_len is the longest shared one, both
    useful ranking signals downstream (a 30-char shared suffix is a
    much stronger match hint than a 5-char one)."""
    # localCheckpoint (eager): the kept key table feeds BOTH self-join
    # sides; unmaterialized, each side re-runs the suffix explode (+
    # the df-profile join). Slim (id, suffix) rows bounded by the
    # sliced key basis.
    keys = suffix_keys(df, id_col, key_col, min_len)
    if max_block_size is not None:
        freq = suffix_df_profile(keys)
        keys = keys.join(
            freq.where(F.col("df") <= max_block_size).select("suffix"),
            "suffix",
        )
    keys = keys.localCheckpoint(eager=True)
    return (
        blocking.self_pair_join(keys, "id", on="suffix")
        .groupBy("id_l", "id_r")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max(F.length("suffix")).cast("int").alias("max_suffix_len"),
        )
    )
