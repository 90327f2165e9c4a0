"""Q-gram blocking (beyond reference — SURVEY §2.12 blocking family).

The classic fuzzy-blocking scheme (Christen, "Data Matching" ch. 4):
two records become candidates when their blocking keys share at least
``min_common`` distinct character q-grams — tolerant of typos anywhere
in the key, where equality blocking (B1/B2), phonetic keys and
sorted-neighborhood each have a blind spot (soundex only hears the
word head; SN needs the error to not reorder the sort). Complements
rare-token blocking (word-level) at the sub-word level.

Scale shape: grams explode map-side from a bounded key slice (callers
slice the key BEFORE calling, same discipline as rl_monge_elkan);
``max_df`` drops hot grams BEFORE the self-join, so one gram fans out
to at most C(max_df, 2) pairs — the same self-bounding trade as
rare-token blocking and the MinHash band caps: frequent grams carry
no blocking information, and dropping them is a documented recall
trade, not silent truncation (``blocking.block_sizes(keys, "gram")``
over :func:`qgram_keys` shows what a cap drops). The pair aggregate
shuffles on the 16-byte id pair once. Everything is native Catalyst
(sequence/transform/substring — no Python), so the whole plan stays
in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking


def _grams(d: DataFrame, q: int) -> DataFrame:
    """id + one row per DISTINCT q-gram of column __s (pre-trimmed)."""
    arr = F.when(
        F.length("__s") >= q,
        F.expr(
            f"transform(sequence(1, length(__s) - {q} + 1),"
            f" i -> substring(__s, i, {q}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select("id", F.explode(F.array_distinct(arr)).alias("gram"))


def qgram_keys(
    df: DataFrame, id_col: str, key_col: str, q: int = 3
) -> DataFrame:
    """(id, gram) — distinct q-grams per record key. NULL keys emit
    no grams (a record with no key can't be fuzzy-blocked; exact-key
    passes handle it, same convention as the B1/B2 null-key filter)."""
    d = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.trim(F.col(key_col)), F.lit("")).alias("__s"),
    )
    return _grams(d, q)


def qgram_candidates(
    df: DataFrame,
    id_col: str,
    key_col: str,
    q: int = 3,
    min_common: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing >= ``min_common`` distinct q-grams of
    the key, with the overlap fraction n_common / min(|grams_l|,
    |grams_r|) for downstream thresholding. ``max_df`` drops grams
    whose doc-frequency exceeds it before the self-join (n_grams per
    record is counted AFTER the drop, so the fraction stays a true
    fraction of the joinable grams). Output: (id_l, id_r, n_common,
    frac), id_l < id_r."""
    # localCheckpoint (eager): the kept key table feeds the per-record
    # count AND both self-join sides; unmaterialized, each of the
    # three references re-runs the gram explode (+ purge join).
    # Slim (id, gram) rows bounded by the sliced key basis.
    keys = qgram_keys(df, id_col, key_col, q)
    if max_df is not None:
        keys = blocking.purge_blocks(keys, "gram", max_size=max_df)
    keys = keys.localCheckpoint(eager=True)
    ng = keys.groupBy("id").agg(F.count(F.lit(1)).alias("n_g"))
    pairs = (
        blocking.self_pair_join(keys, "id", on="gram")
        .groupBy("id_l", "id_r")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    return (
        blocking.attach_pair_attributes(pairs, ng, ["n_g"], "id")
        .select(
            "id_l",
            "id_r",
            "n_common",
            F.round(
                F.col("n_common") / F.least("n_g_l", "n_g_r"), 6
            ).alias("frac"),
        )
    )
