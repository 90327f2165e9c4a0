"""IDF-weighted Jaccard token-set comparator (beyond reference —
SURVEY §2.12 comparator family).

Plain Jaccard (C6, functions/similarity.py) treats "the" and a rare
model code as equally informative; the weighted form
(Chaudhuri-Ganti-Kaushik ICDE'06 and the SSJoin literature's standard
weighted variant) scores

    wjac(A, B) = Σ_{t ∈ A∩B} w(t) / Σ_{t ∈ A∪B} w(t),   w(t) = idf(t)

so agreement on rare tokens dominates — the set-similarity analogue
of the TF-IDF cosine (operators/tfidf.py) and soft-TF-IDF
(functions/soft_tfidf.py), but a pure set measure: no norms, no inner
comparator, monotone under the same prefix-filter framework as
`setsim_join` if a join variant is ever needed.

Numeric discipline — integer micro-weights: the per-token weight is
``round(ln(N / df) · 1e6)`` cast to BIGINT at the ONE place a float
exists. Both engines round the same double to the same integer (the
only cross-engine risk is a last-ulp ln() divergence exactly at a
.5 boundary — per-token, vanishingly rare, and the value-exact oracle
would catch it), and every downstream sum is 64-bit integer
arithmetic, immune to the float-summation-order divergence that
plagues cross-engine Σ-of-doubles. One final division + round(6).

Scale shape (all native, zero UDF): one distinct on (id, token), one
token-df aggregate, one per-id weight-sum aggregate, one
pair ⋈ token ⋈ token join shuffling on the high-cardinality token key
for the intersection sum, map-side final arithmetic. The df table is
joined by shuffle, never broadcast — token vocabularies grow with the
corpus.

Convention: tokens are the DISTINCT whitespace-split words of the key
(set semantics, empties dropped). Pairs whose union weight is 0 —
both sides empty, or every token appearing in every document
(idf = 0) — score 0.0, as do pairs with an empty intersection.

Reference anchor: record_linkage.py:271-381 configures the unweighted
jaccard comparator this generalizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking

_SCALE = 1_000_000


def _tokens(records: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """(id, token) DISTINCT — set semantics, empty tokens dropped."""
    return (
        records.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.coalesce(F.col(key_col), F.lit("")), " ")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )


def token_micro_idf(tokens: DataFrame, n_docs: int) -> DataFrame:
    """(token, w) with w = round(ln(n_docs / df) · 1e6) as BIGINT —
    the single float→integer crossing; see module docstring."""
    return tokens.groupBy("token").agg(
        F.round(
            F.log(F.lit(float(n_docs)) / F.count(F.lit(1)).cast("double"))
            * _SCALE
        )
        .cast("long")
        .alias("w")
    )


def weighted_jaccard_for_pairs(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    key_col: str,
    n_docs: int,
    out_col: str = "w_jaccard",
) -> DataFrame:
    """pairs(id_l, id_r) → same plus ``out_col`` ∈ [0, 1] (round 6).

    ``n_docs`` is the documentfrequency denominator — pass the count
    of the records table (callers already know it; taking it as an
    argument keeps this a pure plan builder with no hidden action).
    """
    # localCheckpoint (eager): toks feeds the df aggregate, the weight
    # join AND the right intersection side; pairs feeds the
    # intersection join and the final assembly. Unmaterialized, each
    # reference re-executes the whole upstream chain (the r05 plan
    # held 22 parquet scans of the same table). Both tables are the
    # slim (id, token) / (id_l, id_r) shapes — cheap to pin at any
    # scale next to the token-key shuffle they feed.
    pairs = pairs.localCheckpoint(eager=True)
    toks = _tokens(records, id_col, key_col).localCheckpoint(eager=True)
    w = token_micro_idf(toks, n_docs)
    tw = toks.join(w, "token")

    sums = tw.groupBy("id").agg(F.sum("w").alias("wsum"))

    t_l = tw.withColumnsRenamed({"id": "id_l"})
    t_r = toks.withColumnsRenamed({"id": "id_r"})
    inter = (
        pairs.join(t_l, "id_l")
        .join(t_r, ["id_r", "token"])
        .groupBy("id_l", "id_r")
        .agg(F.sum("w").alias("inter_w"))
    )

    union_w = (
        F.coalesce("wsum_l", F.lit(0))
        + F.coalesce("wsum_r", F.lit(0))
        - F.coalesce("inter_w", F.lit(0))
    )
    return (
        blocking.attach_pair_attributes(
            pairs.join(inter, ["id_l", "id_r"], "left"), sums, ["wsum"], "id",
            how="left",
        )
        .withColumn(
            out_col,
            F.when(
                F.col("inter_w").isNotNull() & (union_w > 0),
                F.round(
                    F.col("inter_w").cast("double") / union_w.cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .drop("inter_w", "wsum_l", "wsum_r")
    )
