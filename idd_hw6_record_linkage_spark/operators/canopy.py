"""Canopy blocking (beyond reference — SURVEY §2.12 blocking family).

McCallum, Nigam & Ungar (KDD 2000): group records into overlapping
CANOPIES with a cheap similarity before any expensive comparator
runs; a record may belong to several canopies (loose threshold T1),
and downstream scoring only compares pairs sharing one. The classic
sequential algorithm picks centers greedily from a shuffled queue —
inherently serial, so every distributed implementation (e.g. Mahout's
MapReduce canopy) replaces the queue with a parallel center-selection
rule. Here centers are a DETERMINISTIC HASH-FATE SAMPLE of the
records (``hash_fate(id, salt="canopy") < center_rate`` — the same
md5 fate basis as operators.sampling, so the center set is
reproducible across engines, repartitioning, and incremental
appends), and assignment is one inverted-index token join: record ↔
center pairs sharing a token, scored by set Jaccard over the capped
token sets.

Semantics (pinned, engine-reproducible):
- token basis: the caller's array column, deduplicated, empty/NULL
  tokens dropped; tokens whose document frequency exceeds ``max_df``
  are purged (``blocking.purge_blocks``) BEFORE sizes and the join
  (hot stopword tokens carry no canopy information and would
  quadratically dominate the join — the same self-bounding trade as
  q-gram blocking's ``max_df``);
- membership: record d is in center c's canopy iff
  jaccard(toks(d), toks(c)) >= t1 over the capped sets; ``is_tight``
  flags jaccard >= t2 (the classic T2 inner threshold — in sequential
  canopy a tight member leaves the queue; in the fate-sampled variant
  it is a per-row signal for downstream pruning);
- every record lands somewhere: records in no canopy (including
  zero-token records) become singletons (canopy_id = own id,
  jaccard 1.0, tight).

Scale shape: one groupBy for token df, one for set sizes, one
inverted-index equi-join on the token (fan-out per token bounded by
max_df × expected centers-per-token = max_df² × center_rate), one
pair aggregate — all hash shuffles on small keys, no UDF, no driver
loop, whole-stage codegen end to end. center_rate tunes the recall /
cost trade exactly like the sequential algorithm's T1 queue draw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking
from idd_hw6_record_linkage_spark.operators.sampling import hash_fate

__all__ = ["canopy_blocks"]


def canopy_blocks(
    df: DataFrame,
    id_col: str,
    token_col: str,
    center_rate: float = 0.2,
    t1: float = 0.25,
    t2: float = 0.7,
    max_df: int | None = None,
) -> DataFrame:
    """(url, canopy_id, jaccard, is_tight) canopy membership — see
    module docstring for the pinned semantics. ``df`` must carry
    ``id_col`` (unique, non-null) and ``token_col`` (array<string>).
    ``jaccard`` is rounded to 6 places for output only; thresholds
    compare the unrounded double (identical on any IEEE engine given
    identical integer overlap/size inputs)."""
    if not 0.0 < center_rate <= 1.0:
        raise ValueError(f"center_rate out of (0,1]: {center_rate}")
    if not 0.0 <= t2 <= 1.0 or not 0.0 <= t1 <= t2:
        raise ValueError(f"need 0 <= t1 <= t2 <= 1, got {t1}, {t2}")

    ids = df.select(F.col(id_col).alias("id"))
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.col(token_col))).alias("token"),
    ).where(F.col("token").isNotNull() & (F.col("token") != ""))
    if max_df is not None:
        toks = blocking.purge_blocks(toks, "token", max_size=max_df)
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))

    centers = toks.join(
        ids.where(hash_fate(F.col("id"), salt="canopy") < center_rate), "id"
    )

    # record ↔ center pairs: id_l the record, id_r the center
    overlap = (
        blocking.cross_pair_join(toks, centers, "id", on="token")
        .groupBy("id_l", "id_r")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    jac = (
        blocking.attach_pair_attributes(overlap, sizes, ["n"], "id")
        .withColumn(
            "jaccard",
            F.col("ov") / (F.col("n_l") + F.col("n_r") - F.col("ov")),
        )
        .where(F.col("jaccard") >= t1)
    )
    members = jac.select(
        F.col("id_l").alias("url"),
        F.col("id_r").alias("canopy_id"),
        F.round("jaccard", 6).alias("jaccard"),
        (F.col("jaccard") >= t2).alias("is_tight"),
    )
    singles = (
        ids.join(members.select(F.col("url").alias("id")), "id", "left_anti")
        .select(
            F.col("id").alias("url"),
            F.col("id").alias("canopy_id"),
            F.lit(1.0).alias("jaccard"),
            F.lit(True).alias("is_tight"),
        )
    )
    return members.unionByName(singles)
