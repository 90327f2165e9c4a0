"""Sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the
classic alternative to equality blocking: sort all records by a
blocking key and emit every pair within a sliding window of ``w``
positions. Catches near-misses that hash/equality blocking drops
(typo in the block key → different block → pair lost) at a bounded
candidate cost of ~w·n pairs. Classic practice runs several passes
with different keys and unions the pairs (`unionByName` + `dropDuplicates`).

Scale shape — the global sort position is NOT a single unpartitioned
window (that serializes the corpus through one task, the same trap
`sampling.pack_shards` documents). Two-pass distributed prefix count:

1. ``repartitionByRange(key, id)`` gives a total order ACROSS
   partitions (the composite id tiebreak means even a mega-key — every
   record sharing one key value — is SPLIT across partitions, so no
   hot key serializes); per-partition row counts (numPartitions
   scalars) come to the driver once and cumulate into offsets.
2. ``row_number`` over a window partitioned BY partition id (parallel)
   plus the partition's offset is the exact global position.

The ranged (id, key, pid) projection is PINNED with an eager
``localCheckpoint`` before the counts collect. This is load-bearing,
not an optimization: re-executing ``repartitionByRange`` in a later
job does NOT reproduce the partition assignment (measured: a 200k-row
parquet scan at 16 shuffle partitions re-sampled different range
boundaries between the counts job and the window job, yielding 5,043
duplicate positions and max pos > n-1 — the recompute-is-deterministic
assumption this module originally made is empirically false). The
pinned frame is a 2-narrow-column projection, NOT the corpus — at
10M rows it is ~hundreds of MB, far below the corpus-staging heap
hazard scripts/corpus_ops_smoke.py documents. Local-checkpoint storage
is non-replicated: on a cluster, an executor loss during the
consuming jobs fails the query (retry-level concern, not a
correctness one).
Neighbor pairs are then an EQUI-join: each row exploded to its w-1
successor positions joins the position column directly — no range
join, no skew (positions are unique by construction, asserted by the
multi-partition scale test).

Rows with NULL sort keys cannot be ordered and are dropped from the
neighborhood (callers wanting them must impute a key first) — stated
contract, tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["global_sort_positions", "sorted_neighborhood_pairs"]


def global_sort_positions(
    df: DataFrame,
    id_col: str,
    key_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, key, pos): pos is the exact 0-based rank of the row in the
    global (key, id) order, computed without any global window."""
    spark = df.sparkSession
    parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = (
        df.where(F.col(key_col).isNotNull())
        .select(id_col, key_col)
        .repartitionByRange(parts, F.col(key_col), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        # Pin the partition assignment: every consumer below (counts,
        # window, both pair-join sides) must see the SAME row->pid map,
        # and a re-executed range exchange does not guarantee that
        # (see module docstring — measured duplicate positions).
        .localCheckpoint(eager=True)
    )
    counts = ranged.groupBy("__pid").count().orderBy("__pid").collect()
    offsets, run = {}, 0
    for r in counts:
        offsets[r["__pid"]] = run
        run += r["count"]
    if not offsets:
        return ranged.select(
            id_col, key_col, F.lit(0).cast("long").alias("pos")
        ).where(F.lit(False))
    off_df = F.broadcast(
        spark.createDataFrame(list(offsets.items()), "__pid int, __off long")
    )
    w = Window.partitionBy("__pid").orderBy(key_col, id_col)
    return (
        ranged.join(off_df, "__pid")
        .withColumn(
            "pos",
            (F.row_number().over(w) - 1 + F.col("__off")).cast("long"),
        )
        .drop("__pid", "__off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_l, key_l, id_r, key_r, pos_dist) for every
    two records within ``window`` positions of each other in the
    global (key, id) sort — id_l is the earlier record in sort order;
    each unordered pair appears exactly once (positions are unique)."""
    if window < 2:
        raise ValueError(f"window must be >= 2 positions: {window}")
    # localCheckpoint (eager): both join sides read the position table,
    # and each unmaterialized reference would re-run the offsets join +
    # per-partition sort window. Slim (id, key, pos) rows.
    pos = global_sort_positions(
        df, id_col, key_col, num_partitions
    ).localCheckpoint(eager=True)
    left = pos.select(
        F.col(id_col).alias("id_l"),
        F.col(key_col).alias("key_l"),
        F.col("pos").alias("__pos_l"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + window - 1)
        ).alias("__pos_r"),
    )
    right = pos.select(
        F.col(id_col).alias("id_r"),
        F.col(key_col).alias("key_r"),
        F.col("pos").alias("__pos_r"),
    )
    return (
        left.join(right, "__pos_r")
        .select(
            "id_l",
            "key_l",
            "id_r",
            "key_r",
            (F.col("__pos_r") - F.col("__pos_l")).alias("pos_dist"),
        )
    )
