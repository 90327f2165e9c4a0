"""Dataset profiling (A1/A11 in SURVEY §2.5): per-column null and
distinct statistics — the analyze_ds.py analogue
(/root/reference/scripts/analisi_dataset/analyze_ds.py:12-21) as one
aggregation pass instead of a per-column pandas loop."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row per column: n, nulls, null_pct, distinct, distinct_pct.

    Exact countDistinct: one aggregate per column in a single pass.
    At very wide/huge scale swap in approx_count_distinct.
    """
    cols = cols or df.columns
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
    row = df.agg(*aggs)
    stacked = []
    for c in cols:
        stacked.append(
            row.select(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_nulls"),
                F.round(F.col(f"__null_{c}") / F.col("__n"), 6).alias("null_pct"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                F.round(F.col(f"__dist_{c}") / F.col("__n"), 6).alias("distinct_pct"),
            )
        )
    out = stacked[0]
    for s in stacked[1:]:
        out = out.unionByName(s)
    return out
