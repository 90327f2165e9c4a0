"""Character q-gram count-vector cosine comparator (beyond reference
— SURVEY §2.12; the `recordlinkage` library's classic `qgram`/`cosine`
string methods, i.e. cosine over RAW q-gram count vectors). The
char-level complement to the token-level TF-IDF cosine (operators/
tfidf.py): typo-robust like the q-gram Jaccard blocking pass but
graded (a similarity in [0,1], not a candidate set), and cheaper than
edit-distance kernels because it never aligns — two strings compare
through their gram multisets alone.

Same sparse relational formulation as tfidf.py — 100% native
operators, no UDF, no dense materialization:

  cnt:    explode gram positions → groupBy(id, gram).count()
  norm2:  groupBy(id) Σ cnt²            (integer)
  dot:    pairs ⋈ cnt_l ⋈ cnt_r on (pair, shared gram) → Σ cnt_l·cnt_r
                                         (integer)
  cos:    dot / sqrt(norm2_l · norm2_r)  (the ONLY float op, + round)

Numeric discipline: counts, dots and squared norms are all integers;
the single final sqrt/division/round is bit-deterministic IEEE, so the
comparator is value-exact across engines (the oracle recipe proven by
rl_pair_features/pair_tfidf_cosine). Scale shape: callers pass a
bounded key slice (same discipline as the q-gram/suffix blocking
bases); one (id, gram) aggregate, one pair⋈gram join that shuffles on
the high-cardinality gram key, one pair aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking


def qgram_counts(
    records: DataFrame, id_col: str, key_col: str, q: int = 3
) -> DataFrame:
    """(id, gram, cnt) — q-gram multiset counts of the key. NULL keys
    and keys shorter than q emit no rows (their count vector is the
    zero vector; cosine against anything is defined 0 downstream)."""
    d = records.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.trim(F.col(key_col)), F.lit("")).alias("__s"),
    )
    arr = F.when(
        F.length("__s") >= q,
        F.expr(
            f"transform(sequence(1, length(__s) - {q} + 1),"
            f" i -> substring(__s, i, {q}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("id", F.explode(arr).alias("gram"))
        .groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qgram_cosine_for_pairs(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    key_col: str,
    q: int = 3,
    out_col: str = "qgram_cosine",
) -> DataFrame:
    """pairs(id_l, id_r) → same plus ``out_col``: cosine of the two
    raw q-gram count vectors, rounded to 6 dp. Pairs sharing no gram
    — including either side having a sub-q or NULL key — get 0.0."""
    # localCheckpoint (eager): cnt feeds the norm aggregate and BOTH
    # sides of the dot-product join; pairs feeds the dot join and the
    # final assembly. Unmaterialized, every reference re-executes the
    # gram explode / pair self-join chain (16 parquet scans of the
    # same table in the r05 plan). Both are slim integer-keyed shapes.
    pairs = pairs.localCheckpoint(eager=True)
    cnt = qgram_counts(records, id_col, key_col, q).localCheckpoint(eager=True)
    norm2 = cnt.groupBy("id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("norm2")
    )
    c_l = cnt.withColumnsRenamed({"id": "id_l", "cnt": "cnt_l"})
    c_r = cnt.withColumnsRenamed({"id": "id_r", "cnt": "cnt_r"})
    dots = (
        pairs.join(c_l, "id_l")
        .join(c_r, ["id_r", "gram"])
        .groupBy("id_l", "id_r")
        .agg(F.sum(F.col("cnt_l") * F.col("cnt_r")).alias("dot"))
    )
    return (
        blocking.attach_pair_attributes(
            pairs.join(dots, ["id_l", "id_r"], "left"), norm2, ["norm2"], "id",
            how="left",
        )
        .withColumn(
            out_col,
            F.when(
                F.col("dot").isNotNull(),
                F.round(
                    F.col("dot")
                    / F.sqrt(
                        (F.col("norm2_l") * F.col("norm2_r")).cast("double")
                    ),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .drop("dot", "norm2_l", "norm2_r")
    )
