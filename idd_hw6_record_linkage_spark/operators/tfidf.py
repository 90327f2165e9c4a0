"""TF-IDF cosine similarity for candidate pairs (C7, SURVEY §2.6).

The reference uses sklearn's TfidfVectorizer inside the Ditto
summarizer (ditto_light/summarize.py:50-52); as a pairwise comparator
over billions of candidate pairs, dense vectors are untenable. This is
the sparse relational formulation — 100% native operators, no UDF, no
dense materialization:

  tf:    explode tokens → groupBy(id, token).count()
  idf:   groupBy(token) document frequency → ln((N+1)/(df+1)) + 1
         (sklearn smooth_idf convention)
  w:     tf * idf;  norm(id) = sqrt(Σ w²)
  dot:   pairs ⋈ w_l ⋈ w_r on (pair, shared token) → Σ w_l·w_r
  cos:   dot / (norm_l · norm_r)

Every step is a shuffle-partitioned aggregation/join that AQE can
re-plan; the token join key is naturally high-cardinality (no skew
beyond stopwords, which the IDF weight demotes anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking


def token_weights(
    records: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Returns (weights(id, token, w), norms(id, norm))."""
    toks = records.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    n_docs = records.select(id_col).distinct().count()
    df_ = tf.groupBy("token").agg(F.countDistinct("id").alias("df"))
    idf = df_.select(
        "token",
        (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0).alias("idf"),
    )
    weights = tf.join(idf, "token").select(
        "id", "token", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = weights.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    return weights, norms


def tfidf_cosine_for_pairs(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str = "url",
    text_col: str = "text_clean",
    out_col: str = "tfidf_cosine",
) -> DataFrame:
    """pairs(id_l, id_r) → same plus a `out_col` double column.

    Pairs whose texts share no token get 0.0 (left join + coalesce).
    """
    weights, norms = token_weights(records, id_col, text_col)
    w_l = weights.withColumnsRenamed({"id": "id_l", "w": "w_l"})
    w_r = weights.withColumnsRenamed({"id": "id_r", "w": "w_r"})
    dots = (
        pairs.join(w_l, "id_l")
        .join(w_r, ["id_r", "token"])
        .groupBy("id_l", "id_r")
        .agg(F.sum(F.col("w_l") * F.col("w_r")).alias("dot"))
    )
    return (
        blocking.attach_pair_attributes(
            pairs.join(dots, ["id_l", "id_r"], "left"), norms, ["norm"], "id",
            how="left",
        )
        .withColumn(
            out_col,
            F.when(
                F.col("dot").isNotNull()
                & (F.col("norm_l") > 0)
                & (F.col("norm_r") > 0),
                F.col("dot") / (F.col("norm_l") * F.col("norm_r")),
            ).otherwise(F.lit(0.0)),
        )
        .drop("dot", "norm_l", "norm_r")
    )
