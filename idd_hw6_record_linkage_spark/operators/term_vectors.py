"""Corpus-weighted pair comparators over sparse term vectors (C7 and
SURVEY §2.12's comparator family).

A record is a sparse vector of weighted terms, one ``(id, term, v)``
row per term it carries, and a candidate pair scores by the terms both
records share. That is the sparse relational formulation — 100% native
operators, no UDF, no dense materialization, so it scales to billions
of candidate pairs where dense vectors are untenable:

  terms:  explode → (id, term, v)         one table per comparator
  sum:    pairs ⋈ terms_l ⋈ terms_r on (pair, shared term)
          → per-pair aggregate over (v_l, v_r)
  total:  per-record aggregate over v, attached to both pair sides
  score:  the comparator's expression over the sum and both totals;
          0.0 for a pair sharing no term

:func:`_shared_term_score` is that plan, once; each comparator gives
only its term table, sum, total and score:

- :func:`tfidf_cosine_for_pairs` — token tf·idf cosine with sklearn's
  smooth idf ``ln((N+1)/(df+1)) + 1``; the reference uses sklearn's
  TfidfVectorizer inside the Ditto summarizer
  (ditto_light/summarize.py:50-52).
- :func:`qgram_cosine_for_pairs` — cosine of RAW character q-gram count
  vectors (the ``recordlinkage`` library's ``qgram``/``cosine`` string
  methods): typo-robust and graded, and cheaper than edit-distance
  kernels because it never aligns. Counts, dots and squared norms are
  integers; the final sqrt/division/round is the only float op.
- :func:`weighted_jaccard_for_pairs` — IDF-weighted Jaccard
  ``Σ_{A∩B} w / Σ_{A∪B} w`` over distinct tokens
  (Chaudhuri-Ganti-Kaushik ICDE'06), so agreement on rare tokens
  dominates; it generalizes the unweighted jaccard the reference
  configures (record_linkage.py:271-381). Integer micro-weights
  ``round(ln(N/df)·1e6)`` as BIGINT are the one float→integer crossing,
  so every sum is 64-bit integer arithmetic, immune to cross-engine
  float-summation order; one final division + round(6).

Document frequency is ``blocking.block_sizes`` over the distinct
``(id, term)`` rows, and the corpus size ``n_docs`` is the caller's:
no comparator runs a count it was not handed. Every step is a
shuffle-partitioned aggregate or join that AQE can re-plan; the term
join key is high-cardinality, and the weighted comparators demote the
stopword-like hot terms anyway.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking

_SCALE = 1_000_000


def _shared_term_score(
    pairs: DataFrame,
    terms: DataFrame,
    pair_sum: Callable[[Column, Column], Column],
    total: Callable[[Column], Column],
    score: Callable[[Column, Column, Column], Column],
    name: str,
) -> DataFrame:
    """pairs(id_l, id_r) → every input pair plus ``name``:
    ``score(s, t_l, t_r)``, where ``s`` is the aggregate
    ``pair_sum(v_l, v_r)`` over the terms both records carry and
    ``t`` is ``total(v)`` over each record's terms. A pair sharing no
    term (a blank or NULL side, an id without a record) gets 0.0."""
    # localCheckpoint (eager): the pairs feed the shared-term join and
    # the final left join; the terms feed both join sides and the
    # totals. Unmaterialized, every read re-executes the upstream chain
    # (12-22 parquet scans of one table in these plans). Both are slim
    # id-keyed shapes, cheap to pin next to the term-key shuffle.
    pairs = pairs.localCheckpoint(eager=True)
    terms = terms.localCheckpoint(eager=True)
    sums = (
        pairs.join(blocking.pair_side(terms, "id", ["v"], ["term"], "_l"), "id_l")
        .join(blocking.pair_side(terms, "id", ["v"], ["term"], "_r"), ["id_r", "term"])
        .groupBy("id_l", "id_r")
        .agg(pair_sum(F.col("v_l"), F.col("v_r")).alias("s"))
    )
    totals = terms.groupBy("id").agg(total(F.col("v")).alias("t"))
    s = F.col("s")
    return (
        blocking.attach_pair_attributes(
            pairs.join(sums, ["id_l", "id_r"], "left"), totals, ["t"], "id",
            how="left",
        )
        .withColumn(
            name,
            F.when(s.isNotNull(), score(s, F.col("t_l"), F.col("t_r")))
            .otherwise(F.lit(0.0)),
        )
        .drop("s", "t_l", "t_r")
    )


def tfidf_cosine_for_pairs(
    records: DataFrame, pairs: DataFrame, id_col: str, key_col: str, n_docs: int
) -> DataFrame:
    """pairs(id_l, id_r) → same plus ``tfidf_cosine`` (unrounded).

    Terms are the whitespace tokens of the trimmed key, weighted
    tf · idf with idf = ``ln((n_docs+1)/(df+1)) + 1``; the cosine is
    the weight dot product over the two L2 norms."""
    tf = (
        records.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.trim(F.col(key_col)), r"\s+")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = blocking.block_sizes(tf, "term").select(
        "term",
        (F.log(F.lit(float(n_docs + 1)) / (F.col("n") + 1)) + 1.0).alias("idf"),
    )
    terms = tf.join(idf, "term").select(
        "id", "term", (F.col("tf") * F.col("idf")).alias("v")
    )
    return _shared_term_score(
        pairs, terms,
        lambda v_l, v_r: F.sum(v_l * v_r),
        lambda v: F.sqrt(F.sum(v * v)),
        lambda dot, norm_l, norm_r: F.when(
            (norm_l > 0) & (norm_r > 0), dot / (norm_l * norm_r)
        ).otherwise(F.lit(0.0)),
        "tfidf_cosine",
    )


def qgram_cosine_for_pairs(
    records: DataFrame, pairs: DataFrame, id_col: str, key_col: str, q: int = 3
) -> DataFrame:
    """pairs(id_l, id_r) → same plus ``qgram_cosine``: cosine of the two
    raw q-gram count vectors of the trimmed key, rounded to 6 dp. A NULL
    key or one shorter than q is the zero vector and scores 0.0."""
    d = records.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.trim(F.col(key_col)), F.lit("")).alias("__s"),
    )
    grams = F.when(
        F.length("__s") >= q,
        F.expr(
            f"transform(sequence(1, length(__s) - {q} + 1),"
            f" i -> substring(__s, i, {q}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    terms = (
        d.select("id", F.explode(grams).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return _shared_term_score(
        pairs, terms,
        lambda v_l, v_r: F.sum(v_l * v_r),
        lambda v: F.sum(v * v),
        lambda dot, n2_l, n2_r: F.round(
            dot / F.sqrt((n2_l * n2_r).cast("double")), 6
        ),
        "qgram_cosine",
    )


def weighted_jaccard_for_pairs(
    records: DataFrame, pairs: DataFrame, id_col: str, key_col: str, n_docs: int
) -> DataFrame:
    """pairs(id_l, id_r) → same plus ``w_jaccard`` ∈ [0, 1] (round 6).

    Terms are the DISTINCT space-split words of the key (set semantics,
    empties dropped), weighted ``round(ln(n_docs / df) · 1e6)``. A pair
    whose union weight is 0 — each of its tokens in every document, so
    idf 0 — scores 0.0, like a pair sharing no token."""
    toks = (
        records.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.coalesce(F.col(key_col), F.lit("")), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    w = blocking.block_sizes(toks, "term").select(
        "term",
        F.round(F.log(F.lit(float(n_docs)) / F.col("n").cast("double")) * _SCALE)
        .cast("long")
        .alias("v"),
    )
    return _shared_term_score(
        pairs, toks.join(w, "term"),
        lambda v_l, v_r: F.sum(v_l),
        F.sum,
        lambda inter, wsum_l, wsum_r: F.when(
            wsum_l + wsum_r - inter > 0,
            F.round(inter.cast("double") / (wsum_l + wsum_r - inter).cast("double"), 6),
        ).otherwise(F.lit(0.0)),
        "w_jaccard",
    )
