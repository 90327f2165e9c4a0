"""Driver-contract queries: SURVEY §2 operator slices phrased over the
driver-provided parquet tables, each with a DuckDB oracle.

Every query is a pure function (spark, sf_dir) -> DataFrame; ORACLES
holds the equivalent ANSI SQL for DuckDB over the same tables. Column
names/aliases and numeric types are kept identical on both sides
(doubles rounded to 6 via round(x,6), counts cast to BIGINT) so the
driver's order-insensitive value hash matches.

Operator coverage mapping (SURVEY §2):
- blocking key gen (F4/F6/F7):       rl_block_keys
- block join / candidates (J3):      rl_candidate_pairs
- block-size stats + histogram (A2): rl_block_stats, rl_block_histogram
- reduction ratio (A3):              rl_reduction_ratio
- top-k blocks (A7/O1):              rl_top_blocks
- pair feature matrix (C3/C5/C6):    rl_pair_features
- threshold match (M3):              rl_match_edges
- P/R/F1 semi/anti joins (A5):       rl_eval_metrics
- connected components:              rl_clusters (recursive-CTE oracle)
- feature means + impossible-match
  audit (A6/A10):                    rl_audit_metrics
- TF-IDF cosine comparator (C7):     pair_tfidf_cosine
- column profile (A1):               profile_documents
- dedup family:                      dedup_exact, dedup_ngram_jaccard,
                                     dedup_embedding_cosine,
                                     dedup_minhash_lsh, dedup_simhash,
                                     dedup_doc_clusters,
                                     dedup_cluster_stats,
                                     dedup_minhash_lsh_prod (rows-only,
                                     gated by dedup_minhash_capped_recall),
                                     dedup_lines (boilerplate lines)
- PII redaction:                     pii_redact
- corpus sampling / shard packing:   corpus_sample, corpus_pack_shards
- duplicated-span (exact substring): text_span_dup
- benchmark decontamination:         corpus_decontaminate
- unigram-LM cross-entropy signal:   lm_cross_entropy
- Fellegi-Sunter EM linkage:         rl_fs_match_weights
- sorted-neighborhood blocking:      rl_sorted_neighborhood
- meta-blocking (CBS graph + WNP):   rl_meta_blocking
- suffix-array blocking:             rl_suffix_blocks
- exact Jaccard setsim join (PPJoin): rl_setsim_join
- q-gram count-vector cosine:        rl_qgram_cosine
- 1:1 mutual-best-match resolution:  rl_one_to_one_matches
- survivorship / golden records:     rl_golden_records
- blocking-scheme RR/PC bake-off:    rl_blocking_scheme_eval
- FS TF-adjusted weights + bands:    rl_fs_tf_bands
- cluster density/bridge audit:      rl_cluster_audit
- B-cubed cluster evaluation:        rl_bcubed_eval
- Adjusted Rand Index:               rl_cluster_ari
- V-measure + VI (entropy metrics):  rl_cluster_vmeasure
- average precision (PR curve):      rl_score_ap
- match-graph triangle support:      rl_edge_triangles
- bridge-safe precision clustering:  rl_clusters_bridge_safe
- soft-TF-IDF hybrid comparator:     rl_soft_tfidf
- Smith-Waterman local alignment:    rl_sw_gate (invariant tripwire)
- batch incremental attachment:      rl_attach_increment
- threshold operating-point sweep:   rl_threshold_sweep
- trainable quality classifier:      quality_model_gate (tripwire)
- active-learning loop (M4):         rl_active_learning_gate (tripwire)
- compression-ratio quality signal:  text_compression_gate (tripwire)
- corpus vocabulary top-k:           corpus_vocab_topk
- as-of join (temporal):             events_asof_signup (backward),
                                     events_asof_forward,
                                     events_asof_nearest (+tolerance),
                                     events_asof_skew (mega-key via
                                     two-pass coarse-bucket plan)
- range join (point-in-interval):    events_range_join
- exact quantiles / ROLLUP:          events_value_quantiles,
                                     tpch_rollup_pricing
- sliding range-frame window agg:    events_moving_avg
- pivot / unpivot / HLL sketch gate: events_pivot, events_unpivot,
                                     events_approx_distinct_gate
- text analysis:                     text_token_count,
                                     text_token_count_bpe,
                                     text_stopword_ratio, text_quality,
                                     text_repetition,
                                     text_lang_id, text_fingerprint
- ANN:                               ann_topk_brute
- joins/aggs at TPC-H shape (J1/A6): tpch_agg_pricing, join_topk_customers,
                                     semi_anti_customers
Rows-only checks (engine-specific hashing no SQL engine reproduces):
ann_topk_lsh (hyperplane buckets; recall oracle-bounded via
ann_lsh_recall) and dedup_minhash_lsh_prod (xxhash64 base; recall +
bucket bound oracle-gated via dedup_minhash_capped_recall). dedup_simhash and dedup_minhash_lsh
ARE value-exact: both use md5-derived hashes that reproduce in DuckDB
(md5_number_upper), simhash's 4×16-bit rotated-prefix bucketing is
complete for hamming ≤ 3, and minhash band collision is slot-tuple
equality over an integer universal-hash family.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.functions.normalize import normalize_string_expr
from idd_hw6_record_linkage_spark.functions import text_analysis as TA
from idd_hw6_record_linkage_spark.functions.similarity import sim_cosine_arrays
from idd_hw6_record_linkage_spark.operators import blocking, dedup, ann
from idd_hw6_record_linkage_spark.operators.clustering import clusters_from_edges


def _sql_str_list(words) -> str:
    """SQL list literal with per-word quote escaping — interpolating
    Python's list repr would silently produce invalid SQL the moment a
    word contains an apostrophe."""
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


def _scan(spark: SparkSession, sf_dir: str, table: str,
          widen: bool = True) -> DataFrame:
    """Read a driver table, widening a partition-starved scan.

    The sf0.001–0.1 test parquets are single-row-group files, which
    Spark reads as ONE input partition — every CPU-bound stage
    downstream (minhash signatures over shingle arrays, simhash,
    comparator evaluation) then runs on one core of 32. Measured at
    sf0.1: dedup_minhash_lsh 20.9 s → 2.4 s, rl_pair_features 6.3 s →
    1.2 s after widening. At production scale a 100-TB table scans as
    tens of thousands of partitions, the condition never fires, and no
    shuffle is added — this is a small-file testbed fix, not a
    production repartition.

    ``widen=False`` for consumers whose FIRST operation already
    shuffles (groupBy/join aggregations): there the map phase is
    trivial and pre-widening would only add an exchange in front of
    the one the query needs anyway (measured: tpch_agg_pricing
    0.6 s → 1.5 s with widening — the only headline query it hurt).
    """
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    if widen:
        target = spark.sparkContext.defaultParallelism
        if _scan_partitions(path) < target:
            df = df.repartition(target)
    return df


def _scan_partitions(path: str) -> int:
    """Approximate scan partition count from file bytes / 128 MB —
    the split arithmetic Spark applies at its default
    ``spark.sql.files.maxPartitionBytes``. The previous
    ``df.rdd.getNumPartitions()`` answer forced a full physical
    planning pass per call (~180 ms × every _scan of every query —
    seconds of pure plan-compilation across a bench run) to learn a
    number that only gates the widen-vs-not decision. Unreadable
    paths fall through to 1 (widen — the safe side for the
    single-row-group testbed files this exists for)."""
    import os

    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            size = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )
    except OSError:
        return 1
    return max(1, size // (128 << 20))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan(spark, sf_dir, "embeddings")


def _text_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-text truth groups for the cluster metrics: (url, truth_id)
    with truth_id = md5(text); a NULL-text doc is its own singleton."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.when(
            F.col("text").isNull(),
            F.concat(F.lit("null:"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.md5("text"))
        .alias("truth_id"),
    )


def _block_key() -> F.Column:
    """source normalized per blocking_B2 normalize_string + '_' + lang;
    NULL when either part is NULL (explicit guard on BOTH the Spark and
    the DuckDB side — concat_ws would silently skip a NULL part while
    SQL concat keeps the separator, diverging on null-bearing data)."""
    src = normalize_string_expr("source")
    return F.when(
        src.isNotNull() & F.col("lang").isNotNull(),
        F.concat(src, F.lit("_"), F.col("lang")),
    )


def _snippet(width: int) -> F.Column:
    """The first ``width`` chars of lower(trim(text)) with everything
    outside [a-z0-9 ] removed: a pure-ASCII basis, so char-indexed
    substring/length agree with the DuckDB oracles by construction."""
    return F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", ""),
        1,
        width,
    )


def _stage(df: DataFrame) -> DataFrame:
    """Materialize a projected table through one round-robin exchange.

    The rule: stage a table only when (1) a projected column reads the
    whole ``text`` value (a regex replace or split, or a ``trim``
    before a prefix cut) and (2) that column is first read ABOVE a
    blocked pair join. Whole-stage codegen defers a projection to its
    point of use, so on the probe side of a BroadcastHashJoin the
    full-text regex runs once per JOINED ROW (jstack at sf0.1:
    java.util.regex.Matcher under the Arrow writer loop); after the
    exchange it has run once per record. A consumer that explodes or
    aggregates first already runs it once per record, and a bounded
    prefix or short column is cheap, so there the exchange only adds
    a shuffle. ``_scan`` already widens testbed reads to
    ``defaultParallelism``: the win is materialization, not task
    count. local[4], sf0.1, staged vs not: rl_jaro_duck 2.32 vs 7.05 s,
    rl_nw_unit 2.87 vs 6.93, rl_sw_unit 3.83 vs 7.66, rl_editex_unit
    2.88 vs 6.68, rl_bag_distance 4.20 vs 7.61, rl_editex_gate 7.55 vs
    11.00 (min of 3), rl_monge_elkan 4.03 vs 4.49 (median of 7 pairs);
    not staged (median of 7 pairs, staged → not): rl_soft_tfidf 7.65 →
    6.77, rl_suffix_blocks 1.08 → 1.02, rl_qgram_cosine 3.03 → 3.01,
    rl_mra 2.78 → 2.77, rl_sw_gate 3.13 → 3.20, rl_edit_join 1.17 →
    1.20, rl_qgram_blocks 1.08 → 1.05."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def _snippet_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged ``(doc_id, s, block_key)`` table of the blocked
    string-comparator queries: ``s`` is the 40-char ASCII snippet
    (``''`` for NULL text)."""
    return _stage(_docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(_snippet(40), F.lit("")).alias("s"),
        _block_key().alias("block_key"),
    ))


_SRC_NORM_SQL = "nullif(regexp_replace(lower(trim(source)), '[^a-z0-9]', '', 'g'), '')"
_BLOCK_KEY_SQL = (
    f"(CASE WHEN {_SRC_NORM_SQL} IS NULL OR lang IS NULL THEN NULL "
    f"ELSE {_SRC_NORM_SQL} || '_' || lang END)"
)


# --- blocking family ---------------------------------------------------------


def rl_block_keys(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", _block_key().alias("block_key")
    )


SQL_RL_BLOCK_KEYS = f"SELECT doc_id, {_BLOCK_KEY_SQL} AS block_key FROM documents"


def rl_block_stats(spark, sf_dir):
    return (
        rl_block_keys(spark, sf_dir)
        .groupBy("block_key")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


SQL_RL_BLOCK_STATS = (
    f"SELECT {_BLOCK_KEY_SQL} AS block_key, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY 1"
)


def rl_block_histogram(spark, sf_dir):
    sizes = rl_block_stats(spark, sf_dir)
    bucket = (
        F.when(F.col("n_docs") == 1, "1")
        .when(F.col("n_docs").between(2, 5), "2-5")
        .when(F.col("n_docs").between(6, 10), "6-10")
        .when(F.col("n_docs").between(11, 50), "11-50")
        .otherwise("50+")
    )
    return (
        sizes.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_blocks"))
    )


SQL_RL_BLOCK_HISTOGRAM = f"""
WITH sizes AS (
  SELECT {_BLOCK_KEY_SQL} AS block_key, count(*) AS n_docs
  FROM documents GROUP BY 1
)
SELECT CASE WHEN n_docs = 1 THEN '1'
            WHEN n_docs BETWEEN 2 AND 5 THEN '2-5'
            WHEN n_docs BETWEEN 6 AND 10 THEN '6-10'
            WHEN n_docs BETWEEN 11 AND 50 THEN '11-50'
            ELSE '50+' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_blocks
FROM sizes GROUP BY 1
"""


def rl_reduction_ratio(spark, sf_dir):
    sizes = rl_block_stats(spark, sf_dir)
    n = _docs(spark, sf_dir).count()
    return sizes.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.expr("n_docs * (n_docs - 1) / 2")).cast("long").alias("candidate_pairs"),
        F.lit(n * (n - 1) // 2).cast("long").alias("total_pairs"),
        F.round(
            1.0 - F.sum(F.expr("n_docs * (n_docs - 1) / 2")) / (n * (n - 1) / 2.0), 6
        ).alias("reduction_ratio"),
    )


SQL_RL_REDUCTION_RATIO = f"""
WITH sizes AS (
  SELECT {_BLOCK_KEY_SQL} AS block_key, count(*) AS n_docs
  FROM documents GROUP BY 1
), tot AS (SELECT count(*) AS n FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(n_docs * (n_docs - 1) / 2) AS BIGINT) AS candidate_pairs,
       CAST((SELECT n * (n - 1) // 2 FROM tot) AS BIGINT) AS total_pairs,
       CAST(round(1.0 - sum(n_docs * (n_docs - 1) / 2)
                  / ((SELECT n FROM tot) * ((SELECT n FROM tot) - 1) / 2.0), 6)
            AS DOUBLE) AS reduction_ratio
FROM sizes
"""


def rl_top_blocks(spark, sf_dir):
    return (
        rl_block_stats(spark, sf_dir)
        .orderBy(F.desc("n_docs"), F.asc("block_key"))
        .limit(10)
    )


SQL_RL_TOP_BLOCKS = (
    f"SELECT {_BLOCK_KEY_SQL} AS block_key, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY 1 ORDER BY n_docs DESC, block_key ASC LIMIT 10"
)


def rl_candidate_pairs(spark, sf_dir):
    keys = blocking.key_table(_docs(spark, sf_dir), "doc_id", _block_key(), "b1")
    return blocking.self_pair_join(keys, "id").select("id_l", "id_r", "block_key")


SQL_RL_CANDIDATE_PAIRS = f"""
WITH k AS (
  SELECT doc_id, {_BLOCK_KEY_SQL} AS block_key FROM documents
  WHERE {_BLOCK_KEY_SQL} IS NOT NULL
)
SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.block_key AS block_key
FROM k a JOIN k b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
"""

def _pair_feature_docs(spark, sf_dir):
    """The staged comparator basis of rl_pair_features, rl_pair_token_sims,
    the match rules and the cross-source scorer: 40-char prefix, distinct
    token set, n_chars, block key. Token arrays are hashed to int64: the
    pair join ships ~3x fewer bytes and set Jaccard is hash-invariant, so
    the oracle (which compares OUTPUT values, computed over string tokens
    in DuckDB) still matches value-exactly."""
    return _stage(_docs(spark, sf_dir).select(
        "doc_id",
        F.substring("text", 1, 40).alias("t40"),
        F.array_distinct(
            F.transform(
                F.split(F.trim("text"), r"\s+"), lambda t: F.xxhash64(t)
            )
        ).alias("toks"),
        F.col("n_chars").cast("double").alias("nc"),
        _block_key().alias("block_key"),
    ))


_PAIR_FEATURE_COLS = ("t40", "toks", "nc")


def _pair_feature_sims():
    """(lev, jac, gauss) over a pair join of :func:`_pair_feature_docs`."""
    lev = F.when(
        F.greatest(F.length("t40_l"), F.length("t40_r")) == 0, F.lit(1.0)
    ).otherwise(
        1.0
        - F.levenshtein("t40_l", "t40_r")
        / F.greatest(F.length("t40_l"), F.length("t40_r")).cast("double")
    )
    jac = F.size(F.array_intersect("toks_l", "toks_r")) / F.size(
        F.array_union("toks_l", "toks_r")
    ).cast("double")
    gauss = F.pow(F.lit(2.0), -F.pow((F.col("nc_l") - F.col("nc_r")) / 100.0, 2))
    return lev, jac, gauss


def rl_pair_features(spark, sf_dir):
    docs = _pair_feature_docs(spark, sf_dir)
    pairs = blocking.self_pair_join(docs, "doc_id", _PAIR_FEATURE_COLS)
    lev, jac, gauss = _pair_feature_sims()
    out = pairs.select(
        "id_l",
        "id_r",
        F.round(lev, 6).alias("lev_sim"),
        F.round(jac, 6).alias("jaccard_sim"),
        F.round(gauss, 6).alias("nchars_sim"),
        F.round((lev + jac + gauss) / 3.0, 6).alias("score"),
    )
    return out


SQL_RL_PAIR_FEATURES = f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, 40) AS t40,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         CAST(n_chars AS DOUBLE) AS nc,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         a.t40 AS t40_l, b.t40 AS t40_r,
         a.toks AS toks_l, b.toks AS toks_r,
         a.nc AS nc_l, b.nc AS nc_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT id_l, id_r,
  CAST(round(CASE WHEN greatest(length(t40_l), length(t40_r)) = 0 THEN 1.0
       ELSE 1.0 - levenshtein(t40_l, t40_r)
                  / CAST(greatest(length(t40_l), length(t40_r)) AS DOUBLE)
       END, 6) AS DOUBLE) AS lev_sim,
  CAST(round(len(list_intersect(toks_l, toks_r))
       / CAST(len(list_distinct(toks_l || toks_r)) AS DOUBLE), 6) AS DOUBLE)
       AS jaccard_sim,
  CAST(round(pow(2.0, -pow((nc_l - nc_r) / 100.0, 2)), 6) AS DOUBLE) AS nchars_sim,
  CAST(round((
      (CASE WHEN greatest(length(t40_l), length(t40_r)) = 0 THEN 1.0
       ELSE 1.0 - levenshtein(t40_l, t40_r)
                  / CAST(greatest(length(t40_l), length(t40_r)) AS DOUBLE) END)
      + len(list_intersect(toks_l, toks_r))
        / CAST(len(list_distinct(toks_l || toks_r)) AS DOUBLE)
      + pow(2.0, -pow((nc_l - nc_r) / 100.0, 2))
    ) / 3.0, 6) AS DOUBLE) AS score
FROM p
"""


# Labeling-budget allocation per score band: everything near the
# decision boundary (band 2 ≈ scores [0.4, 0.6)) is kept, confident
# bands are thinned hard — the classic uncertainty-weighted labeling
# sample a reviewer works through between active-learning rounds.
_LABEL_BAND_RATES = {"0": 0.05, "1": 0.25, "2": 1.0, "3": 0.25, "4": 0.05}


def rl_label_sample(spark, sf_dir):
    """Stratified labeling sample over the scored candidate pairs:
    band = floor(score·5) clamped to 4, each band thinned by a
    deterministic md5-fate rate (operators.sampling.sample_corpus with
    the band as the stratum column — the same engine-reproducible fate
    machinery as corpus_sample, keyed on the pair id). Uncertain pairs
    near the 0.5 threshold are all kept; confident pairs are thinned
    20× — how a labeling budget is actually spent between
    active-learning rounds. Deterministic, repartition-stable, and
    value-exact: the oracle recomputes band, fate and rate from
    scratch. Map-only on top of the pair-features join."""
    from idd_hw6_record_linkage_spark.operators import sampling

    scored = rl_pair_features(spark, sf_dir).select("id_l", "id_r", "score")
    banded = scored.select(
        "id_l",
        "id_r",
        "score",
        F.least(F.floor(F.col("score") * 5), F.lit(4))
        .cast("string")
        .alias("band"),
        F.concat(
            F.col("id_l").cast("string"),
            F.lit("|"),
            F.col("id_r").cast("string"),
        ).alias("pair_key"),
    )
    out = sampling.sample_corpus(
        banded,
        "pair_key",
        _LABEL_BAND_RATES,
        source_col="band",
        default_rate=0.05,
    )
    return out.select(
        "id_l",
        "id_r",
        "band",
        "score",
        F.round("sample_fate", 6).alias("sample_fate"),
    )


_SQL_PAIR_FATE = (
    "('0x' || substr(md5(CAST(id_l AS VARCHAR) || '|' ||"
    " CAST(id_r AS VARCHAR)), 1, 15))::BIGINT"
    " / 1152921504606846976.0"
)

SQL_RL_LABEL_SAMPLE = f"""
WITH scored AS ({{pair_features}}),
banded AS (
  SELECT id_l, id_r, score,
         CAST(least(CAST(floor(score * 5) AS BIGINT), 4) AS VARCHAR)
           AS band
  FROM scored
), fated AS (
  SELECT id_l, id_r, score, band, {_SQL_PAIR_FATE} AS fate
  FROM banded
)
SELECT id_l, id_r, band, score,
       CAST(round(fate, 6) AS DOUBLE) AS sample_fate
FROM fated
WHERE fate < CASE band WHEN '2' THEN 1.0
                       WHEN '1' THEN 0.25
                       WHEN '3' THEN 0.25
                       ELSE 0.05 END
"""
SQL_RL_LABEL_SAMPLE = SQL_RL_LABEL_SAMPLE.format(
    pair_features=SQL_RL_PAIR_FEATURES
)


def rl_pair_token_sims(spark, sf_dir):
    """Token-SET similarity family over the candidate pairs: Dice,
    overlap coefficient, and set cosine (Ochiai) — the three standard
    set comparators beside Jaccard (C6). All native array expressions
    over :func:`_pair_feature_docs`' int64-hashed token arrays, the
    only column this pair join ships (set sizes and intersections are
    hash-invariant, so the string-token DuckDB oracle is value-exact).
    Map-only on top of the one block-join shuffle; token arrays are
    distinct-deduped so sizes are set cardinalities."""
    docs = _pair_feature_docs(spark, sf_dir)
    inter = F.size(F.array_intersect("toks_l", "toks_r")).cast("double")
    nl, nr = F.size("toks_l"), F.size("toks_r")
    return (
        blocking.self_pair_join(docs, "doc_id", ["toks"])
        .select(
            "id_l",
            "id_r",
            F.round(2.0 * inter / (nl + nr), 6).alias("dice_sim"),
            F.round(inter / F.least(nl, nr), 6).alias("overlap_sim"),
            F.round(inter / F.sqrt((nl * nr).cast("double")), 6).alias(
                "cosine_sim"
            ),
        )
    )


SQL_RL_PAIR_TOKEN_SIMS = f"""
WITH d AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         a.toks AS toks_l, b.toks AS toks_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
), s AS (
  SELECT id_l, id_r,
         CAST(len(list_intersect(toks_l, toks_r)) AS DOUBLE) AS i,
         len(toks_l) AS nl, len(toks_r) AS nr
  FROM p
)
SELECT id_l, id_r,
  CAST(round(2.0 * i / (nl + nr), 6) AS DOUBLE) AS dice_sim,
  CAST(round(i / least(nl, nr), 6) AS DOUBLE) AS overlap_sim,
  CAST(round(i / sqrt(CAST(nl * nr AS DOUBLE)), 6) AS DOUBLE) AS cosine_sim
FROM s
"""


def rl_qgram_cosine(spark, sf_dir):
    """Char q-gram count-vector cosine (operators.term_vectors; the
    recordlinkage library's qgram/cosine string methods) over the
    block-join candidate pairs, on an ASCII-sanitized 32-char key
    slice — the char-level graded complement to the token-level
    pair_tfidf_cosine and the q-gram Jaccard blocking pass. Counts,
    dot products and squared norms are all integers; the single final
    sqrt/division/round is the only float op, so the column is
    value-exact across engines. Sparse relational (explode → counts →
    pair⋈gram join), zero UDF."""
    from idd_hw6_record_linkage_spark.operators.term_vectors import (
        qgram_cosine_for_pairs,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        _snippet(32).alias("qkey"),
        _block_key().alias("block_key"),
    )
    pairs = blocking.self_pair_join(docs, "doc_id").select("id_l", "id_r")
    return qgram_cosine_for_pairs(docs, pairs, "doc_id", "qkey", q=3)


SQL_RL_QGRAM_COSINE = f"""
WITH d AS (
  SELECT doc_id AS id,
         coalesce(trim(substr(regexp_replace(lower(trim(text)),
                                             '[^a-z0-9 ]', '', 'g'),
                              1, 32)), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.id AS id_l, b.id AS id_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.id < b.id
), g AS (
  SELECT id, substr(s, CAST(i AS INTEGER), 3) AS gram,
         count(*) AS cnt
  FROM d, unnest(generate_series(1, greatest(length(s) - 2, 0))) AS t(i)
  GROUP BY 1, 2
), n2 AS (
  SELECT id, sum(cnt * cnt) AS norm2 FROM g GROUP BY 1
), dt AS (
  SELECT p.id_l, p.id_r, sum(a.cnt * b.cnt) AS dot
  FROM p
  JOIN g a ON a.id = p.id_l
  JOIN g b ON b.id = p.id_r AND b.gram = a.gram
  GROUP BY 1, 2
)
SELECT p.id_l, p.id_r,
       CAST(CASE WHEN dt.dot IS NULL THEN 0.0
                 ELSE round(dt.dot / sqrt(CAST(l.norm2 * r.norm2
                                               AS DOUBLE)), 6)
            END AS DOUBLE) AS qgram_cosine
FROM p
LEFT JOIN dt ON dt.id_l = p.id_l AND dt.id_r = p.id_r
LEFT JOIN n2 l ON l.id = p.id_l
LEFT JOIN n2 r ON r.id = p.id_r
"""


def rl_weighted_jaccard(spark, sf_dir):
    """IDF-weighted Jaccard (operators/term_vectors —
    Chaudhuri-Ganti-Kaushik's weighted set similarity: rare-token
    agreement dominates) over within-block candidate pairs, beside the
    unweighted Jaccard it generalizes. Integer micro-weights
    (round(ln(N/df)·1e6) as BIGINT at the single float crossing) make
    every sum 64-bit integer arithmetic, so the column is value-exact
    across engines by construction — no float-summation-order risk.
    Token basis: distinct whitespace words of the ASCII-sanitized
    40-char slice."""
    from idd_hw6_record_linkage_spark.operators.term_vectors import (
        weighted_jaccard_for_pairs,
    )

    docs = _snippet_docs(spark, sf_dir)
    n_docs = docs.count()
    pairs = blocking.self_pair_join(docs, "doc_id").select("id_l", "id_r")
    return weighted_jaccard_for_pairs(
        docs, pairs, "doc_id", "s", n_docs=n_docs
    ).select("id_l", "id_r", "w_jaccard")


SQL_RL_WEIGHTED_JACCARD = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
), tk AS (
  SELECT DISTINCT doc_id AS id, t.token
  FROM d, unnest(string_split(s, ' ')) AS t(token)
  WHERE t.token <> ''
), w AS (
  SELECT token,
         CAST(round(ln(CAST((SELECT count(*) FROM d) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS w
  FROM tk GROUP BY token
), tw AS (
  SELECT tk.id, tk.token, w.w FROM tk JOIN w USING (token)
), sums AS (
  SELECT id, sum(w) AS wsum FROM tw GROUP BY id
), inter AS (
  SELECT p.id_l, p.id_r, sum(a.w) AS inter_w
  FROM p
  JOIN tw a ON a.id = p.id_l
  JOIN tw b ON b.id = p.id_r AND b.token = a.token
  GROUP BY 1, 2
)
SELECT p.id_l, p.id_r,
  CAST(CASE WHEN inter.inter_w IS NOT NULL
             AND coalesce(l.wsum, 0) + coalesce(r.wsum, 0)
                 - coalesce(inter.inter_w, 0) > 0
            THEN round(CAST(inter.inter_w AS DOUBLE)
                       / CAST(coalesce(l.wsum, 0) + coalesce(r.wsum, 0)
                              - coalesce(inter.inter_w, 0) AS DOUBLE), 6)
            ELSE 0.0 END AS DOUBLE) AS w_jaccard
FROM p
LEFT JOIN inter ON inter.id_l = p.id_l AND inter.id_r = p.id_r
LEFT JOIN sums l ON l.id = p.id_l
LEFT JOIN sums r ON r.id = p.id_r
"""


def rl_edit_join(spark, sf_dir):
    """Exact edit-distance similarity self-join (operators/edit_join —
    PassJoin, Li et al. VLDB'12): ALL pairs with levenshtein ≤ 2 over
    the whole corpus, NO blocking key and NO cross product — segment
    pigeonhole explode → ONE composite-key hash join → native verify.
    The oracle is deliberately the brute-force all-pairs join: a
    value-exact match proves the pruning has zero false negatives
    (completeness) and the verify zero false positives, at every scale
    factor. Keys are ASCII-sanitized 40-char slices (byte/char bases
    coincide); keys shorter than d+1 are out of contract on BOTH
    sides."""
    from idd_hw6_record_linkage_spark.operators.edit_join import (
        edit_distance_self_join,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(_snippet(40), F.lit("")).alias("s")
    )
    return edit_distance_self_join(docs, "doc_id", "s", d=2).select(
        F.col("id_l").alias("id_l"),
        F.col("id_r").alias("id_r"),
        "lev",
    )


SQL_RL_EDIT_JOIN = """
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s
  FROM documents
), f AS (
  SELECT * FROM d WHERE length(s) >= 3
)
SELECT a.doc_id AS id_l, b.doc_id AS id_r,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS lev
FROM f a JOIN f b
  ON a.doc_id < b.doc_id
 AND abs(length(a.s) - length(b.s)) <= 2
WHERE levenshtein(a.s, b.s) <= 2
"""


def rl_jaro_duck(spark, sf_dir):
    """Jaro + Jaro-Winkler over within-block candidate pairs in the
    DuckDB/strcmp95 transposition convention (functions.similarity
    ``int_trans=True``: t = diffs // 2 instead of jellyfish's
    diffs / 2, '' vs '' → 0.0) — pinning the ENTIRE vectorized Arrow
    kernel (batch encode, windowed greedy matching, left-pack
    transposition count, Winkler boost) value-exactly against DuckDB's
    native ``jaro_similarity`` / ``jaro_winkler_similarity``, where the
    production C1/C2 jellyfish-convention UDFs are covered by scalar
    parity pytest only (no SQL engine ships that variant). The two
    conventions share every line of the kernel except the final
    halving, so this contract row regression-guards the production
    comparators too. ASCII-sanitized 40-char slices keep DuckDB's byte
    basis and the kernel's codepoint basis identical; slicing happens
    BEFORE the pair join."""
    from idd_hw6_record_linkage_spark.functions.similarity import (
        sim_jaro_rf,
        sim_jaro_winkler_rf,
    )

    docs = _snippet_docs(spark, sf_dir)
    return (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .select(
            "id_l",
            "id_r",
            F.round(sim_jaro_rf("s_l", "s_r"), 6).alias("jaro"),
            F.round(sim_jaro_winkler_rf("s_l", "s_r"), 6).alias(
                "jaro_winkler"
            ),
        )
    )


SQL_RL_JARO_DUCK = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.s AS s_l, b.s AS s_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT id_l, id_r,
  CAST(round(jaro_similarity(s_l, s_r), 6) AS DOUBLE) AS jaro,
  CAST(round(jaro_winkler_similarity(s_l, s_r), 6) AS DOUBLE)
    AS jaro_winkler
FROM p
"""


def rl_nw_unit(spark, sf_dir):
    """Needleman-Wunsch global alignment (functions.needleman — the
    batch-vectorized Arrow DP kernel) at the UNIT-COST point (match 0,
    mismatch −1, gap −1), where the NW objective collapses to
    −(substitutions + indels) and the negated corner score IS the
    Levenshtein distance: the contract pins the whole global-alignment
    DP — borders, diagonal/up recurrences and the left-gap collapse —
    value-exactly against DuckDB's native ``levenshtein``, not just an
    invariant of it (the general-parameter similarity form is covered
    by pytest parity against the scalar DP). Keys are ASCII-sanitized
    40-char slices so DuckDB's byte basis and the kernel's char basis
    coincide; slicing happens BEFORE the pair join (same O(L1·L2)
    discipline as rl_damerau). Only the integer distance crosses the
    Arrow boundary; the similarity normalization is native."""
    from idd_hw6_record_linkage_spark.functions.needleman import (
        nw_unit_distance,
    )

    docs = _snippet_docs(spark, sf_dir)
    denom = F.greatest(F.length("s_l"), F.length("s_r"), F.lit(1))
    return (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .withColumn("nw_dist", nw_unit_distance("s_l", "s_r"))
        .select(
            "id_l",
            "id_r",
            "nw_dist",
            F.round(F.lit(1.0) - F.col("nw_dist") / denom, 6).alias(
                "nw_sim"
            ),
        )
    )


SQL_RL_NW_UNIT = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.s AS s_l, b.s AS s_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT id_l, id_r,
  CAST(levenshtein(s_l, s_r) AS BIGINT) AS nw_dist,
  CAST(round(1.0 - levenshtein(s_l, s_r)
             / greatest(length(s_l), length(s_r), 1), 6) AS DOUBLE)
    AS nw_sim
FROM p
"""


def rl_bag_distance(spark, sf_dir):
    """Bag distance (functions.bag — Bartolini et al.'s multiset lower
    bound on edit distance) over within-block candidate pairs, next to
    the Levenshtein it bounds and a per-row ``bound_ok`` flag
    (bag ≤ lev, the theorem that makes bag a sound filter-and-verify
    prune before the O(L1·L2) Arrow comparators). Pure native
    higher-order-function arithmetic — zero Python, zero floats except
    the final normalized similarity — so every column including the
    flag is value-exact against the multiset algebra replicated in
    DuckDB list functions. ASCII-sanitized 40-char slices keep the
    char/byte bases identical across engines."""
    from idd_hw6_record_linkage_spark.functions.bag import (
        bag_distance_fixed_alphabet,
    )

    docs = _snippet_docs(spark, sf_dir)
    denom = F.greatest(F.length("s_l"), F.length("s_r"), F.lit(1))
    # The fixed-alphabet codegen form is exact here because the basis
    # is regex-sanitized to [a-z0-9 ] (see bag.py — pytest-pinned
    # equal to the generic HOF form on in-alphabet strings).
    return (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .withColumn(
            "bag_dist",
            bag_distance_fixed_alphabet(
                "s_l", "s_r", "abcdefghijklmnopqrstuvwxyz0123456789 "
            ),
        )
        .withColumn(
            "lev_dist", F.levenshtein("s_l", "s_r").cast("long")
        )
        .select(
            "id_l",
            "id_r",
            "bag_dist",
            "lev_dist",
            (F.col("bag_dist") <= F.col("lev_dist")).alias("bound_ok"),
            F.round(F.lit(1.0) - F.col("bag_dist") / denom, 6).alias(
                "bag_sim"
            ),
        )
    )


SQL_RL_BAG_DISTANCE = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.s AS s_l, b.s AS s_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
), c AS (
  SELECT id_l, id_r, s_l, s_r,
         list_transform(generate_series(1, greatest(length(s_l), 0)),
                        i -> substr(s_l, CAST(i AS INTEGER), 1)) AS ca,
         list_transform(generate_series(1, greatest(length(s_r), 0)),
                        i -> substr(s_r, CAST(i AS INTEGER), 1)) AS cb
  FROM p
), b AS (
  SELECT id_l, id_r, s_l, s_r,
         greatest(
           coalesce(list_sum(list_transform(
             list_distinct(list_concat(ca, cb)),
             c -> greatest(len(list_filter(ca, x -> x = c))
                           - len(list_filter(cb, x -> x = c)), 0))), 0),
           coalesce(list_sum(list_transform(
             list_distinct(list_concat(ca, cb)),
             c -> greatest(len(list_filter(cb, x -> x = c))
                           - len(list_filter(ca, x -> x = c)), 0))), 0)
         ) AS bag_dist
  FROM c
)
SELECT id_l, id_r,
  CAST(bag_dist AS BIGINT) AS bag_dist,
  CAST(levenshtein(s_l, s_r) AS BIGINT) AS lev_dist,
  bag_dist <= levenshtein(s_l, s_r) AS bound_ok,
  CAST(round(1.0 - bag_dist
             / greatest(length(s_l), length(s_r), 1), 6) AS DOUBLE)
    AS bag_sim
FROM b
"""


def rl_lcs(spark, sf_dir):
    """Longest-common-substring comparator (functions.lcs — Friedman &
    Sideli 1992, Christen ch. 5.9) over within-block candidate pairs:
    the block-agreement signal the edit family dilutes (a token move
    keeps a long common run; scattered typos destroy every run). Pure
    native nested higher-order functions — windows of the shorter
    40-char ASCII slice probed into the longer with ``contains`` —
    zero Python, zero floats except the final normalized similarity,
    so both columns are value-exact against the same window
    enumeration replicated in DuckDB generate_series/list lambdas."""
    from idd_hw6_record_linkage_spark.functions.lcs import lcs_len

    docs = _snippet_docs(spark, sf_dir)
    denom = F.greatest(F.length("s_l"), F.length("s_r"), F.lit(1))
    return (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .withColumn("lcs_len", lcs_len("s_l", "s_r"))
        .select(
            "id_l",
            "id_r",
            "lcs_len",
            F.round(
                F.col("lcs_len") / denom.cast("double"), 6
            ).alias("lcs_sim"),
        )
    )


SQL_RL_LCS = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.s AS s_l, b.s AS s_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
), w AS (
  SELECT id_l, id_r,
         CASE WHEN length(s_l) <= length(s_r) THEN s_l ELSE s_r END AS s,
         CASE WHEN length(s_l) <= length(s_r) THEN s_r ELSE s_l END AS t,
         greatest(length(s_l), length(s_r), 1) AS denom
  FROM p
), m AS (
  SELECT id_l, id_r, denom,
         CASE WHEN length(s) = 0 THEN 0 ELSE
           list_max(list_transform(generate_series(1, length(s)), n ->
             CASE WHEN len(list_filter(
                          generate_series(1, length(s) - n + 1),
                          i -> strpos(t, substr(s, CAST(i AS INTEGER),
                                                CAST(n AS INTEGER))) > 0
                        )) > 0
                  THEN n ELSE 0 END))
         END AS lcs
  FROM w
)
SELECT id_l, id_r, CAST(lcs AS BIGINT) AS lcs_len,
       CAST(round(lcs / CAST(denom AS DOUBLE), 6) AS DOUBLE) AS lcs_sim
FROM m
"""


def rl_sw_unit(spark, sf_dir):
    """Smith-Waterman local alignment at the PROHIBITIVE-PENALTY
    point (functions.alignment_sim.sw_unit_udf: match +1, mismatch
    −100, gap 100): no alignment spending a mismatch or gap can beat
    a pure exact run, so normalized SW collapses to
    longest-common-substring / min-length — which DuckDB recomputes
    independently with the same generate_series window enumeration
    as SQL_RL_LCS. This upgrades the SW kernel from the invariant
    gate (rl_sw_gate) to a VALUE-EXACT row-level contract on the
    whole DP machinery, the same trick rl_editex_unit
    (editex=2·levenshtein) and rl_nw_unit (nw=−levenshtein) use.
    Same 40-char ASCII-sanitized slice basis as rl_lcs so the byte
    and char bases coincide; slicing before the pair join keeps the
    O(L²) kernel bounded at any scale."""
    from idd_hw6_record_linkage_spark.functions.alignment_sim import (
        sim_sw_unit,
    )

    docs = _snippet_docs(spark, sf_dir)
    return (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .select(
            "id_l",
            "id_r",
            F.round(sim_sw_unit("s_l", "s_r"), 6).alias("sw_unit_sim"),
        )
    )


SQL_RL_SW_UNIT = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.s AS s_l, b.s AS s_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
), w AS (
  SELECT id_l, id_r, s_l, s_r,
         CASE WHEN length(s_l) <= length(s_r) THEN s_l ELSE s_r END AS s,
         CASE WHEN length(s_l) <= length(s_r) THEN s_r ELSE s_l END AS t
  FROM p
), m AS (
  SELECT id_l, id_r, s_l, s_r, length(s) AS min_len,
         CASE WHEN length(s) = 0 THEN 0 ELSE
           list_max(list_transform(generate_series(1, length(s)), n ->
             CASE WHEN len(list_filter(
                          generate_series(1, length(s) - n + 1),
                          i -> strpos(t, substr(s, CAST(i AS INTEGER),
                                                CAST(n AS INTEGER))) > 0
                        )) > 0
                  THEN n ELSE 0 END))
         END AS lcs
  FROM w
)
SELECT id_l, id_r,
       CAST(CASE WHEN s_l = s_r THEN 1.0
                 WHEN min_len = 0 THEN 0.0
                 ELSE round(lcs / CAST(min_len AS DOUBLE), 6)
            END AS DOUBLE) AS sw_unit_sim
FROM m
"""


def rl_editex_unit(spark, sf_dir):
    """Editex phonetic edit distance at the DEGENERATE cost point
    (functions.editex — Zobel & Dart SIGIR'96): with the group table
    empty and the h/w + doubled-letter discounts off, every DP
    operation costs exactly 2, so the kernel's answer IS
    2·levenshtein and DuckDB's native ``levenshtein`` pins the whole
    vectorized machinery value-exactly — borders, min-plus cumsum
    collapse, length-sorted retirement — the same twin trick as
    rl_nw_unit/rl_jaro_duck. The production Zobel-Dart cost table
    shares every one of those code paths (one ``unit`` flag flips the
    cost functions), so this pin covers the production comparator's
    kernel too; its group-cost semantics are gated by rl_editex_gate
    and triangulated against an independent textbook DP in
    tests/test_editex. ASCII-sanitized 40-char slices keep char/byte
    bases identical across engines."""
    from idd_hw6_record_linkage_spark.functions.editex import (
        editex_unit_distance,
    )

    docs = _snippet_docs(spark, sf_dir)
    return (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .select(
            "id_l",
            "id_r",
            editex_unit_distance("s_l", "s_r").alias("editex_unit_dist"),
        )
    )


SQL_RL_EDITEX_UNIT = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
)
SELECT a.doc_id AS id_l, b.doc_id AS id_r,
       CAST(2 * levenshtein(a.s, b.s) AS BIGINT) AS editex_unit_dist
FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
"""


def rl_editex_gate(spark, sf_dir):
    """Production-cost editex invariant gate. The Zobel-Dart group DP
    is not SQL-expressible, so — like rl_sw_gate — the contract row
    checks what an SQL engine CAN verify: the pair count over the
    shared blocked basis plus Spark-side recomputed flags the oracle
    pins true: 0 ≤ editex ≤ 2·levenshtein on every pair (each
    unit-cost edit is an editex operation of cost ≤ 2 — note the
    LOWER bound is 0, not levenshtein: deleting a doubled letter is
    free), symmetry under argument swap, and editex = 0 on every
    string-equal pair. Bit-level parity against an independent
    textbook DP lives in tests/test_editex."""
    from idd_hw6_record_linkage_spark.functions.editex import (
        editex_distance,
    )

    docs = _snippet_docs(spark, sf_dir)
    pairs = (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .select(
            "s_l",
            "s_r",
            editex_distance("s_l", "s_r").alias("ed"),
            editex_distance("s_r", "s_l").alias("ed_rev"),
            (F.levenshtein("s_l", "s_r") * 2).cast("long").alias("lev2"),
        )
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        (
            (F.min("ed") >= 0) & (F.max(F.col("ed") - F.col("lev2")) <= 0)
        ).alias("sandwich_ok"),
        (F.sum((F.col("ed") != F.col("ed_rev")).cast("long")) == 0).alias(
            "sym_ok"
        ),
        (
            F.sum(
                F.when(
                    (F.col("s_l") == F.col("s_r")) & (F.col("ed") != 0), 1
                ).otherwise(0)
            )
            == 0
        ).alias("eq_zero_ok"),
    )


SQL_RL_EDITEX_GATE = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(substr(regexp_replace(lower(trim(text)),
                                        '[^a-z0-9 ]', '', 'g'),
                         1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       TRUE AS sandwich_ok,
       TRUE AS sym_ok,
       TRUE AS eq_zero_ok
FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
"""


def rl_gamma_patterns(spark, sf_dir):
    """Fellegi-Sunter agreement-pattern (gamma-vector) frequency
    profile: how many candidate pairs exhibit each of the 2^k
    agreement patterns, with each pattern's share of all pairs — the
    table an FS practitioner reads before trusting the EM fit (a
    pattern with near-zero support gets an unreliable m/u estimate).
    One hash aggregate on a k-bit key; the share's window sum runs
    over the 2^k-row AGGREGATE OUTPUT, never the pair table."""
    from pyspark.sql.window import Window

    pf = rl_pair_features(spark, sf_dir)
    gam = pf.select(
        (F.col("lev_sim") >= 0.9).cast("int").alias("g_lev"),
        (F.col("jaccard_sim") >= 0.8).cast("int").alias("g_jac"),
        (F.col("nchars_sim") >= 0.9).cast("int").alias("g_nc"),
    )
    agg = gam.groupBy("g_lev", "g_jac", "g_nc").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    total = F.sum("n_pairs").over(Window.partitionBy())
    return agg.select(
        "g_lev",
        "g_jac",
        "g_nc",
        "n_pairs",
        F.round(F.col("n_pairs") / total.cast("double"), 6).alias("share"),
    )


SQL_RL_GAMMA_PATTERNS = f"""
WITH pf AS ({SQL_RL_PAIR_FEATURES}
), gam AS (
  SELECT CAST(lev_sim >= 0.9 AS INT) AS g_lev,
         CAST(jaccard_sim >= 0.8 AS INT) AS g_jac,
         CAST(nchars_sim >= 0.9 AS INT) AS g_nc
  FROM pf
), agg AS (
  SELECT g_lev, g_jac, g_nc, count(*) AS n_pairs
  FROM gam GROUP BY 1, 2, 3
)
SELECT g_lev, g_jac, g_nc, n_pairs,
  CAST(round(n_pairs / CAST(sum(n_pairs) OVER () AS DOUBLE), 6) AS DOUBLE)
    AS share
FROM agg
"""


def rl_rare_token_blocks(spark, sf_dir):
    """Rare-token blocking keys (operators.meta_blocking
    .rare_token_keys): each document's 2 rarest tokens by corpus
    doc-frequency. The self-bounding alternative to block purging — a
    block on token t holds at most df(t) records and t is only
    selected when its df is among a record's smallest, so no hand-
    picked size cap and no record orphaned. Deterministic (df then
    token value orders the window), hence value-exact vs the SQL
    window mirror."""
    from idd_hw6_record_linkage_spark.operators import meta_blocking as MB

    keys = MB.token_blocking(
        _docs(spark, sf_dir), "doc_id", "text", min_token_len=4
    )
    return MB.rare_token_keys(keys, k=2)


SQL_RL_RARE_TOKEN_BLOCKS = """
WITH keys AS (
  SELECT id, tok AS block_key
  FROM (
    SELECT doc_id AS id,
           unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
             AS tok
    FROM documents WHERE text IS NOT NULL
  )
  WHERE length(tok) >= 4
), freq AS (
  SELECT block_key, CAST(count(*) AS BIGINT) AS df FROM keys GROUP BY 1
), ranked AS (
  SELECT k.id, k.block_key, f.df,
         row_number() OVER (PARTITION BY k.id
                            ORDER BY f.df, k.block_key) AS rk
  FROM keys k JOIN freq f USING (block_key)
)
SELECT id, block_key, df FROM ranked WHERE rk <= 2
"""


def rl_qgram_blocks(spark, sf_dir):
    """Q-gram fuzzy blocking (operators.qgram_blocking): candidate
    pairs sharing >= 2 distinct character trigrams of an ASCII-
    sanitized 32-char key slice, hot grams (df > 64) dropped before
    the self-join — the sub-word fuzzy pass next to rare-token
    (word-level), soundex (word-head phonetic) and sorted-neighborhood
    (order-preserving) blocking. The sanitize step keeps the basis
    pure ASCII so char-indexed substring/length agree across engines
    by construction. Fully native (sequence/transform/substring);
    the df cap bounds per-gram join fan-out at C(64, 2)."""
    from idd_hw6_record_linkage_spark.operators.qgram_blocking import (
        qgram_candidates,
    )

    docs = _docs(spark, sf_dir).select("doc_id", _snippet(32).alias("qkey"))
    return qgram_candidates(
        docs, "doc_id", "qkey", q=3, min_common=2, max_df=64
    )


SQL_RL_QGRAM_BLOCKS = """
WITH d AS (
  SELECT doc_id AS id,
         coalesce(trim(substr(regexp_replace(lower(trim(text)),
                                             '[^a-z0-9 ]', '', 'g'),
                              1, 32)), '') AS s
  FROM documents
), g AS (
  SELECT DISTINCT id, substr(s, CAST(i AS INTEGER), 3) AS gram
  FROM d, unnest(generate_series(1, greatest(length(s) - 2, 0))) AS t(i)
), freq AS (
  SELECT gram, count(*) AS df FROM g GROUP BY 1
), kept AS (
  SELECT g.id, g.gram FROM g JOIN freq USING (gram) WHERE df <= 64
), ng AS (
  SELECT id, count(*) AS n_g FROM kept GROUP BY 1
), p AS (
  SELECT a.id AS id_l, b.id AS id_r,
         CAST(count(*) AS BIGINT) AS n_common
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.id_l, p.id_r, p.n_common,
       CAST(round(p.n_common * 1.0 / least(l.n_g, r.n_g), 6) AS DOUBLE)
         AS frac
FROM p JOIN ng l ON p.id_l = l.id JOIN ng r ON p.id_r = r.id
"""


def rl_suffix_blocks(spark, sf_dir):
    """Suffix-array blocking (operators.suffix_blocking; Aizawa-Oyama):
    candidate pairs sharing any suffix of length >= 16 of an ASCII-
    sanitized 24-char key slice, suffixes with doc-frequency > 32
    dropped before the self-join — the head-error-immune pass next to
    q-gram (sub-word fuzzy), rare-token (word-level), soundex
    (word-head phonetic) and sorted-neighborhood (order-preserving)
    blocking. The sanitize step keeps the basis pure ASCII so
    char-indexed substring/length agree across engines by
    construction. Fully native (sequence/transform/substring); the df
    cap bounds per-suffix join fan-out at C(32, 2)."""
    from idd_hw6_record_linkage_spark.operators.suffix_blocking import (
        suffix_candidates,
    )

    docs = _docs(spark, sf_dir).select("doc_id", _snippet(24).alias("skey"))
    return suffix_candidates(
        docs, "doc_id", "skey", min_len=16, max_block_size=32
    )


SQL_RL_SUFFIX_BLOCKS = """
WITH d AS (
  SELECT doc_id AS id,
         coalesce(trim(substr(regexp_replace(lower(trim(text)),
                                             '[^a-z0-9 ]', '', 'g'),
                              1, 24)), '') AS s
  FROM documents
), g AS (
  SELECT id, substr(s, CAST(i AS INTEGER)) AS suffix
  FROM d, unnest(generate_series(1, greatest(length(s) - 16 + 1, 0)))
       AS t(i)
), freq AS (
  SELECT suffix, count(*) AS df FROM g GROUP BY 1
), kept AS (
  SELECT g.id, g.suffix FROM g JOIN freq USING (suffix) WHERE df <= 32
)
SELECT a.id AS id_l, b.id AS id_r,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(max(length(a.suffix)) AS INTEGER) AS max_suffix_len
FROM kept a JOIN kept b ON a.suffix = b.suffix AND a.id < b.id
GROUP BY 1, 2
"""


def rl_setsim_join(spark, sf_dir):
    """Exact-threshold Jaccard set-similarity self-join via prefix
    filtering (operators.setsim_join; SSJoin/PPJoin): all document
    pairs whose token sets over an ASCII-sanitized 64-char slice have
    jaccard >= 3/5 — the EXACT counterpart to dedup_minhash_lsh
    (probabilistic) and dedup_ngram_jaccard (fixed-key blocked). The
    set elements are word-BIGRAM shingles, not raw words: the
    synthetic corpus draws from a ~125-word vocabulary, so every
    unigram is hot (df ≈ |corpus|/100) and the prefix filter cannot
    prune; shingling restores selectivity (the standard near-dup move
    — MinHash pipelines shingle for the same reason) and cuts the
    candidate join ~30× here. The threshold is the rational 3/5 and
    every pruning/verify comparison is integer, so the pair set is
    value-exact across engines; the oracle replicates the prefix
    filter itself (rarest-first global token order, ceil via integer
    div), proving the pruned plan equals the brute-force definition.
    Fully native (sort_array/slice/array_intersect); prefix explode
    emits <= 0.4*n + 1 rows per record at t=0.6."""
    from idd_hw6_record_linkage_spark.operators.setsim_join import (
        jaccard_setsim_join,
    )

    docs = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.filter(F.split(_snippet(64), " "), lambda t: t != "").alias("__w"),
        )
        .select(
            "doc_id",
            # zip_with over a shifted slice, NOT transform+element_at:
            # HOF lambdas evaluate interpreted, and element_at(__w, i)
            # in a lambda body re-evaluates the whole regex/split
            # chain per bigram (~6 s of re-split at sf0.1; see
            # functions.text_analysis.sliding_concat). Same bigram
            # values, so the prefix-filter join and the oracle are
            # unchanged.
            F.when(
                F.size("__w") >= 2,
                TA.sliding_concat(F.col("__w"), 2),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("toks"),
        )
    )
    return jaccard_setsim_join(docs, "doc_id", "toks", 3, 5)


SQL_RL_SETSIM_JOIN = """
WITH d AS (
  SELECT doc_id AS id,
         list_filter(string_split(
           coalesce(substr(regexp_replace(lower(trim(text)),
                                          '[^a-z0-9 ]', '', 'g'),
                           1, 64), ''), ' '), x -> x <> '') AS w
  FROM documents
), tok AS (
  SELECT DISTINCT id, t.token
  FROM d, unnest(list_transform(generate_series(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i + 1]))
            AS t(token)
), tf AS (
  SELECT token, count(*) AS tdf FROM tok GROUP BY 1
), nt AS (
  SELECT id, count(*) AS n FROM tok GROUP BY 1
), ord AS (
  SELECT tok.id, tok.token,
         row_number() OVER (PARTITION BY tok.id
                            ORDER BY tf.tdf, tok.token) AS rn
  FROM tok JOIN tf USING (token)
), pref AS (
  SELECT o.id, o.token
  FROM ord o JOIN nt ON o.id = nt.id
  WHERE o.rn <= nt.n - ((nt.n * 3 + 4) // 5) + 1
), cand AS (
  SELECT DISTINCT a.id AS id_l, b.id AS id_r
  FROM pref a JOIN pref b USING (token) WHERE a.id < b.id
), sized AS (
  SELECT c.id_l, c.id_r, l.n AS n_l, r.n AS n_r
  FROM cand c JOIN nt l ON c.id_l = l.id JOIN nt r ON c.id_r = r.id
  WHERE greatest(l.n, r.n) * 3 <= least(l.n, r.n) * 5
), com AS (
  SELECT s.id_l, s.id_r, count(*) AS n_common
  FROM sized s
  JOIN tok a ON a.id = s.id_l
  JOIN tok b ON b.id = s.id_r AND b.token = a.token
  GROUP BY 1, 2
)
SELECT s.id_l, s.id_r,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST(s.n_l + s.n_r - c.n_common AS BIGINT) AS n_union,
       CAST(round(c.n_common * 1.0 / (s.n_l + s.n_r - c.n_common), 6)
            AS DOUBLE) AS jac
FROM com c JOIN sized s ON c.id_l = s.id_l AND c.id_r = s.id_r
WHERE c.n_common * 5 >= (s.n_l + s.n_r - c.n_common) * 3
"""


def rl_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (operators.sorted_neighborhood):
    records ordered globally by the first 24 chars of trimmed text
    (doc_id tiebreak), pairs within a 4-position window. Both engines
    use binary string collation, so the global order — and therefore
    the pair set — is identical by construction. The Spark side never
    runs a global window: two-pass range-partitioned prefix count."""
    from idd_hw6_record_linkage_spark.operators import (
        sorted_neighborhood as SN,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring(F.trim("text"), 1, 24).alias("sn_key")
    )
    out = SN.sorted_neighborhood_pairs(
        docs, "doc_id", "sn_key", window=4
    )
    return out.select(
        F.col("id_l"), "key_l", F.col("id_r"), "key_r", "pos_dist"
    )


SQL_RL_SORTED_NEIGHBORHOOD = """
WITH k AS (
  SELECT doc_id, substr(trim(text), 1, 24) AS sn_key
  FROM documents WHERE text IS NOT NULL
), p AS (
  SELECT doc_id, sn_key,
         row_number() OVER (ORDER BY sn_key, doc_id) - 1 AS pos
  FROM k
)
SELECT a.doc_id AS id_l, a.sn_key AS key_l,
       b.doc_id AS id_r, b.sn_key AS key_r,
       CAST(b.pos - a.pos AS BIGINT) AS pos_dist
FROM p a JOIN p b ON b.pos - a.pos BETWEEN 1 AND 3
"""


def rl_meta_blocking(spark, sf_dir):
    """Meta-blocking (operators.meta_blocking): schema-agnostic token
    blocking over a 100-doc slice (every 5th doc, full text, tokens of
    length >= 4), block purging to sizes [2, 80], CBS-weighted blocking
    graph, weighted-node pruning with OR semantics. CBS weights are
    ints, so the per-node averages are exact integer sums divided by
    counts — bit-identical in both engines, making the pruned edge set
    value-exact. JS-weighted variants are pytest-covered instead (a
    mean of many doubles is summation-order-dependent)."""
    from idd_hw6_record_linkage_spark.operators import meta_blocking as MB

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    keys = blocking.purge_blocks(
        MB.token_blocking(docs, "doc_id", "text", min_token_len=4),
        "block_key",
        min_size=2,
        max_size=80,
    )
    return MB.prune_wnp(MB.blocking_graph(keys, "cbs")).select(
        "id_l", "id_r", F.col("weight").cast("long").alias("weight")
    )


SQL_RL_META_BLOCKING = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.tok AS block_key
  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(tok)
  WHERE text IS NOT NULL AND doc_id % 5 = 0 AND length(t.tok) >= 4
), sizes AS (
  SELECT block_key, count(*) AS n FROM toks GROUP BY 1
), keys AS (
  SELECT toks.* FROM toks JOIN sizes USING (block_key)
  WHERE n BETWEEN 2 AND 80
), edges AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         CAST(count(*) AS BIGINT) AS weight
  FROM keys a JOIN keys b
    ON a.block_key = b.block_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), node_avg AS (
  SELECT node, avg(weight) AS avg_w FROM (
    SELECT id_l AS node, weight FROM edges
    UNION ALL SELECT id_r AS node, weight FROM edges
  ) GROUP BY 1
)
SELECT e.id_l, e.id_r, e.weight
FROM edges e
JOIN node_avg nl ON nl.node = e.id_l
JOIN node_avg nr ON nr.node = e.id_r
WHERE e.weight >= least(nl.avg_w, nr.avg_w)
"""


_FS_FEATS = ["g_lev", "g_jac", "g_nc"]


def rl_fs_match_weights(spark, sf_dir):
    """Fellegi-Sunter probabilistic linkage (operators.fellegi_sunter)
    over the contract pair features, binarized into agreement gammas.
    Exactly ONE EM iteration from the documented initial parameters
    (λ0=0.1, m0=0.9, u0=0.1) so the oracle can unroll the E-step and
    M-step as closed-form SQL; convergence behavior is pytest-covered
    on planted-parameter data (test_fellegi_sunter)."""
    from idd_hw6_record_linkage_spark.operators import fellegi_sunter as FS

    pf = rl_pair_features(spark, sf_dir)
    gam = pf.select(
        "id_l",
        "id_r",
        (F.col("lev_sim") >= 0.9).cast("int").alias("g_lev"),
        (F.col("jaccard_sim") >= 0.8).cast("int").alias("g_jac"),
        (F.col("nchars_sim") >= 0.9).cast("int").alias("g_nc"),
    )
    params = FS.em_fit(gam, _FS_FEATS, max_iter=1)
    out = FS.match_weight(gam, params, _FS_FEATS)
    return out.select(
        "id_l",
        "id_r",
        *_FS_FEATS,
        F.round("match_weight", 6).alias("match_weight"),
    )


SQL_RL_FS_MATCH_WEIGHTS = f"""
WITH pf AS ({SQL_RL_PAIR_FEATURES}
), gam AS (
  SELECT id_l, id_r,
         CAST(lev_sim >= 0.9 AS INT) AS g_lev,
         CAST(jaccard_sim >= 0.8 AS INT) AS g_jac,
         CAST(nchars_sim >= 0.9 AS INT) AS g_nc
  FROM pf
), e AS (
  SELECT *,
    1.0 / (1.0 + exp(
      (ln(0.9) + g_lev * ln(0.1) + (1 - g_lev) * ln(0.9)
               + g_jac * ln(0.1) + (1 - g_jac) * ln(0.9)
               + g_nc  * ln(0.1) + (1 - g_nc)  * ln(0.9))
      - (ln(0.1) + g_lev * ln(0.9) + (1 - g_lev) * ln(0.1)
                 + g_jac * ln(0.9) + (1 - g_jac) * ln(0.1)
                 + g_nc  * ln(0.9) + (1 - g_nc)  * ln(0.1))
    )) AS p
  FROM gam
), params AS (
  SELECT
    greatest(1e-6, least(1.0 - 1e-6, avg(p))) AS lam,
    greatest(1e-6, least(1.0 - 1e-6, sum(p * g_lev) / sum(p))) AS m_lev,
    greatest(1e-6, least(1.0 - 1e-6, sum(p * g_jac) / sum(p))) AS m_jac,
    greatest(1e-6, least(1.0 - 1e-6, sum(p * g_nc)  / sum(p))) AS m_nc,
    greatest(1e-6, least(1.0 - 1e-6,
      sum((1 - p) * g_lev) / sum(1 - p))) AS u_lev,
    greatest(1e-6, least(1.0 - 1e-6,
      sum((1 - p) * g_jac) / sum(1 - p))) AS u_jac,
    greatest(1e-6, least(1.0 - 1e-6,
      sum((1 - p) * g_nc)  / sum(1 - p))) AS u_nc
  FROM e
)
SELECT gam.id_l, gam.id_r, gam.g_lev, gam.g_jac, gam.g_nc,
  CAST(round(
    log2(lam / (1.0 - lam))
    + g_lev * log2(m_lev / u_lev)
      + (1 - g_lev) * log2((1.0 - m_lev) / (1.0 - u_lev))
    + g_jac * log2(m_jac / u_jac)
      + (1 - g_jac) * log2((1.0 - m_jac) / (1.0 - u_jac))
    + g_nc * log2(m_nc / u_nc)
      + (1 - g_nc) * log2((1.0 - m_nc) / (1.0 - u_nc)),
  6) AS DOUBLE) AS match_weight
FROM gam, params
"""


def rl_match_edges(spark, sf_dir):
    return rl_pair_features(spark, sf_dir).where(F.col("score") >= 0.5).select(
        "id_l", "id_r", "score"
    )


SQL_RL_MATCH_EDGES = (
    f"SELECT id_l, id_r, score FROM ({SQL_RL_PAIR_FEATURES}) WHERE score >= 0.5"
)


def rl_match_explanations(spark, sf_dir):
    """Per-edge score explanations — the Splink-waterfall analog for
    the rule scorer: every match edge decomposed into its per-
    comparator contributions (equal-weight mean → each sim/3), plus
    the weakest feature (deterministic CASE-order tie-break:
    lev → jaccard → nchars) and the strength gap (max sim − min sim).
    The review-queue artifact an ER analyst reads before trusting an
    edge: a high score carried by one feature with a big gap is a
    different animal than three agreeing comparators. Pure column
    arithmetic over the rl_pair_features output (shared basis, so the
    DuckDB oracle recomputes everything from the same rounded sims —
    value-exact); map-only on top of the existing pair join."""
    f = rl_pair_features(spark, sf_dir).where(F.col("score") >= 0.5)
    lo = F.least("lev_sim", "jaccard_sim", "nchars_sim")
    hi = F.greatest("lev_sim", "jaccard_sim", "nchars_sim")
    weakest = (
        F.when(F.col("lev_sim") == lo, F.lit("lev_sim"))
        .when(F.col("jaccard_sim") == lo, F.lit("jaccard_sim"))
        .otherwise(F.lit("nchars_sim"))
    )
    return f.select(
        "id_l",
        "id_r",
        "score",
        F.round(F.col("lev_sim") / 3.0, 6).alias("c_lev"),
        F.round(F.col("jaccard_sim") / 3.0, 6).alias("c_jaccard"),
        F.round(F.col("nchars_sim") / 3.0, 6).alias("c_nchars"),
        weakest.alias("weakest_feature"),
        F.round(hi - lo, 6).alias("strength_gap"),
    )


SQL_RL_MATCH_EXPLANATIONS = f"""
WITH f AS (
  SELECT * FROM ({SQL_RL_PAIR_FEATURES}) WHERE score >= 0.5
)
SELECT id_l, id_r, score,
       CAST(round(lev_sim / 3.0, 6) AS DOUBLE) AS c_lev,
       CAST(round(jaccard_sim / 3.0, 6) AS DOUBLE) AS c_jaccard,
       CAST(round(nchars_sim / 3.0, 6) AS DOUBLE) AS c_nchars,
       CASE WHEN lev_sim = least(lev_sim, jaccard_sim, nchars_sim)
              THEN 'lev_sim'
            WHEN jaccard_sim = least(lev_sim, jaccard_sim, nchars_sim)
              THEN 'jaccard_sim'
            ELSE 'nchars_sim' END AS weakest_feature,
       CAST(round(greatest(lev_sim, jaccard_sim, nchars_sim)
                  - least(lev_sim, jaccard_sim, nchars_sim), 6)
            AS DOUBLE) AS strength_gap
FROM f
"""


def _source_truth(spark, sf_dir):
    """The synthetic truth of the evaluation queries: (id_l, id_r) doc
    pairs of one source with |n_chars diff| <= 10. A per-source
    self-join — quadratic in the largest source, acceptable ONLY for
    the fixed-size contract tables. It exists to exercise the
    evaluation operators against a DuckDB oracle, not as a
    truth-builder; production truth comes from labeled pairs
    (ground_truth.py) or the generator's entity ids
    (expected_clusters)."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    l = d.withColumnsRenamed(  # noqa: E741
        {"doc_id": "id_l", "source": "s_l", "n_chars": "n_l"}
    )
    r = d.withColumnsRenamed({"doc_id": "id_r", "source": "s_r", "n_chars": "n_r"})
    return (
        l.join(r, (F.col("s_l") == F.col("s_r")) & (F.col("id_l") < F.col("id_r")))
        .where(F.abs(F.col("n_l") - F.col("n_r")) <= 10)
        .select("id_l", "id_r")
    )


def rl_eval_metrics(spark, sf_dir):
    """A5: P/R/F1 of the match edges against a deterministic 'truth'
    (same source, |n_chars diff| <= 10, :func:`_source_truth`) via
    ``evaluation.precision_recall_f1``'s semi/anti joins."""
    from idd_hw6_record_linkage_spark.operators.evaluation import precision_recall_f1

    m = precision_recall_f1(rl_match_edges(spark, sf_dir), _source_truth(spark, sf_dir))
    return spark.createDataFrame(
        [(m.tp, m.fp, m.fn, round(m.precision, 6), round(m.recall, 6), round(m.f1, 6))],
        "tp bigint, fp bigint, fn bigint, precision double, recall double, f1 double",
    )


SQL_RL_EVAL_METRICS = f"""
WITH preds AS (
  SELECT id_l, id_r FROM ({SQL_RL_MATCH_EDGES})
), truth AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE abs(a.n_chars - b.n_chars) <= 10
), counts AS (
  SELECT
    (SELECT count(*) FROM preds p WHERE EXISTS
       (SELECT 1 FROM truth t WHERE t.id_l = p.id_l AND t.id_r = p.id_r)) AS tp,
    (SELECT count(*) FROM preds p WHERE NOT EXISTS
       (SELECT 1 FROM truth t WHERE t.id_l = p.id_l AND t.id_r = p.id_r)) AS fp,
    (SELECT count(*) FROM truth t WHERE NOT EXISTS
       (SELECT 1 FROM preds p WHERE p.id_l = t.id_l AND p.id_r = t.id_r)) AS fn
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
  CAST(round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS DOUBLE) AS precision,
  CAST(round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS DOUBLE) AS recall,
  CAST(round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                     + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END) > 0
       THEN 2 * (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
              * (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END)
            / ((CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
             + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END))
       ELSE 0.0 END, 6) AS DOUBLE) AS f1
FROM counts
"""


def rl_clusters(spark, sf_dir):
    """Iterative large-star/small-star CC over the match edges. The
    DuckDB oracle reproduces the fixpoint with a recursive CTE
    (reachability closure + min label) — value-exact, not rows-only:
    both sides assign each doc the lexicographic-min id of its
    component."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("doc_id"))
    edges = rl_match_edges(spark, sf_dir).select(
        F.col("id_l").cast("string").alias("id_l"),
        F.col("id_r").cast("string").alias("id_r"),
    )
    return clusters_from_edges(edges, docs, id_col="doc_id")


SQL_RL_CLUSTERS = f"""
WITH RECURSIVE base AS (
  SELECT CAST(id_l AS VARCHAR) AS u, CAST(id_r AS VARCHAR) AS v
  FROM ({SQL_RL_MATCH_EDGES})
), e AS (
  SELECT u, v FROM base UNION ALL SELECT v, u FROM base
), reach(id, r) AS (
  SELECT CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR) FROM documents
  UNION
  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r
)
SELECT id AS url, min(r) AS entity_id FROM reach GROUP BY id
"""


def rl_retract_records(spark, sf_dir):
    """Batch record retraction (operators.retract.retract_records —
    the GDPR/CCPA-erasure counterpart to rl_attach_increment): every
    doc with doc_id % 37 == 0 is erased from the resolved corpus and
    only the clusters they touched re-run connected components, on
    their remaining edges. The operator's contract is value-identity
    with a from-scratch re-clustering of the filtered match graph —
    which is exactly what the oracle recomputes (the rl_clusters
    recursive-CTE fixpoint with the removed ids filtered out of both
    the edge set and the id universe), so the repair-only path cannot
    silently diverge from the full re-run."""
    from idd_hw6_record_linkage_spark.operators.retract import (
        retract_records,
    )

    clusters = rl_clusters(spark, sf_dir)
    edges = rl_match_edges(spark, sf_dir).select(
        F.col("id_l").cast("string").alias("id_l"),
        F.col("id_r").cast("string").alias("id_r"),
    )
    removed = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 37 == 0)
        .select(F.col("doc_id").cast("string").alias("url"))
    )
    return retract_records(clusters, edges, removed)


SQL_RL_RETRACT_RECORDS = f"""
WITH RECURSIVE base AS (
  SELECT CAST(id_l AS VARCHAR) AS u, CAST(id_r AS VARCHAR) AS v
  FROM ({SQL_RL_MATCH_EDGES})
  WHERE id_l % 37 <> 0 AND id_r % 37 <> 0
), e AS (
  SELECT u, v FROM base UNION ALL SELECT v, u FROM base
), reach(id, r) AS (
  SELECT CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 37 <> 0
  UNION
  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r
)
SELECT id AS url, min(r) AS entity_id FROM reach GROUP BY id
"""


def rl_fs_tf_bands(spark, sf_dir):
    """Splink-style term-frequency-adjusted FS weights + the 1969
    three-way decision rule (operators.fellegi_sunter.tf_adjusted_weight
    / classify_bands). Parameters are FIXED documented scalars (the EM
    lifecycle is rl_fs_match_weights' contract), so the oracle is pure
    closed-form arithmetic: prior log-odds + per-field agreement
    evidence, with g_lang's generic log2(m/u) traded for the
    value-specific log2(m/tf_v) when the pair agrees on a language —
    sharing a rare language is stronger evidence than sharing the
    corpus-dominant one. Bands classify the ROUNDED weight so the
    match/possible/non_match cut sits on engine-identical values."""
    from idd_hw6_record_linkage_spark.operators import fellegi_sunter as FS

    params = FS.FSParams(
        lam=0.2,
        m={"g_lev": 0.9, "g_jac": 0.85, "g_nc": 0.8, "g_lang": 0.95},
        u={"g_lev": 0.1, "g_jac": 0.15, "g_nc": 0.2, "g_lang": 0.5},
        n_iter=0,
        avg_log_likelihood=0.0,
    )
    feats = ["g_lev", "g_jac", "g_nc", "g_lang"]
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    gam = (
        rl_pair_features(spark, sf_dir)
        .select(
            "id_l",
            "id_r",
            (F.col("lev_sim") >= 0.9).cast("int").alias("g_lev"),
            (F.col("jaccard_sim") >= 0.8).cast("int").alias("g_jac"),
            (F.col("nchars_sim") >= 0.9).cast("int").alias("g_nc"),
        )
        .join(
            langs.withColumnsRenamed({"doc_id": "id_l", "lang": "lang_l"}),
            "id_l",
        )
        .join(
            langs.withColumnsRenamed({"doc_id": "id_r", "lang": "lang_r"}),
            "id_r",
        )
        .withColumn(
            "g_lang",
            F.when(
                F.col("lang_l").isNull() | F.col("lang_r").isNull(),
                F.lit(None).cast("int"),
            ).otherwise((F.col("lang_l") == F.col("lang_r")).cast("int")),
        )
        .withColumn(
            "lang",
            F.when(F.col("g_lang") == 1, F.col("lang_l")),
        )
        .drop("lang_l", "lang_r")
    )
    tf = FS.term_frequencies(_docs(spark, sf_dir), "lang")
    out = FS.tf_adjusted_weight(
        gam, params, feats, "g_lang", "lang", tf
    ).withColumn("match_weight", F.round("match_weight", 6))
    return FS.classify_bands(
        out, "match_weight", upper=4.0, lower=0.0
    ).select("id_l", "id_r", *feats, "match_weight", "band")


SQL_RL_FS_TF_BANDS = f"""
WITH pf AS ({SQL_RL_PAIR_FEATURES}
), langs AS (
  SELECT doc_id, lang FROM documents
), tf AS (
  SELECT lang, count(*) / CAST(
    (SELECT count(*) FROM documents WHERE lang IS NOT NULL) AS DOUBLE
  ) AS tf
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
), gam AS (
  SELECT pf.id_l, pf.id_r,
         CAST(lev_sim >= 0.9 AS INT) AS g_lev,
         CAST(jaccard_sim >= 0.8 AS INT) AS g_jac,
         CAST(nchars_sim >= 0.9 AS INT) AS g_nc,
         CASE WHEN a.lang IS NULL OR b.lang IS NULL THEN NULL
              ELSE CAST(a.lang = b.lang AS INT) END AS g_lang,
         CASE WHEN a.lang = b.lang THEN a.lang END AS lang
  FROM pf
  JOIN langs a ON a.doc_id = pf.id_l
  JOIN langs b ON b.doc_id = pf.id_r
), w AS (
  SELECT g.id_l, g.id_r, g.g_lev, g.g_jac, g.g_nc, g.g_lang,
    CAST(round(
      ln(0.2 / 0.8) / ln(2)
      + g_lev * ln(0.9 / 0.1) / ln(2)
      + (1 - g_lev) * ln(0.1 / 0.9) / ln(2)
      + g_jac * ln(0.85 / 0.15) / ln(2)
      + (1 - g_jac) * ln(0.15 / 0.85) / ln(2)
      + g_nc * ln(0.8 / 0.2) / ln(2)
      + (1 - g_nc) * ln(0.2 / 0.8) / ln(2)
      + CASE WHEN g_lang IS NULL THEN 0.0
             ELSE g_lang * ln(0.95 / 0.5) / ln(2)
                  + (1 - g_lang) * ln(0.05 / 0.5) / ln(2) END
      + CASE WHEN g_lang = 1 AND t.tf IS NOT NULL
             THEN (ln(0.5) - ln(t.tf)) / ln(2) ELSE 0.0 END
    , 6) AS DOUBLE) AS match_weight
  FROM gam g LEFT JOIN tf t ON t.lang = g.lang
)
SELECT id_l, id_r, g_lev, g_jac, g_nc, g_lang, match_weight,
       CASE WHEN match_weight >= 4.0 THEN 'match'
            WHEN match_weight <= 0.0 THEN 'non_match'
            ELSE 'possible' END AS band
FROM w
"""


def rl_blocking_scheme_eval(spark, sf_dir):
    """Blocking-scheme bake-off (operators.blocking_eval): three
    schemes — B2-key equality blocking, sorted-neighborhood (w=4 on
    the trimmed 24-char text prefix), and purged token blocking
    ([2,400] block sizes) — each scored on reduction ratio and pairs
    completeness against the same synthetic truth rl_eval_metrics
    uses. One row per scheme; pair orientation canonicalized to
    (least, greatest) so every scheme compares against truth in the
    same key space."""
    from idd_hw6_record_linkage_spark.operators import (
        blocking_eval,
        meta_blocking as MB,
        sorted_neighborhood as SN,
    )

    docs = _docs(spark, sf_dir)
    total = docs.count()
    truth = _source_truth(spark, sf_dir)
    b2 = rl_candidate_pairs(spark, sf_dir).select("id_l", "id_r")
    sn = SN.sorted_neighborhood_pairs(
        docs.select(
            "doc_id", F.substring(F.trim("text"), 1, 24).alias("sn_key")
        ),
        "doc_id",
        "sn_key",
        window=4,
    ).select(
        F.least("id_l", "id_r").alias("id_l"),
        F.greatest("id_l", "id_r").alias("id_r"),
    )
    tok = MB.blocking_graph(
        blocking.purge_blocks(
            MB.token_blocking(docs, "doc_id", "text", min_token_len=4),
            "block_key",
            min_size=2,
            max_size=400,
        ),
        "cbs",
    ).select("id_l", "id_r")
    return blocking_eval.scheme_metrics(
        {
            "b2_equality": b2,
            "sorted_neighborhood_w4": sn,
            "token_purged": tok,
        },
        truth,
        total,
    )


SQL_RL_BLOCKING_SCHEME_EVAL = f"""
WITH truth AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE abs(a.n_chars - b.n_chars) <= 10
), b2 AS (
  SELECT DISTINCT id_l, id_r FROM ({SQL_RL_CANDIDATE_PAIRS})
), snp AS (
  SELECT doc_id, row_number() OVER (
           ORDER BY substr(trim(text), 1, 24), doc_id) - 1 AS pos
  FROM documents WHERE text IS NOT NULL
), sn AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_l,
         greatest(a.doc_id, b.doc_id) AS id_r
  FROM snp a JOIN snp b ON b.pos - a.pos BETWEEN 1 AND 3
), tb_toks AS (
  SELECT DISTINCT doc_id, t.tok AS block_key
  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(tok)
  WHERE text IS NOT NULL AND length(t.tok) >= 4
), tb_keys AS (
  SELECT tb_toks.* FROM tb_toks
  JOIN (SELECT block_key, count(*) AS n FROM tb_toks GROUP BY 1) s
    USING (block_key)
  WHERE s.n BETWEEN 2 AND 400
), tok AS (
  SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
  FROM tb_keys a JOIN tb_keys b
    ON a.block_key = b.block_key AND a.doc_id < b.doc_id
), tot AS (SELECT count(*) AS n FROM documents),
tn AS (SELECT count(*) AS nt FROM truth)
SELECT s.scheme, s.n_pairs,
  round(1.0 - s.n_pairs / ((SELECT n FROM tot) * ((SELECT n FROM tot) - 1)
        / 2.0), 6) AS reduction_ratio,
  round(CASE WHEN (SELECT nt FROM tn) > 0
        THEN s.n_cov / CAST((SELECT nt FROM tn) AS DOUBLE)
        ELSE 0.0 END, 6) AS pairs_completeness
FROM (
  SELECT 'b2_equality' AS scheme,
    CAST((SELECT count(*) FROM b2) AS BIGINT) AS n_pairs,
    (SELECT count(*) FROM b2 JOIN truth USING (id_l, id_r)) AS n_cov
  UNION ALL
  SELECT 'sorted_neighborhood_w4',
    CAST((SELECT count(*) FROM sn) AS BIGINT),
    (SELECT count(*) FROM sn JOIN truth USING (id_l, id_r))
  UNION ALL
  SELECT 'token_purged',
    CAST((SELECT count(*) FROM tok) AS BIGINT),
    (SELECT count(*) FROM tok JOIN truth USING (id_l, id_r))
) s
"""


def rl_golden_records(spark, sf_dir):
    """Survivorship (operators.survivorship.consolidate_clusters):
    collapse each linkage cluster (rl_clusters basis) into one golden
    record — canonical_id = min member id, text = longest (ties to
    smallest), lang/source = mode (ties to smallest), n_chars = max.
    Every rule is deterministic, so the golden table is value-exact
    across engines."""
    from idd_hw6_record_linkage_spark.operators.survivorship import (
        consolidate_clusters,
    )

    clusters = rl_clusters(spark, sf_dir)  # (url, entity_id), string ids
    # localCheckpoint (eager): consolidate_clusters scans the member
    # table once per rule family (plain aggs + one pass per mode
    # column); unmaterialized, every scan re-runs the whole CC
    # fixpoint output join (12 parquet scans in the r05 plan).
    members = clusters.join(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("url"),
            F.col("doc_id").cast("string").alias("canonical_id"),
            "text", "lang", "source", "n_chars",
        ),
        "url",
    ).localCheckpoint(eager=True)
    return consolidate_clusters(
        members,
        "entity_id",
        {
            "canonical_id": "min",
            "text": "longest",
            "lang": "mode",
            "source": "mode",
            "n_chars": "max",
        },
    )


SQL_RL_GOLDEN_RECORDS = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
j AS (
  SELECT cl.entity_id, cl.url AS member_id, d.text, d.lang, d.source,
         d.n_chars
  FROM cl JOIN documents d ON CAST(d.doc_id AS VARCHAR) = cl.url
), plain AS (
  SELECT entity_id, min(member_id) AS canonical_id,
         max(n_chars) AS n_chars
  FROM j GROUP BY entity_id
), longest AS (
  SELECT entity_id, text FROM (
    SELECT entity_id, text,
           row_number() OVER (PARTITION BY entity_id
                              ORDER BY length(text) DESC, text ASC) AS rn
    FROM j WHERE text IS NOT NULL) WHERE rn = 1
), mode_lang AS (
  SELECT entity_id, lang FROM (
    SELECT entity_id, lang,
           row_number() OVER (PARTITION BY entity_id
                              ORDER BY cnt DESC, lang ASC) AS rn
    FROM (SELECT entity_id, lang, count(*) AS cnt FROM j
          WHERE lang IS NOT NULL GROUP BY 1, 2)) WHERE rn = 1
), mode_source AS (
  SELECT entity_id, source FROM (
    SELECT entity_id, source,
           row_number() OVER (PARTITION BY entity_id
                              ORDER BY cnt DESC, source ASC) AS rn
    FROM (SELECT entity_id, source, count(*) AS cnt FROM j
          WHERE source IS NOT NULL GROUP BY 1, 2)) WHERE rn = 1
)
SELECT p.entity_id, p.canonical_id, l.text, ml.lang, ms.source, p.n_chars
FROM plain p
LEFT JOIN longest l ON l.entity_id = p.entity_id
LEFT JOIN mode_lang ml ON ml.entity_id = p.entity_id
LEFT JOIN mode_source ms ON ms.entity_id = p.entity_id
"""


def rl_constraint_check(spark, sf_dir):
    """Cannot-link constraint audit (operators.cluster_audit
    .constraint_check): per source, the two lowest-doc_id records form
    a deterministic cannot-link pair (stand-in for a business rule
    like 'two records of the same source must not co-resolve in a
    dedup run'); each constraint is annotated with both records'
    entity assignments and a violated flag. Two hash joins of the
    small constraint table against the assignment table — the
    assignment side is the only corpus-sized shuffle."""
    from pyspark.sql.window import Window

    from idd_hw6_record_linkage_spark.operators.cluster_audit import (
        constraint_check,
    )

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("source").isNotNull())
        .select("source", "doc_id")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    rn = docs.withColumn("__rn", F.row_number().over(w))
    a = rn.where(F.col("__rn") == 1).select(
        "source", F.col("doc_id").cast("string").alias("id_l")
    )
    b = rn.where(F.col("__rn") == 2).select(
        "source", F.col("doc_id").cast("string").alias("id_r")
    )
    pairs = a.join(b, "source")
    out = constraint_check(rl_clusters(spark, sf_dir), pairs, id_col="url")
    return out.select(
        "source", "id_l", "id_r", "cluster_l", "cluster_r", "violated"
    )


SQL_RL_CONSTRAINT_CHECK = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
d AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents WHERE source IS NOT NULL
), p AS (
  SELECT a.source, CAST(a.doc_id AS VARCHAR) AS id_l,
         CAST(b.doc_id AS VARCHAR) AS id_r
  FROM d a JOIN d b ON a.source = b.source AND a.rn = 1 AND b.rn = 2
)
SELECT p.source, p.id_l, p.id_r,
       ca.entity_id AS cluster_l, cb.entity_id AS cluster_r,
       (ca.entity_id IS NOT NULL AND cb.entity_id IS NOT NULL
        AND ca.entity_id = cb.entity_id) AS violated
FROM p
LEFT JOIN cl ca ON ca.url = p.id_l
LEFT JOIN cl cb ON cb.url = p.id_r
"""


def rl_score_auc(spark, sf_dir):
    """Exact tie-aware ROC AUC of the pair score against the synthetic
    truth (the one-number companion to rl_threshold_sweep's operating
    points; ranking quality over CANDIDATE pairs — blocking misses are
    recall's problem, rl_eval_metrics'). Mann-Whitney in pure integer
    arithmetic so both engines agree bit-for-bit: group pairs by
    distinct score (bounded: scores are rounded to 6 decimals, so the
    grouped table never exceeds ~1e6 rows no matter the corpus — the
    ONLY window here runs over that bounded table, never the pair
    table), then 2*numerator = sum(n_pos * (2*cum_neg_below + n_neg)),
    one exact division at the end."""
    from pyspark.sql.window import Window

    scored = rl_pair_features(spark, sf_dir).select("id_l", "id_r", "score")
    truth = _source_truth(spark, sf_dir)
    flagged = scored.join(truth.withColumn("__t", F.lit(1)), ["id_l", "id_r"], "left")
    is_true = F.coalesce(F.col("__t"), F.lit(0))
    by_score = flagged.groupBy("score").agg(
        F.sum(is_true).cast("long").alias("np"),
        F.sum(1 - is_true).cast("long").alias("nn"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = by_score.withColumn(
        "cum_nn", F.coalesce(F.sum("nn").over(w), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cum_nn") + F.col("nn")))
        .cast("long")
        .alias("num2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("num2") / (2.0 * F.col("n_pos") * F.col("n_neg")), 6
            ),
        ).alias("auc"),
    )


SQL_RL_SCORE_AUC = f"""
WITH pf AS ({SQL_RL_PAIR_FEATURES}
), truth AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE abs(a.n_chars - b.n_chars) <= 10
), flagged AS (
  SELECT pf.score,
         CASE WHEN t.id_l IS NOT NULL THEN 1 ELSE 0 END AS is_true
  FROM pf LEFT JOIN truth t ON t.id_l = pf.id_l AND t.id_r = pf.id_r
), by_score AS (
  SELECT score, CAST(sum(is_true) AS BIGINT) AS np,
         CAST(sum(1 - is_true) AS BIGINT) AS nn
  FROM flagged GROUP BY score
), cum AS (
  SELECT np, nn,
         CAST(coalesce(sum(nn) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_nn
  FROM by_score
), agg AS (
  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         CAST(sum(nn) AS BIGINT) AS n_neg,
         CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS num2
  FROM cum
)
SELECT n_pos, n_neg,
  CASE WHEN n_pos > 0 AND n_neg > 0
       THEN CAST(round(num2 / (2.0 * n_pos * n_neg), 6) AS DOUBLE)
  END AS auc
FROM agg
"""


def rl_cluster_audit(spark, sf_dir):
    """Cluster-quality audit (operators.cluster_audit.cluster_quality)
    over the linkage result: per multi-member cluster, edge density
    (n_edges / C(n,2)) and minimum member degree, with a suspect flag
    for sparse clusters or large clusters hanging on a degree-1 bridge
    — the over-merge review queue transitive closure needs. Density is
    an exact integer ratio (one division), so the audit is value-exact
    across engines."""
    from idd_hw6_record_linkage_spark.operators.cluster_audit import (
        cluster_quality,
    )

    clusters = rl_clusters(spark, sf_dir)
    edges = rl_match_edges(spark, sf_dir).select(
        F.col("id_l").cast("string").alias("id_l"),
        F.col("id_r").cast("string").alias("id_r"),
    )
    return cluster_quality(clusters, edges, min_density=0.9)


SQL_RL_CLUSTER_AUDIT = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
e0 AS (
  SELECT DISTINCT CAST(id_l AS VARCHAR) AS id_l,
         CAST(id_r AS VARCHAR) AS id_r
  FROM ({SQL_RL_MATCH_EDGES})
), mem AS (
  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
  FROM cl GROUP BY 1
), ec AS (
  SELECT cl.entity_id, CAST(count(*) AS BIGINT) AS n_edges
  FROM e0 JOIN cl ON cl.url = e0.id_l GROUP BY 1
), deg AS (
  SELECT id, count(*) AS d FROM (
    SELECT id_l AS id FROM e0 UNION ALL SELECT id_r FROM e0
  ) GROUP BY 1
), md AS (
  SELECT cl.entity_id, CAST(min(deg.d) AS BIGINT) AS min_degree
  FROM cl JOIN deg ON deg.id = cl.url GROUP BY 1
), base AS (
  SELECT m.entity_id, m.n_members,
         CAST(coalesce(ec.n_edges, 0) AS BIGINT) AS n_edges,
         round(coalesce(ec.n_edges, 0)
               / (m.n_members * (m.n_members - 1) / 2.0), 6) AS density,
         CAST(coalesce(md.min_degree, 0) AS BIGINT) AS min_degree
  FROM mem m
  LEFT JOIN ec ON ec.entity_id = m.entity_id
  LEFT JOIN md ON md.entity_id = m.entity_id
  WHERE m.n_members >= 2
)
SELECT *, (density < 0.9 OR (min_degree <= 1 AND n_members > 2)) AS suspect
FROM base
"""


def rl_attach_increment(spark, sf_dir):
    """Batch incremental linkage (operators.attach.attach_to_clusters):
    the doc_id % 7 == 0 slice plays today's delta, the rest the
    resolved corpus (entities = exact-text groups labeled by min
    member id, NULL-text docs singletons). Delta records block+score
    against the corpus with the shared feature set and attach to the
    best cluster at >= 0.5 (max member score, ties to the smaller
    entity label), else found their own singleton entity."""
    from idd_hw6_record_linkage_spark.operators.attach import (
        attach_to_clusters,
    )

    scored = _cross_source_scored(
        spark,
        sf_dir,
        l_filter=F.col("doc_id") % 7 == 0,
        r_filter=F.col("doc_id") % 7 != 0,
    ).select(
        F.col("id_l").cast("string").alias("id_new"),
        F.col("id_r").cast("string").alias("id_old"),
        "score",
    )
    ex = _docs(spark, sf_dir).where(F.col("doc_id") % 7 != 0).select(
        "doc_id", "text"
    )
    grp = ex.where(F.col("text").isNotNull()).groupBy("text").agg(
        F.min("doc_id").alias("__ent")
    )
    clusters = ex.join(grp, "text", "left").select(
        F.col("doc_id").cast("string").alias("url"),
        F.coalesce("__ent", "doc_id").cast("string").alias("entity_id"),
    )
    new_ids = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").cast("string").alias("url")
    )
    return attach_to_clusters(scored, clusters, new_ids, threshold=0.5)


def rl_threshold_sweep(spark, sf_dir):
    """Operating-point curve (operators.evaluation.threshold_sweep):
    P/R/F1 of the pair-feature mean score against the synthetic truth
    at six candidate thresholds, in one pass (pairs exploded by the
    six scalars, aggregated per threshold; FN includes blocking
    misses via |truth| - tp)."""
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        threshold_sweep,
    )

    scored = rl_pair_features(spark, sf_dir).select("id_l", "id_r", "score")
    truth = _source_truth(spark, sf_dir)
    return threshold_sweep(
        scored, truth, [0.3, 0.4, 0.5, 0.6, 0.7, 0.8]
    )


SQL_RL_THRESHOLD_SWEEP = f"""
WITH pf AS ({SQL_RL_PAIR_FEATURES}
), truth AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE abs(a.n_chars - b.n_chars) <= 10
), tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
flagged AS (
  SELECT pf.score,
         CASE WHEN t.id_l IS NOT NULL THEN 1 ELSE 0 END AS is_true
  FROM pf LEFT JOIN truth t ON t.id_l = pf.id_l AND t.id_r = pf.id_r
), th AS (
  SELECT * FROM (VALUES (0.3), (0.4), (0.5), (0.6), (0.7), (0.8))
    AS v(threshold)
), agg AS (
  SELECT th.threshold,
    CAST(sum(CASE WHEN f.score >= th.threshold THEN f.is_true
             ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN f.score >= th.threshold THEN 1 - f.is_true
             ELSE 0 END) AS BIGINT) AS fp
  FROM th CROSS JOIN flagged f GROUP BY 1
)
SELECT CAST(threshold AS DOUBLE) AS threshold, tp, fp,
  CAST((SELECT n_truth FROM tn) - tp AS BIGINT) AS fn,
  round(CASE WHEN tp + fp > 0
        THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS precision,
  round(CASE WHEN (SELECT n_truth FROM tn) > 0
        THEN tp / CAST((SELECT n_truth FROM tn) AS DOUBLE)
        ELSE 0.0 END, 6) AS recall,
  round(CASE WHEN (CASE WHEN tp + fp > 0
              THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
            + (CASE WHEN (SELECT n_truth FROM tn) > 0
               THEN tp / CAST((SELECT n_truth FROM tn) AS DOUBLE)
               ELSE 0.0 END) > 0
        THEN 2 * (CASE WHEN tp + fp > 0
                  THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
               * (tp / CAST((SELECT n_truth FROM tn) AS DOUBLE))
             / ((CASE WHEN tp + fp > 0
                 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                + (tp / CAST((SELECT n_truth FROM tn) AS DOUBLE)))
        ELSE 0.0 END, 6) AS f1
FROM agg
"""


def rl_soundex_keys(spark, sf_dir):
    """Phonetic (Soundex) blocking keys per record
    (functions.phonetic.soundex_key — Spark's native JVM soundex,
    whole-stage codegen). The key token is the first alphabetic word
    of the part name (the testdata's only real-word column), matching
    the realistic usage: soundex over a CLEANED name part. The DuckDB
    oracle RECOMPUTES the full algorithm from scratch in portable SQL
    (functions.phonetic.soundex_sql — DuckDB has no soundex built-in),
    so this is value-exact at the row level, not a constant gate.
    Map-only: no shuffle beyond the testbed scan widening."""
    from idd_hw6_record_linkage_spark.functions.phonetic import soundex_key

    tok = F.upper(F.split(F.col("p_name"), " ").getItem(0))
    return _scan(spark, sf_dir, "part").select(
        "p_partkey",
        tok.alias("name_token"),
        soundex_key(tok).alias("sdx_key"),
    )


def rl_soundex_blocks(spark, sf_dir):
    """Block-size profile of the soundex key: records and implied
    within-block pair count C(n,2) per phonetic block — the number a
    blocking-scheme designer reads before adopting a key (same shape
    as rl_block_stats for the B2 key). One hash-aggregate shuffle on
    a 4-char key; at corpus scale soundex has at most 26x7^3 distinct
    values so the aggregate state is trivially bounded."""
    from idd_hw6_record_linkage_spark.functions.phonetic import soundex_key

    tok = F.upper(F.split(F.col("p_name"), " ").getItem(0))
    return (
        _scan(spark, sf_dir, "part", widen=False)
        .select(soundex_key(tok).alias("sdx_key"))
        .groupBy("sdx_key")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
            .cast("long")
            .alias("n_pairs"),
        )
    )


def _sql_soundex_queries() -> tuple[str, str]:
    from idd_hw6_record_linkage_spark.functions.phonetic import soundex_sql

    sdx = soundex_sql("upper(split_part(p_name, ' ', 1))")
    keys = f"""
SELECT p_partkey, upper(split_part(p_name, ' ', 1)) AS name_token,
       {sdx} AS sdx_key
FROM part
"""
    blocks = f"""
SELECT {sdx} AS sdx_key,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs
FROM part GROUP BY 1
"""
    return keys, blocks


SQL_RL_SOUNDEX_KEYS, SQL_RL_SOUNDEX_BLOCKS = _sql_soundex_queries()


def rl_refined_soundex(spark, sf_dir):
    """Refined Soundex keys (functions.phonetic.refined_soundex_key —
    Apache-Commons RefinedSoundex behavior: full-length run-collapsed
    digit string with vowel-zero separators kept, e.g.
    TESTING → T6036084) beside the classic 4-char Soundex key for the
    same token, plus the blocking designer's decision signal: is the
    refined key a strict refinement (finer or equal blocks)? Both keys
    are 100% native expressions; the DuckDB oracle recomputes BOTH
    algorithms from scratch in portable SQL (neither exists in DuckDB),
    so every row is value-exact. Map-only."""
    from idd_hw6_record_linkage_spark.functions.phonetic import (
        refined_soundex_key,
        soundex_key,
    )

    tok = F.upper(F.split(F.col("p_name"), " ").getItem(0))
    return _scan(spark, sf_dir, "part").select(
        "p_partkey",
        tok.alias("name_token"),
        soundex_key(tok).alias("sdx_key"),
        refined_soundex_key(tok).alias("rsdx_key"),
    )


def _sql_refined_soundex_query() -> str:
    from idd_hw6_record_linkage_spark.functions.phonetic import (
        refined_soundex_sql,
        soundex_sql,
    )

    tok = "upper(split_part(p_name, ' ', 1))"
    return f"""
SELECT p_partkey, {tok} AS name_token,
       {soundex_sql(tok)} AS sdx_key,
       {refined_soundex_sql(tok)} AS rsdx_key
FROM part
"""


SQL_RL_REFINED_SOUNDEX = _sql_refined_soundex_query()


def rl_nysiis_keys(spark, sf_dir):
    """NYSIIS phonetic blocking keys (functions.phonetic.nysiis_key —
    Taft 1970, the classic name key next to Soundex) per record, in
    both the classic 6-char-truncated form and the untruncated
    fine-blocking form, over the same cleaned first-name-token basis
    as rl_soundex_keys. The encoder is a 100% native order-pinned
    regexp_replace/translate chain (whole-stage codegen, map-only);
    the DuckDB oracle RECOMPUTES the full pass chain from scratch
    (generated from the SAME pass tables, so the two engines cannot
    drift), making every row value-exact — the strongest contract a
    rule-based encoder can carry. Reference anchor: the reference
    blocks on synonym-map + prefix keys only (blocking_B1.py /
    blocking_B2.py); phonetic keys are the standard blocking family
    it lacks (SURVEY §2.3)."""
    from idd_hw6_record_linkage_spark.functions.phonetic import nysiis_key

    tok = F.upper(F.split(F.col("p_name"), " ").getItem(0))
    return _scan(spark, sf_dir, "part").select(
        "p_partkey",
        tok.alias("name_token"),
        nysiis_key(tok, max_len=6).alias("nys_key"),
        nysiis_key(tok, max_len=0).alias("nys_key_full"),
    )


def _sql_nysiis_query() -> str:
    from idd_hw6_record_linkage_spark.functions.phonetic import nysiis_sql

    tok = "upper(split_part(p_name, ' ', 1))"
    return f"""
SELECT p_partkey, {tok} AS name_token,
       {nysiis_sql(tok, max_len=6)} AS nys_key,
       {nysiis_sql(tok, max_len=0)} AS nys_key_full
FROM part
"""


SQL_RL_NYSIIS_KEYS = _sql_nysiis_query()


def rl_cologne_keys(spark, sf_dir):
    """Kölner Phonetik blocking keys
    (functions.phonetic.cologne_key — Postel 1969, the standard
    phonetic key for German names and the fourth family next to
    Soundex/NYSIIS/MRA) over the same cleaned first-name-token basis
    as rl_soundex_keys. The encoder is an order-pinned
    regexp_replace/translate chain generated for BOTH engines from
    the SAME pass table (the engines cannot drift) and reproduces the
    canonical published vectors (MUELLER→657, BRESCHNEW→17863,
    WIKIPEDIA→3412); the DuckDB oracle recomputes the full chain from
    scratch — value-exact at the row level. Map-only, whole-stage
    codegen."""
    from idd_hw6_record_linkage_spark.functions.phonetic import cologne_key

    tok = F.upper(F.split(F.col("p_name"), " ").getItem(0))
    return _scan(spark, sf_dir, "part").select(
        "p_partkey",
        tok.alias("name_token"),
        cologne_key(tok).alias("koeln_key"),
    )


def _sql_cologne_query() -> str:
    from idd_hw6_record_linkage_spark.functions.phonetic import cologne_sql

    tok = "upper(split_part(p_name, ' ', 1))"
    return f"""
SELECT p_partkey, {tok} AS name_token,
       {cologne_sql(tok)} AS koeln_key
FROM part
"""


SQL_RL_COLOGNE_KEYS = _sql_cologne_query()


def rl_mra(spark, sf_dir):
    """Match Rating Approach codex + similarity-rating comparison
    (functions.mra — Western Airlines 1977, the third classic
    phonetic family next to Soundex/NYSIIS and the only one that
    ships its OWN matcher). Codices over the cleaned first-name
    token of each part (same basis as rl_soundex_keys); pairs within
    (p_brand, p_size) blocks — bounded block sizes at every SF,
    so the quadratic never escapes a block. Every column is a native
    unrolled expression (codices are <=6 chars by construction) and
    the DuckDB oracle recomputes codex, rating, length gate, and
    acceptance threshold from scratch — value-exact at the row level.
    Reference anchor: SURVEY §2.3 (the reference's only blocking keys
    are synonym-map + prefix)."""
    from idd_hw6_record_linkage_spark.functions.mra import (
        mra_codex,
        mra_comparable,
        mra_min_rating,
        mra_rating,
    )

    tok = F.upper(F.split(F.col("p_name"), " ").getItem(0))
    parts = _scan(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("psize"),
        tok.alias("tok"),
        mra_codex(tok).alias("mra"),
    )
    rating = mra_rating("mra_l", "mra_r")
    minr = mra_min_rating("mra_l", "mra_r")
    cmp_ok = mra_comparable("mra_l", "mra_r")
    return (
        blocking.self_pair_join(
            parts, "p_partkey", ["tok", "mra"], on=["brand", "psize"]
        )
        .select(
            "id_l",
            "id_r",
            "tok_l",
            "tok_r",
            "mra_l",
            "mra_r",
            rating.alias("rating"),
            minr.alias("min_rating"),
            cmp_ok.alias("comparable"),
            (cmp_ok & (rating >= minr)).alias("is_match"),
        )
    )


def _sql_mra_query() -> str:
    from idd_hw6_record_linkage_spark.functions.mra import (
        mra_codex_sql,
        mra_comparable_sql,
        mra_min_rating_sql,
        mra_rating_sql,
    )

    tok = "upper(split_part(p_name, ' ', 1))"
    fa_expr, fb_expr, rating = mra_rating_sql("mra_l", "mra_r")
    minr = mra_min_rating_sql("mra_l", "mra_r")
    cmp_ok = mra_comparable_sql("mra_l", "mra_r")
    return f"""
WITH c AS (
  SELECT p_partkey, p_brand, p_size, {tok} AS tok,
         {mra_codex_sql(tok)} AS mra
  FROM part
), p AS (
  SELECT a.p_partkey AS id_l, b.p_partkey AS id_r,
         a.tok AS tok_l, b.tok AS tok_r, a.mra AS mra_l, b.mra AS mra_r
  FROM c a JOIN c b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
), f AS (
  SELECT *, {fa_expr} AS __mra_fa, {fb_expr} AS __mra_fb FROM p
)
SELECT id_l, id_r, tok_l, tok_r, mra_l, mra_r,
       {rating} AS rating, {minr} AS min_rating,
       {cmp_ok} AS comparable,
       CAST(({cmp_ok}) AND ({rating}) >= ({minr}) AS BOOLEAN) AS is_match
FROM f
"""


SQL_RL_MRA = _sql_mra_query()


def rl_canopy_blocks(spark, sf_dir):
    """Canopy blocking (operators.canopy — McCallum/Nigam/Ungar KDD
    2000) over the documents table: deterministic hash-fate-sampled
    centers (center_rate=0.2 on the md5 fate basis shared with
    operators.sampling), one inverted-index token join, set Jaccard
    over df-capped whitespace tokens, loose/tight thresholds
    t1=0.3 / t2=0.7, singleton fallback so every record lands in a
    canopy. The DuckDB oracle recomputes fate sample, df cap, sizes,
    overlap join, Jaccard, thresholds and the singleton anti-join from
    scratch — value-exact. Scale: fan-out per token bounded by
    max_df² × center_rate; all shuffles are hash joins/aggregates on
    token or id keys (see module docstring)."""
    from idd_hw6_record_linkage_spark.operators.canopy import canopy_blocks

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.split(F.lower(F.trim("text")), r"\s+").alias("toks"),
    )
    return canopy_blocks(
        docs,
        "doc_id",
        "toks",
        center_rate=0.2,
        t1=0.3,
        t2=0.7,
        max_df=200,
    )


_SQL_CANOPY_FATE = (
    "('0x' || substr(md5('canopy' || CAST(id AS VARCHAR)), 1, 15))::BIGINT"
    " / 1152921504606846976.0"
)

SQL_RL_CANOPY_BLOCKS = f"""
WITH toks1 AS (
  SELECT id, token FROM (
    SELECT doc_id AS id,
           unnest(list_distinct(
             regexp_split_to_array(lower(trim(text)), '\\s+'))) AS token
    FROM documents
  ) WHERE token IS NOT NULL AND token <> ''
), freq AS (
  SELECT token, count(*) AS df FROM toks1 GROUP BY token
), toks AS (
  SELECT t.id, t.token FROM toks1 t JOIN freq f USING (token)
  WHERE f.df <= 200
), sizes AS (
  SELECT id, count(*) AS n FROM toks GROUP BY id
), centers AS (
  SELECT id AS canopy_id, token FROM toks
  WHERE {_SQL_CANOPY_FATE} < 0.2
), ov AS (
  SELECT t.id, c.canopy_id, count(*) AS ov
  FROM toks t JOIN centers c USING (token)
  GROUP BY 1, 2
), jac AS (
  SELECT o.id, o.canopy_id,
         o.ov / CAST(s1.n + s2.n - o.ov AS DOUBLE) AS j
  FROM ov o
  JOIN sizes s1 ON s1.id = o.id
  JOIN sizes s2 ON s2.id = o.canopy_id
), mem AS (
  SELECT id AS url, canopy_id, CAST(round(j, 6) AS DOUBLE) AS jaccard,
         j >= 0.7 AS is_tight
  FROM jac WHERE j >= 0.3
)
SELECT url, canopy_id, jaccard, is_tight FROM mem
UNION ALL
SELECT d.doc_id AS url, d.doc_id AS canopy_id,
       CAST(1.0 AS DOUBLE) AS jaccard, TRUE AS is_tight
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM mem m WHERE m.url = d.doc_id)
"""


def rl_star_clusters(spark, sf_dir):
    """One-round star clustering of the match graph
    (operators.graph_clustering.star_clusters — Aslam/Pelekhov/Rus,
    deterministic parallel form): centers are local maxima of the
    (degree DESC, id ASC) dominance order, satellites attach to their
    best adjacent center, singleton fallback otherwise. The
    precision-biased alternative to connected components — no
    chaining through a center, every cluster is a radius-1 star. The
    DuckDB oracle recomputes degrees, dominance, center selection,
    the best-center window and both fallbacks from scratch —
    value-exact. Scale: hash aggregations/joins on node ids; the
    assignment window ranks only each satellite's ADJACENT centers
    (bounded by its degree, which upstream block caps bound)."""
    from idd_hw6_record_linkage_spark.operators.graph_clustering import (
        star_clusters,
    )

    edges = rl_match_edges(spark, sf_dir).select("id_l", "id_r")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    return star_clusters(edges, docs, id_col="doc_id")


SQL_RL_STAR_CLUSTERS = f"""
WITH base AS MATERIALIZED (
  SELECT CAST(id_l AS VARCHAR) AS u, CAST(id_r AS VARCHAR) AS v
  FROM ({SQL_RL_MATCH_EDGES}) WHERE id_l <> id_r
), e AS MATERIALIZED (
  SELECT DISTINCT u, v FROM
    (SELECT u, v FROM base UNION ALL SELECT v, u FROM base)
), deg AS MATERIALIZED (
  SELECT u, count(*) AS deg FROM e GROUP BY u
), adj AS MATERIALIZED (
  SELECT e.u AS n, e.v AS m, dn.deg AS deg_n, dm.deg AS deg_m
  FROM e JOIN deg dn ON dn.u = e.u JOIN deg dm ON dm.u = e.v
), dominated AS MATERIALIZED (
  SELECT n, max(CASE WHEN deg_m > deg_n
                       OR (deg_m = deg_n AND m < n)
                     THEN 1 ELSE 0 END) AS dom
  FROM adj GROUP BY n
), universe AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS v FROM documents
), centers AS MATERIALIZED (
  SELECT u.v AS c FROM universe u LEFT JOIN dominated d ON d.n = u.v
  WHERE coalesce(d.dom, 0) = 0
), attached AS MATERIALIZED (
  SELECT n AS url, m AS star_id, FALSE AS is_center FROM (
    SELECT a.n, a.m,
           row_number() OVER (PARTITION BY a.n
                              ORDER BY a.deg_m DESC, a.m ASC) AS rn
    FROM adj a JOIN centers c ON c.c = a.m
  ) WHERE rn = 1
)
SELECT url, star_id, is_center FROM attached
UNION ALL
SELECT u.v AS url, u.v AS star_id,
       EXISTS (SELECT 1 FROM centers c WHERE c.c = u.v) AS is_center
FROM universe u
WHERE NOT EXISTS (SELECT 1 FROM attached a WHERE a.url = u.v)
"""


def rl_pivot_clusters(spark, sf_dir):
    """Round-synchronous pivot correlation clustering of the match
    graph (operators.graph_clustering.pivot_clusters — Ailon/Charikar/
    Newman's 3-approx pivot with the deterministic md5 rank standing
    in for the random permutation, parallelized per Chierichetti/
    Dalvi/Kumar KDD'14). Pinned to rounds=4: nodes unsettled after 4
    synchronous rounds become singletons, which makes the operator's
    output a pure function of the graph — the DuckDB oracle UNROLLS
    the same 4 rounds (min-rank pivot election, neighbor absorption,
    active-set shrink) as chained CTEs and matches value-exactly.
    Scale: per round, one edge×active join and two hash aggregations
    on node ids; localCheckpoint per round cuts lineage exactly like
    connected_components."""
    from idd_hw6_record_linkage_spark.operators.graph_clustering import (
        pivot_clusters,
    )

    edges = rl_match_edges(spark, sf_dir).select("id_l", "id_r")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    return pivot_clusters(edges, docs, id_col="doc_id", rounds=4)


def _sql_pivot_clusters(rounds: int = 4) -> str:
    # Every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    # the unrolled rounds reference each other multiply — inlining
    # expands the plan (and the documents scans inside the embedded
    # match-edges subquery) exponentially in the round count.
    parts = [
        f"""
WITH base AS MATERIALIZED (
  SELECT CAST(id_l AS VARCHAR) AS u, CAST(id_r AS VARCHAR) AS v
  FROM ({SQL_RL_MATCH_EDGES}) WHERE id_l <> id_r
), e AS MATERIALIZED (
  SELECT DISTINCT u, v FROM
    (SELECT u, v FROM base UNION ALL SELECT v, u FROM base)
), a0 AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         md5(CAST(doc_id AS VARCHAR)) || '|' || CAST(doc_id AS VARCHAR)
           AS rk
  FROM documents
)"""
    ]
    for i in range(rounds):
        parts.append(
            f""", mn{i} AS MATERIALIZED (
  SELECT e.u AS id, min(b.rk) AS mn
  FROM e JOIN a{i} a ON a.id = e.u JOIN a{i} b ON b.id = e.v
  GROUP BY e.u
), p{i} AS MATERIALIZED (
  SELECT a.id, a.rk FROM a{i} a LEFT JOIN mn{i} m ON m.id = a.id
  WHERE m.mn IS NULL OR a.rk < m.mn
), s{i} AS MATERIALIZED (
  SELECT e.u AS id, substr(min(p.rk), 34) AS pivot_id
  FROM e JOIN p{i} p ON p.id = e.v JOIN a{i} a ON a.id = e.u
  GROUP BY e.u
), a{i + 1} AS MATERIALIZED (
  SELECT a.id, a.rk FROM a{i} a
  WHERE NOT EXISTS (SELECT 1 FROM p{i} p WHERE p.id = a.id)
    AND NOT EXISTS (SELECT 1 FROM s{i} s WHERE s.id = a.id)
)"""
        )
    selects = [
        f"SELECT id AS url, id AS pivot_id FROM p{i}\nUNION ALL\n"
        f"SELECT id AS url, pivot_id FROM s{i}"
        for i in range(rounds)
    ]
    selects.append(f"SELECT id AS url, id AS pivot_id FROM a{rounds}")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


SQL_RL_PIVOT_CLUSTERS = _sql_pivot_clusters(4)


def corpus_mix_temperature(spark, sf_dir):
    """Temperature-mixing sample of the documents corpus BY LANGUAGE
    (operators.sampling.sample_temperature, alpha=0.5 — the
    multilingual-LM standard: flatten the skewed language distribution
    toward uniform by keeping each source at the share-lift rate
    q_s/p_s scaled so the most up-weighted source keeps everything;
    pure down-sampling on the md5 fate basis, so the sample is
    repartition-proof and engine-reproducible). The DuckDB oracle
    recomputes source weights, the pinned division chain
    ((p^0.5/Σp^0.5)/p, then /max), and the per-row fate filter from
    scratch — value-exact on the surviving rows. Scale: one hash
    aggregate on the source key; the rate table is sources-sized and
    broadcasts; the row filter is map-only."""
    from idd_hw6_record_linkage_spark.operators.sampling import (
        sample_temperature,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    out = sample_temperature(docs, "doc_id", "lang", alpha=0.5)
    return out.select(
        "doc_id",
        "lang",
        "n_src",
        F.round("p_src", 6).alias("p_src"),
        F.round("rate", 6).alias("rate"),
    )


_SQL_MIX_FATE = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    " / 1152921504606846976.0"
)

SQL_CORPUS_MIX_TEMPERATURE = f"""
WITH d AS (
  SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL
), w AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS w FROM d GROUP BY lang
), t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM w),
p AS (
  SELECT lang, w, CAST(w AS DOUBLE) / CAST(tot AS DOUBLE) AS p
  FROM w, t
), q AS (
  SELECT *, power(p, 0.5) AS qr FROM p
), qs AS (SELECT sum(qr) AS qsum FROM q),
m AS (
  SELECT lang, w, p, (qr / qsum) / p AS m FROM q, qs
), mm AS (SELECT max(m) AS mmax FROM m),
r AS (
  SELECT lang, w, p, m / mmax AS rate FROM m, mm
)
SELECT d.doc_id, d.lang, r.w AS n_src,
       CAST(round(r.p, 6) AS DOUBLE) AS p_src,
       CAST(round(r.rate, 6) AS DOUBLE) AS rate
FROM d JOIN r USING (lang)
WHERE {_SQL_MIX_FATE} < r.rate
"""


def corpus_chunk_docs(spark, sf_dir):
    """Fixed-token document chunking with overlap
    (operators.chunking.chunk_documents, 32-token windows advancing
    by 24 — every LM-pretraining packer and RAG indexer's splitter
    stage; Spark has no built-in). Chunk counts, offsets and window
    slices are pure integer arithmetic over the shared whitespace
    token basis, so the DuckDB oracle recomputes every chunk —
    including the rejoined chunk text — value-exactly. Map-only plan:
    split → sequence → posexplode → slice, zero shuffles beyond the
    testbed scan widening."""
    from idd_hw6_record_linkage_spark.operators.chunking import (
        chunk_documents,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return chunk_documents(
        docs, "doc_id", "text", chunk_tokens=32, overlap=8
    )


SQL_CORPUS_CHUNK_DOCS = """
WITH base AS (
  SELECT doc_id AS id,
         list_filter(
           regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
           t -> t <> '') AS toks
  FROM documents
), d AS (
  SELECT id, toks, len(toks) AS n,
         greatest((len(toks) - 8 + 23) // 24, 1) AS k
  FROM base WHERE len(toks) > 0
), e AS (
  SELECT id, toks, n,
         unnest(generate_series(0, k - 1)) AS chunk_id
  FROM d
)
SELECT id, CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(chunk_id * 24 AS BIGINT) AS tok_start,
       CAST(len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32))
            AS INTEGER) AS n_tokens,
       array_to_string(
         list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32),
         ' ') AS chunk_text
FROM e
"""


def rl_cluster_blanc(spark, sf_dir):
    """BLANC link-bilateral cluster agreement
    (operators.evaluation.blanc — Recasens & Hovy 2011): mean of the
    coreference-link F and the non-coreference-link F of the linkage
    clustering vs the exact-text truth groups. Closes the
    cluster-metric family (ARI chance-corrected, B³ record-weighted,
    MUC link-minimal, CEAF-φ3 whole-set, V/VI information-theoretic,
    GMD edit-cost): BLANC is the one that reports togetherness and
    separation symmetrically. Same pred/truth bases and the same
    three exact BIGINT contingency aggregates as rl_cluster_ari — no
    pairwise blowup; the oracle recomputes every doubled sum and the
    identical IEEE division shapes."""
    from idd_hw6_record_linkage_spark.operators.evaluation import blanc

    pred, truth = rl_clusters(spark, sf_dir), _text_truth(spark, sf_dir)
    return blanc(pred, truth)


SQL_RL_CLUSTER_BLANC = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
tr AS (
  SELECT CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN text IS NULL
              THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5(text) END AS truth_id
  FROM documents
), j AS (
  SELECT cl.entity_id AS c, tr.truth_id AS t
  FROM cl JOIN tr USING (url)
), sct AS (
  SELECT CAST(sum(n_ct * (n_ct - 1)) AS BIGINT) AS s_ct2
  FROM (SELECT count(*) AS n_ct FROM j GROUP BY c, t)
), sc AS (
  SELECT CAST(sum(n_c * (n_c - 1)) AS BIGINT) AS s_c2
  FROM (SELECT count(*) AS n_c FROM j GROUP BY c)
), st AS (
  SELECT CAST(sum(n_t * (n_t - 1)) AS BIGINT) AS s_t2
  FROM (SELECT count(*) AS n_t FROM j GROUP BY t)
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM j),
b AS (
  SELECT n_records, s_ct2, s_c2, s_t2,
         n_records * (n_records - 1) AS tot2
  FROM n, sct, sc, st
), r AS (
  SELECT *, tot2 - s_c2 - s_t2 + s_ct2 AS rnx2,
         tot2 - s_t2 AS rn2, tot2 - s_c2 AS sn2
  FROM b
), f AS (
  SELECT *,
    CASE WHEN s_c2 > 0 THEN CAST(s_ct2 AS DOUBLE) / CAST(s_c2 AS DOUBLE)
         ELSE 0.0 END AS p_c,
    CASE WHEN s_t2 > 0 THEN CAST(s_ct2 AS DOUBLE) / CAST(s_t2 AS DOUBLE)
         ELSE 0.0 END AS r_c,
    CASE WHEN sn2 > 0 THEN CAST(rnx2 AS DOUBLE) / CAST(sn2 AS DOUBLE)
         ELSE 0.0 END AS p_n,
    CASE WHEN rn2 > 0 THEN CAST(rnx2 AS DOUBLE) / CAST(rn2 AS DOUBLE)
         ELSE 0.0 END AS r_n
  FROM r
), g AS (
  SELECT *,
    CASE WHEN p_c + r_c > 0 THEN 2 * p_c * r_c / (p_c + r_c)
         ELSE 0.0 END AS f_c,
    CASE WHEN p_n + r_n > 0 THEN 2 * p_n * r_n / (p_n + r_n)
         ELSE 0.0 END AS f_n
  FROM f
)
SELECT n_records,
       s_t2 // 2 AS links_gold,
       s_c2 // 2 AS links_sys,
       s_ct2 // 2 AS links_right,
       CAST(round(f_c, 6) AS DOUBLE) AS blanc_c,
       CAST(round(f_n, 6) AS DOUBLE) AS blanc_n,
       CAST(round(CASE WHEN s_t2 = 0 AND s_c2 = 0 THEN f_n
                       WHEN rn2 = 0 AND sn2 = 0 THEN f_c
                       ELSE (f_c + f_n) / 2 END, 6) AS DOUBLE) AS blanc
FROM g
"""


def rl_monge_elkan(spark, sf_dir):
    """Monge-Elkan hybrid token-set similarity over the candidate
    pairs (functions.monge_elkan) — the comparator between whole-string
    edit distance and set Jaccard: token-order-tolerant AND typo-
    tolerant. Fully native (transform/array_max/aggregate higher-order
    functions, normalized-Levenshtein inner sim — the inner family the
    DuckDB oracle can reproduce exactly; the JW-inner production
    variant is pinned by pytest instead). Token arrays are sliced to
    the first 6 tokens BEFORE the pair join: ME is O(|A|x|B|) per pair,
    so the slice bounds compute and pair-shuffle bytes at any scale."""
    from idd_hw6_record_linkage_spark.functions.monge_elkan import (
        monge_elkan,
        monge_elkan_sym,
    )

    docs = _stage(_docs(spark, sf_dir).select(
        "doc_id",
        F.slice(F.split(F.trim("text"), r"\s+"), 1, 6).alias("toks"),
        _block_key().alias("block_key"),
    ))
    return (
        blocking.self_pair_join(docs, "doc_id", ["toks"])
        .select(
            "id_l",
            "id_r",
            F.round(monge_elkan("toks_l", "toks_r"), 6).alias("me_fwd"),
            F.round(monge_elkan_sym("toks_l", "toks_r"), 6).alias("me_sym"),
        )
    )


def _sql_monge_elkan_query() -> str:
    from idd_hw6_record_linkage_spark.functions.monge_elkan import (
        monge_elkan_sql,
        monge_elkan_sym_sql,
    )

    return f"""
WITH d AS (
  SELECT doc_id,
         list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 6) AS toks,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         a.toks AS toks_l, b.toks AS toks_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT id_l, id_r,
  CAST(round({monge_elkan_sql('toks_l', 'toks_r')}, 6) AS DOUBLE) AS me_fwd,
  CAST(round({monge_elkan_sym_sql('toks_l', 'toks_r')}, 6) AS DOUBLE) AS me_sym
FROM p
"""


SQL_RL_MONGE_ELKAN = _sql_monge_elkan_query()


def rl_damerau(spark, sf_dir):
    """Unrestricted Damerau-Levenshtein distance + normalized
    similarity over within-block candidate pairs
    (functions.damerau — batch-vectorized Arrow kernel over UTF-8
    bytes). The transposition-aware edit model for typo'd names and
    titles; unrestricted (Lowrance-Wagner) rather than OSA because
    that is the variant DuckDB's damerau_levenshtein implements, so
    the oracle is value-exact at the row level. Strings are sliced to
    the first 40 chars BEFORE the pair join — DL is O(L1·L2) per pair,
    so the slice bounds compute and pair-shuffle bytes at any scale
    (same discipline as rl_monge_elkan's 6-token slice). Only the
    integer distance crosses the Arrow boundary; the similarity
    normalization is native octet_length arithmetic."""
    from idd_hw6_record_linkage_spark.functions.damerau import (
        damerau_distance,
    )

    s = F.coalesce(F.substring(F.trim(F.col("text")), 1, 40), F.lit(""))
    docs = _stage(_docs(spark, sf_dir).select(
        "doc_id", s.alias("s"), _block_key().alias("block_key")
    ))
    denom = F.greatest(
        F.octet_length("s_l"), F.octet_length("s_r"), F.lit(1)
    )
    return (
        blocking.self_pair_join(docs, "doc_id", ["s"])
        .withColumn("dl_dist", damerau_distance("s_l", "s_r"))
        .select(
            "id_l",
            "id_r",
            "dl_dist",
            F.round(F.lit(1.0) - F.col("dl_dist") / denom, 6).alias(
                "dl_sim"
            ),
        )
    )


SQL_RL_DAMERAU = f"""
WITH d AS (
  SELECT doc_id, coalesce(substr(trim(text), 1, 40), '') AS s,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, a.s AS s_l, b.s AS s_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT id_l, id_r,
  CAST(damerau_levenshtein(s_l, s_r) AS BIGINT) AS dl_dist,
  CAST(round(1.0 - damerau_levenshtein(s_l, s_r)
             / greatest(strlen(s_l), strlen(s_r), 1), 6) AS DOUBLE)
    AS dl_sim
FROM p
"""


def rl_bcubed_eval(spark, sf_dir):
    """B-cubed cluster evaluation (operators.evaluation.bcubed) of the
    linkage clustering against exact-text truth groups (md5(text);
    NULL-text docs are their own singletons). Record-weighted, so the
    long tail of small entities counts — unlike pairwise F1, which the
    biggest clusters dominate quadratically."""
    from idd_hw6_record_linkage_spark.operators.evaluation import bcubed

    pred, truth = rl_clusters(spark, sf_dir), _text_truth(spark, sf_dir)
    return bcubed(pred, truth)


SQL_RL_BCUBED_EVAL = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
tr AS (
  SELECT CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN text IS NULL
              THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5(text) END AS truth_id
  FROM documents
), j AS (
  SELECT cl.entity_id AS c, tr.truth_id AS t
  FROM cl JOIN tr USING (url)
), nct AS (SELECT c, t, count(*) AS n_ct FROM j GROUP BY 1, 2),
nc AS (SELECT c, count(*) AS n_c FROM j GROUP BY 1),
nt AS (SELECT t, count(*) AS n_t FROM j GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM j),
ps AS (SELECT sum(n_ct * n_ct * 1.0 / n_c) AS ps FROM nct JOIN nc USING (c)),
rs AS (SELECT sum(n_ct * n_ct * 1.0 / n_t) AS rs FROM nct JOIN nt USING (t))
SELECT n.n_records,
       round(ps.ps / n.n_records, 6) AS bcubed_precision,
       round(rs.rs / n.n_records, 6) AS bcubed_recall,
       round(2 * (ps.ps / n.n_records) * (rs.rs / n.n_records)
             / ((ps.ps / n.n_records) + (rs.rs / n.n_records)),
             6) AS bcubed_f1
FROM n, ps, rs
"""


def rl_cluster_ari(spark, sf_dir):
    """Adjusted Rand Index (operators.evaluation.adjusted_rand_index)
    of the linkage clustering against the exact-text truth groups —
    the chance-corrected agreement companion to rl_bcubed_eval: ARI
    also credits agreement on separations (true negatives) and scores
    ~0 for a random or all-singletons clustering. Same pred/truth
    inputs as the B³ query; exact BIGINT contingency sums, one final
    IEEE-identical division per index."""
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        adjusted_rand_index,
    )

    pred, truth = rl_clusters(spark, sf_dir), _text_truth(spark, sf_dir)
    return adjusted_rand_index(pred, truth)


SQL_RL_CLUSTER_ARI = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
tr AS (
  SELECT CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN text IS NULL
              THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5(text) END AS truth_id
  FROM documents
), j AS (
  SELECT cl.entity_id AS c, tr.truth_id AS t
  FROM cl JOIN tr USING (url)
), sct AS (
  SELECT CAST(sum(n_ct * (n_ct - 1)) AS BIGINT) AS s_ct2
  FROM (SELECT count(*) AS n_ct FROM j GROUP BY c, t)
), sc AS (
  SELECT CAST(sum(n_c * (n_c - 1)) AS BIGINT) AS s_c2
  FROM (SELECT count(*) AS n_c FROM j GROUP BY c)
), st AS (
  SELECT CAST(sum(n_t * (n_t - 1)) AS BIGINT) AS s_t2
  FROM (SELECT count(*) AS n_t FROM j GROUP BY t)
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM j),
d AS (
  SELECT n_records, s_ct2, s_c2, s_t2,
         CAST(n_records * (n_records - 1) AS DOUBLE) AS tot2,
         CAST(s_ct2 AS DOUBLE) AS ct2,
         CAST(s_c2 AS DOUBLE) AS c2,
         CAST(s_t2 AS DOUBLE) AS t2
  FROM n, sct, sc, st
)
SELECT n_records,
       CAST(s_ct2 // 2 AS BIGINT) AS pairs_both,
       CASE WHEN tot2 > 0
            THEN CAST(round((tot2 - c2 - t2 + 2 * ct2) / tot2, 6) AS DOUBLE)
            ELSE 1.0 END AS rand_index,
       CASE WHEN tot2 * (c2 + t2) - 2 * c2 * t2 <> 0
            THEN CAST(round((2 * ct2 * tot2 - 2 * c2 * t2)
                            / (tot2 * (c2 + t2) - 2 * c2 * t2), 6) AS DOUBLE)
            ELSE 1.0 END AS adjusted_rand
FROM d
"""


def rl_cluster_vmeasure(spark, sf_dir):
    """V-measure (homogeneity/completeness) + Variation of Information
    (operators.evaluation.cluster_entropy_metrics) of the linkage
    clustering vs the exact-text truth — the entropy lens next to
    rl_bcubed_eval and rl_cluster_ari: homogeneity sees over-merge,
    completeness sees over-split, separately. Same pred/truth basis;
    four log-sums over the shared contingency aggregates."""
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        cluster_entropy_metrics,
    )

    pred, truth = rl_clusters(spark, sf_dir), _text_truth(spark, sf_dir)
    return cluster_entropy_metrics(pred, truth)


SQL_RL_CLUSTER_VMEASURE = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
tr AS (
  SELECT CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN text IS NULL
              THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5(text) END AS truth_id
  FROM documents
), j AS (
  SELECT cl.entity_id AS c, tr.truth_id AS t
  FROM cl JOIN tr USING (url)
), nct AS (SELECT c, t, count(*) AS n_ct FROM j GROUP BY 1, 2),
nc AS (SELECT c, count(*) AS n_c FROM j GROUP BY 1),
nt AS (SELECT t, count(*) AS n_t FROM j GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM j),
stc AS (
  SELECT sum(CAST(n_ct AS DOUBLE)
             * ln(CAST(n_ct AS DOUBLE) / CAST(n_c AS DOUBLE))) AS s_tc
  FROM nct JOIN nc USING (c)
), sct AS (
  SELECT sum(CAST(n_ct AS DOUBLE)
             * ln(CAST(n_ct AS DOUBLE) / CAST(n_t AS DOUBLE))) AS s_ct
  FROM nct JOIN nt USING (t)
), st AS (
  SELECT sum(CAST(n_t AS DOUBLE)
             * ln(CAST(n_t AS DOUBLE) / CAST(n_records AS DOUBLE))) AS s_t
  FROM nt, n
), sc AS (
  SELECT sum(CAST(n_c AS DOUBLE)
             * ln(CAST(n_c AS DOUBLE) / CAST(n_records AS DOUBLE))) AS s_c
  FROM nc, n
), hc AS (
  SELECT n_records,
         CASE WHEN s_t <> 0 THEN 1 - s_tc / s_t ELSE 1.0 END AS h,
         CASE WHEN s_c <> 0 THEN 1 - s_ct / s_c ELSE 1.0 END AS c,
         -(s_tc + s_ct) / CAST(n_records AS DOUBLE) AS vi
  FROM n, stc, sct, st, sc
)
SELECT n_records,
       CAST(round(h, 6) AS DOUBLE) AS homogeneity,
       CAST(round(c, 6) AS DOUBLE) AS completeness,
       CAST(round(CASE WHEN h + c > 0 THEN 2 * h * c / (h + c)
                       ELSE 0.0 END, 6) AS DOUBLE) AS v_measure,
       CAST(round(vi, 6) AS DOUBLE) AS vi
FROM hc
"""


def rl_cluster_gmd(spark, sf_dir):
    """Generalized Merge Distance at unit costs
    (operators.evaluation.generalized_merge_distance — Menestrina et
    al. VLDB'10) of the linkage clustering vs the exact-text truth:
    the minimum split+merge repair script, the edit-operation lens
    next to the pair/record/link/entropy metrics. Closed form from
    the shared contingency aggregates (splits = nnz − K_pred,
    merges = nnz − K_truth); every column except gmd_norm is a BIGINT,
    so the row is value-exact by construction."""
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        generalized_merge_distance,
    )

    pred, truth = rl_clusters(spark, sf_dir), _text_truth(spark, sf_dir)
    return generalized_merge_distance(pred, truth)


SQL_RL_CLUSTER_GMD = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
tr AS (
  SELECT CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN text IS NULL
              THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5(text) END AS truth_id
  FROM documents
), j AS (
  SELECT cl.entity_id AS c, tr.truth_id AS t
  FROM cl JOIN tr USING (url)
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_records,
         CAST(count(DISTINCT c) AS BIGINT) AS n_pred_clusters,
         CAST(count(DISTINCT t) AS BIGINT) AS n_truth_clusters,
         CAST(count(DISTINCT (c, t)) AS BIGINT) AS n_overlap_cells
  FROM j
)
SELECT n_records, n_pred_clusters, n_truth_clusters, n_overlap_cells,
       CAST(n_overlap_cells - n_pred_clusters AS BIGINT) AS gmd_splits,
       CAST(n_overlap_cells - n_truth_clusters AS BIGINT) AS gmd_merges,
       CAST(2 * n_overlap_cells - n_pred_clusters - n_truth_clusters
            AS BIGINT) AS gmd,
       CAST(CASE WHEN (n_records - n_pred_clusters)
                      + (n_records - n_truth_clusters) > 0
                 THEN round(CAST(2 * n_overlap_cells - n_pred_clusters
                                 - n_truth_clusters AS DOUBLE)
                            / CAST((n_records - n_pred_clusters)
                                   + (n_records - n_truth_clusters)
                                   AS DOUBLE), 6)
                 ELSE 0.0 END AS DOUBLE) AS gmd_norm
FROM a
"""


def rl_cluster_muc(spark, sf_dir):
    """MUC link-based score (operators.evaluation.muc_score) of the
    linkage clustering vs the exact-text truth — completes the
    cluster-metric family (pairwise F1 / B³ / ARI / V-measure / VI):
    MUC charges the minimum link edits, so one bad bridge between two
    large entities costs one link, not the quadratic pair product.
    Same pred/truth basis as the other cluster metrics; a single
    aggregate pass over contingency-cell counts."""
    from idd_hw6_record_linkage_spark.operators.evaluation import muc_score

    pred, truth = rl_clusters(spark, sf_dir), _text_truth(spark, sf_dir)
    return muc_score(pred, truth)


SQL_RL_CLUSTER_MUC = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
tr AS (
  SELECT CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN text IS NULL
              THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5(text) END AS truth_id
  FROM documents
), j AS (
  SELECT cl.entity_id AS c, tr.truth_id AS t
  FROM cl JOIN tr USING (url)
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_records,
         CAST(count(DISTINCT c) AS BIGINT) AS n_pred_clusters,
         CAST(count(DISTINCT t) AS BIGINT) AS n_truth_clusters,
         CAST((SELECT count(*) FROM (SELECT DISTINCT c, t FROM j))
              AS BIGINT) AS n_overlap_cells
  FROM j
), m AS (
  SELECT n_records, n_pred_clusters, n_truth_clusters, n_overlap_cells,
         CAST(n_records - n_overlap_cells AS DOUBLE) AS num,
         CAST(n_records - n_truth_clusters AS DOUBLE) AS den_r,
         CAST(n_records - n_pred_clusters AS DOUBLE) AS den_p
  FROM agg
), pr AS (
  SELECT n_records, n_pred_clusters, n_truth_clusters, n_overlap_cells,
         CASE WHEN den_p > 0 THEN num / den_p ELSE 1.0 END AS p,
         CASE WHEN den_r > 0 THEN num / den_r ELSE 1.0 END AS r
  FROM m
)
SELECT n_records, n_pred_clusters, n_truth_clusters, n_overlap_cells,
       CAST(round(p, 6) AS DOUBLE) AS muc_precision,
       CAST(round(r, 6) AS DOUBLE) AS muc_recall,
       CAST(round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                       ELSE 0.0 END, 6) AS DOUBLE) AS muc_f1
FROM pr
"""


def rl_cluster_exact(spark, sf_dir):
    """Exact whole-cluster agreement (operators.evaluation.
    exact_cluster_match — the CEAF-φ3 "same member set" count) of the
    linkage clustering vs the exact-text truth: the strictest lens in
    the cluster-metric family — B³/ARI/MUC/GMD award partial credit,
    this row counts entities that came out PERFECT, needing no repair.
    Same pred/truth basis as the other cluster metrics; contingency
    cells joined to per-side sizes on cluster ids (rows = number of
    clusters, never records), one final aggregate."""
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        exact_cluster_match,
    )

    pred, truth = rl_clusters(spark, sf_dir), _text_truth(spark, sf_dir)
    return exact_cluster_match(pred, truth)


SQL_RL_CLUSTER_EXACT = f"""
WITH cl AS ({SQL_RL_CLUSTERS}),
tr AS (
  SELECT CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN text IS NULL
              THEN 'null:' || CAST(doc_id AS VARCHAR)
              ELSE md5(text) END AS truth_id
  FROM documents
), j AS (
  SELECT cl.entity_id AS c, tr.truth_id AS t
  FROM cl JOIN tr USING (url)
), cells AS (SELECT c, t, count(*) AS n_ct FROM j GROUP BY 1, 2),
nc AS (SELECT c, count(*) AS n_c FROM j GROUP BY 1),
nt AS (SELECT t, count(*) AS n_t FROM j GROUP BY 1),
agg AS (
  SELECT CAST(sum(n_ct) AS BIGINT) AS n_records,
         CAST(count(DISTINCT cells.c) AS BIGINT) AS n_pred_clusters,
         CAST(count(DISTINCT cells.t) AS BIGINT) AS n_truth_clusters,
         CAST(sum(CASE WHEN n_ct = n_c AND n_ct = n_t THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exact_clusters
  FROM cells JOIN nc USING (c) JOIN nt USING (t)
), pr AS (
  SELECT n_records, n_pred_clusters, n_truth_clusters, n_exact_clusters,
         CASE WHEN n_pred_clusters > 0
              THEN n_exact_clusters * 1.0 / n_pred_clusters
              WHEN n_truth_clusters = 0 THEN 1.0 ELSE 0.0 END AS p,
         CASE WHEN n_truth_clusters > 0
              THEN n_exact_clusters * 1.0 / n_truth_clusters
              WHEN n_pred_clusters = 0 THEN 1.0 ELSE 0.0 END AS r
  FROM agg
)
SELECT n_records, n_pred_clusters, n_truth_clusters, n_exact_clusters,
       CAST(round(p, 6) AS DOUBLE) AS cluster_precision,
       CAST(round(r, 6) AS DOUBLE) AS cluster_recall,
       CAST(round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                       ELSE 0.0 END, 6) AS DOUBLE) AS cluster_f1
FROM pr
"""


def rl_score_ap(spark, sf_dir):
    """Tie-grouped average precision (operators.evaluation.
    average_precision) of the pair score against the same synthetic
    truth rl_score_auc ranks — the PR-space companion: AUC is
    imbalance-blind, AP is dominated by how early the rare positives
    rank. Same bounded-distinct-score-table discipline (the only
    window runs over the grouped scores, never the pair table)."""
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        average_precision,
    )

    scored = rl_pair_features(spark, sf_dir).select("id_l", "id_r", "score")
    truth = _source_truth(spark, sf_dir)
    return average_precision(scored, truth)


SQL_RL_SCORE_AP = f"""
WITH pf AS ({SQL_RL_PAIR_FEATURES}
), truth AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE abs(a.n_chars - b.n_chars) <= 10
), flagged AS (
  SELECT pf.score,
         CASE WHEN t.id_l IS NOT NULL THEN 1 ELSE 0 END AS is_true
  FROM pf LEFT JOIN truth t ON t.id_l = pf.id_l AND t.id_r = pf.id_r
), by_score AS (
  SELECT score, CAST(sum(is_true) AS BIGINT) AS np,
         CAST(sum(1 - is_true) AS BIGINT) AS nn
  FROM flagged GROUP BY score
), cum AS (
  SELECT np, nn,
         CAST(sum(np) OVER w AS BIGINT) AS cum_pos,
         CAST(sum(np + nn) OVER w AS BIGINT) AS cum_tot
  FROM by_score
  WINDOW w AS (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         CAST(sum(nn) AS BIGINT) AS n_neg,
         sum(CAST(np AS DOUBLE) * CAST(cum_pos AS DOUBLE)
             / CAST(cum_tot AS DOUBLE)) AS ap_num
  FROM cum
)
SELECT n_pos, n_neg,
  CASE WHEN n_pos > 0
       THEN CAST(round(ap_num / n_pos, 6) AS DOUBLE)
  END AS average_precision
FROM agg
"""


def rl_edge_triangles(spark, sf_dir):
    """Per-edge triangle support (operators.clustering.triangle_support)
    over the match-edge graph: bridges (n_triangles = 0) are the
    uncorroborated edges a single false positive rides to glue two
    entities together; high-support edges are neighborhood-confirmed.
    Spark side runs the degree-oriented wedge algorithm (skew-bounded:
    every wedge apex has its triangle's minimum degree); the oracle is
    the naive id-ordered triple self-join — same triangle set by
    construction, so the per-edge counts are value-exact."""
    from idd_hw6_record_linkage_spark.operators.clustering import (
        triangle_support,
    )

    edges = rl_match_edges(spark, sf_dir).select("id_l", "id_r")
    return triangle_support(edges)


SQL_RL_EDGE_TRIANGLES = f"""
WITH e AS (
  SELECT DISTINCT least(id_l, id_r) AS a, greatest(id_l, id_r) AS b
  FROM ({SQL_RL_MATCH_EDGES}) WHERE id_l <> id_r
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), te AS (
  SELECT x AS a, y AS b FROM tri
  UNION ALL SELECT x, z FROM tri
  UNION ALL SELECT y, z FROM tri
), cnt AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM te GROUP BY a, b
)
SELECT e.a AS id_l, e.b AS id_r,
       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles
FROM e LEFT JOIN cnt USING (a, b)
"""


def rl_soft_tfidf(spark, sf_dir):
    """Soft-TF-IDF hybrid comparator (functions.soft_tfidf) over the
    candidate pairs: corpus-IDF-weighted tokens matched approximately
    (normalized-Levenshtein inner, threshold 0.8) — the joint-max
    variant, deterministic across engines (module docstring). Weights
    are built once over the corpus (two hash aggregates + one join on
    the token), arrays token-sorted so every fold runs in the same
    order in Spark and DuckDB; the comparator itself is a pure
    Catalyst higher-order expression over the blocked pair join.
    Token arrays sliced to 6 before pairing (O(|A|·|B|) per pair)."""
    from idd_hw6_record_linkage_spark.functions.soft_tfidf import (
        doc_token_weights,
        soft_tfidf,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.slice(F.split(F.trim("text"), r"\s+"), 1, 6).alias("toks"),
        _block_key().alias("block_key"),
    )
    n_docs = docs.count()
    w = doc_token_weights(docs, "doc_id", "toks", n_docs=n_docs)
    base = docs.join(w, "doc_id")
    return blocking.self_pair_join(base, "doc_id", ["wtoks"]).select(
        "id_l",
        "id_r",
        F.round(soft_tfidf("wtoks_l", "wtoks_r", threshold=0.8), 6).alias(
            "soft_tfidf"
        ),
    )


def _sql_soft_tfidf_query() -> str:
    from idd_hw6_record_linkage_spark.functions.soft_tfidf import (
        doc_token_weights_sql,
        soft_tfidf_sql,
    )

    wcte = doc_token_weights_sql(
        "d", "doc_id", "toks", "(SELECT count(*) FROM documents)"
    ).lstrip()
    return f"""
WITH d AS (
  SELECT doc_id,
         list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 6) AS toks,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), {wcte},
p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         wl.wtoks AS wa, wr.wtoks AS wb
  FROM d a
  JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
  JOIN wts wl ON wl.__id = a.doc_id
  JOIN wts wr ON wr.__id = b.doc_id
)
SELECT id_l, id_r,
       CAST(round({soft_tfidf_sql('wa', 'wb', 0.8)}, 6) AS DOUBLE)
         AS soft_tfidf
FROM p
"""


SQL_RL_SOFT_TFIDF = _sql_soft_tfidf_query()


def rl_clusters_bridge_safe(spark, sf_dir):
    """Precision-repaired clustering (operators.clustering.
    filter_weak_bridges → clusters_from_edges): match edges that are
    both uncorroborated (zero triangle support) and weak
    (score < 0.8) are dropped before the connected-components pass —
    the standard countermeasure to transitive closure's mega-cluster
    failure mode, composed from the triangle-support audit. The
    DuckDB oracle recomputes the whole chain: naive triple-join
    triangle counts → edge filter → recursive-CTE reachability
    fixpoint — value-exact cluster assignments."""
    from idd_hw6_record_linkage_spark.operators.clustering import (
        clusters_from_edges,
        filter_weak_bridges,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("doc_id"))
    edges = rl_match_edges(spark, sf_dir)
    kept = filter_weak_bridges(edges, score_col="score", min_bridge_score=0.8)
    kept_str = kept.select(
        F.col("id_l").cast("string").alias("id_l"),
        F.col("id_r").cast("string").alias("id_r"),
    )
    return clusters_from_edges(kept_str, docs, id_col="doc_id")


SQL_RL_CLUSTERS_BRIDGE_SAFE = f"""
WITH RECURSIVE me AS (
  {SQL_RL_MATCH_EDGES}
), ce AS (
  SELECT least(id_l, id_r) AS a, greatest(id_l, id_r) AS b,
         max(score) AS score
  FROM me WHERE id_l <> id_r GROUP BY 1, 2
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ce e1
  JOIN ce e2 ON e2.a = e1.b
  JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
), te AS (
  SELECT x AS a, y AS b FROM tri
  UNION ALL SELECT x, z FROM tri
  UNION ALL SELECT y, z FROM tri
), cnt AS (
  SELECT a, b, count(*) AS n FROM te GROUP BY a, b
), kept AS (
  SELECT CAST(ce.a AS VARCHAR) AS u, CAST(ce.b AS VARCHAR) AS v
  FROM ce LEFT JOIN cnt USING (a, b)
  WHERE coalesce(cnt.n, 0) > 0 OR ce.score >= 0.8
), e AS (
  SELECT u, v FROM kept UNION ALL SELECT v, u FROM kept
), reach(id, r) AS (
  SELECT CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR) FROM documents
  UNION
  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r
)
SELECT id AS url, min(r) AS entity_id FROM reach GROUP BY id
"""


def rl_sw_gate(spark, sf_dir):
    """Smith-Waterman local-alignment comparator invariant gate
    (functions.alignment_sim.sim_smith_waterman). The DP itself is not
    SQL-expressible, so — like the zlib/ML gates — the contract row
    checks invariants an SQL engine CAN verify: the pair count over
    the shared blocked basis, the count of contained-substring pairs,
    and two Spark-side recomputed flags the oracle pins true (every
    sim in [0,1]; every nonempty contained-substring pair scores
    EXACTLY 1.0 — local alignment of a contained string is a full
    match by construction, so any kernel regression flips the flag).
    Bit-level parity vs the scalar DP lives in tests/test_alignment_sim.
    Snippets are capped at 40 chars BEFORE the pair join: SW is
    O(len²) per pair, the cap bounds compute and shuffle bytes at any
    scale (same discipline as rl_monge_elkan's 6-token slice)."""
    from idd_hw6_record_linkage_spark.functions.alignment_sim import (
        sim_smith_waterman,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.lower(F.substring(F.coalesce("text", F.lit("")), 1, 40)).alias("snip"),
        _block_key().alias("block_key"),
    )
    pairs = (
        blocking.self_pair_join(docs, "doc_id", ["snip"])
        .select(
            "snip_l",
            "snip_r",
            sim_smith_waterman("snip_l", "snip_r").alias("sw_sim"),
        )
        .withColumn(
            "is_substr",
            (F.length("snip_l") > 0)
            & (F.length("snip_r") > 0)
            & (
                F.contains(F.col("snip_r"), F.col("snip_l"))
                | F.contains(F.col("snip_l"), F.col("snip_r"))
            ),
        )
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("is_substr").cast("long")).cast("long").alias("n_substr_pairs"),
        (
            (F.min("sw_sim") >= F.lit(0.0)) & (F.max("sw_sim") <= F.lit(1.0))
        ).alias("bounds_ok"),
        (
            F.sum(
                F.when(
                    F.col("is_substr") & (F.col("sw_sim") != 1.0), 1
                ).otherwise(0)
            )
            == 0
        ).alias("substr_ok"),
    )


SQL_RL_SW_GATE = f"""
WITH d AS (
  SELECT doc_id,
         lower(substr(coalesce(text, ''), 1, 40)) AS snip,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.snip AS sl, b.snip AS sr
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(CASE WHEN length(sl) > 0 AND length(sr) > 0
                          AND (position(sl IN sr) > 0 OR position(sr IN sl) > 0)
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_substr_pairs,
       true AS bounds_ok,
       true AS substr_ok
FROM p
"""


def rl_audit_metrics(spark, sf_dir):
    """A6 + A10 in one audit row: per-comparator feature means over the
    pair feature matrix, plus the impossible-match rate of the
    predicted edges (|n_chars gap| > 50 — the web analogue of the
    reference's |year gap| > 1 audit, 3_audit_models.py:206-249)."""
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        feature_means,
        impossible_match_rate,
    )

    feats = rl_pair_features(spark, sf_dir)
    means = feature_means(feats, ["lev_sim", "jaccard_sim", "nchars_sim"])
    attrs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    imp = impossible_match_rate(
        rl_match_edges(spark, sf_dir).select("id_l", "id_r"),
        attrs, id_col="doc_id", attr_col="n_chars", max_gap=50,
    )
    return means.crossJoin(imp)


SQL_RL_AUDIT_METRICS = f"""
WITH feats AS ({SQL_RL_PAIR_FEATURES}),
edges AS (SELECT id_l, id_r FROM ({SQL_RL_MATCH_EDGES})),
imp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_matches,
         CAST(sum(CASE WHEN abs(a.n_chars - b.n_chars) > 50 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_impossible,
         CAST(round(avg(CASE WHEN abs(a.n_chars - b.n_chars) > 50
                             THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE)
           AS impossible_rate
  FROM edges e
  JOIN documents a ON a.doc_id = e.id_l
  JOIN documents b ON b.doc_id = e.id_r
), means AS (
  SELECT CAST(round(avg(lev_sim), 6) AS DOUBLE) AS avg_lev_sim,
         CAST(round(avg(jaccard_sim), 6) AS DOUBLE) AS avg_jaccard_sim,
         CAST(round(avg(nchars_sim), 6) AS DOUBLE) AS avg_nchars_sim
  FROM feats
)
SELECT means.*, imp.* FROM means CROSS JOIN imp
"""


def pair_tfidf_cosine(spark, sf_dir):
    """C7 TF-IDF cosine over candidate pairs — the sparse relational
    formulation (explode → tf/idf aggregations → pair-token join), no
    UDF, no dense vectors; value-checked against the same relational
    algebra in DuckDB."""
    from idd_hw6_record_linkage_spark.operators.term_vectors import (
        tfidf_cosine_for_pairs,
    )

    docs = _docs(spark, sf_dir)
    n_docs = docs.select("doc_id").distinct().count()
    keys = blocking.key_table(docs, "doc_id", _block_key(), "b1")
    pairs = blocking.self_pair_join(keys, "id").select("id_l", "id_r")
    out = tfidf_cosine_for_pairs(docs, pairs, "doc_id", "text", n_docs)
    return out.select(
        "id_l", "id_r", F.round("tfidf_cosine", 6).alias("tfidf_cosine")
    )


SQL_PAIR_TFIDF_COSINE = f"""
WITH k AS (
  SELECT doc_id, {_BLOCK_KEY_SQL} AS block_key FROM documents
  WHERE {_BLOCK_KEY_SQL} IS NOT NULL
), pairs AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r
  FROM k a JOIN k b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
), toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> ''
  GROUP BY 1, 2
), nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
idf AS (
  SELECT token, ln(((SELECT n FROM nd) + 1.0) / (df + 1.0)) + 1.0 AS idf
  FROM (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1)
), w AS (
  SELECT doc_id, tf.token, tf.tf * idf.idf AS w
  FROM tf JOIN idf ON tf.token = idf.token
), norms AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1
), dots AS (
  SELECT p.id_l, p.id_r, sum(wl.w * wr.w) AS dot
  FROM pairs p
  JOIN w wl ON wl.doc_id = p.id_l
  JOIN w wr ON wr.doc_id = p.id_r AND wr.token = wl.token
  GROUP BY 1, 2
)
SELECT p.id_l, p.id_r,
  CAST(round(CASE WHEN d.dot IS NOT NULL AND nl.nrm > 0 AND nr.nrm > 0
                  THEN d.dot / (nl.nrm * nr.nrm) ELSE 0.0 END, 6) AS DOUBLE)
    AS tfidf_cosine
FROM pairs p
LEFT JOIN dots d ON d.id_l = p.id_l AND d.id_r = p.id_r
LEFT JOIN norms nl ON nl.doc_id = p.id_l
LEFT JOIN norms nr ON nr.doc_id = p.id_r
"""


def _cross_source_scored(spark, sf_dir, l_filter=None, r_filter=None):
    """Shared scored-pair basis for the two-source queries: documents
    split into two disjoint sources (default doc_id mod 3: 0 vs
    nonzero — the synthetic dup structure repeats every 20 ids, so a
    mod-2 split would put every dup pair on one side; callers may pass
    their own disjoint split predicates), blocked on the same key per
    side, CROSS-source candidate equi-join (no id-order constraint —
    sides are disjoint), scored with the shared feature set."""
    if l_filter is None:
        l_filter = F.col("doc_id") % 3 == 0
    if r_filter is None:
        r_filter = F.col("doc_id") % 3 != 0
    docs = _pair_feature_docs(spark, sf_dir).where(F.col("block_key").isNotNull())
    pairs = blocking.cross_pair_join(
        docs.where(l_filter), docs.where(r_filter), "doc_id", _PAIR_FEATURE_COLS
    )
    lev, jac, gauss = _pair_feature_sims()
    score = F.round((lev + jac + gauss) / 3.0, 6)
    return pairs.select("id_l", "id_r", score.alias("score"))


def rl_cross_source_matches(spark, sf_dir):
    """Two-source linkage slice — the reference's primary lifecycle
    (record_linkage.py:588-693, Craigslist × US Used Cars): the shared
    cross-source scored basis thresholded at 0.5."""
    return _cross_source_scored(spark, sf_dir).where(F.col("score") >= 0.5)


def rl_one_to_one_matches(spark, sf_dir):
    """One-to-one linkage (operators.resolution.mutual_best_match) over
    the same cross-source scored basis: a pair survives only if each
    record is the other's top-scoring candidate (ties broken by smaller
    partner id). The scored basis is value-exact in both engines
    (rl_cross_source_matches' oracle proves the rounded scores), so the
    rank-1 selections — and therefore the 1:1 match set — coincide."""
    from idd_hw6_record_linkage_spark.operators.resolution import (
        mutual_best_match,
    )

    scored = _cross_source_scored(spark, sf_dir).where(
        F.col("score") >= 0.3
    )
    return mutual_best_match(scored, "id_l", "id_r", "score")


SQL_RL_CROSS_SOURCE_MATCHES = f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, 40) AS t40,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         CAST(n_chars AS DOUBLE) AS nc,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
  WHERE {_BLOCK_KEY_SQL} IS NOT NULL
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         a.t40 AS t40_l, b.t40 AS t40_r,
         a.toks AS toks_l, b.toks AS toks_r,
         a.nc AS nc_l, b.nc AS nc_r
  FROM d a JOIN d b ON a.block_key = b.block_key
  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
), s AS (
  SELECT id_l, id_r,
    CAST(round((
        (CASE WHEN greatest(length(t40_l), length(t40_r)) = 0 THEN 1.0
         ELSE 1.0 - levenshtein(t40_l, t40_r)
                    / CAST(greatest(length(t40_l), length(t40_r)) AS DOUBLE) END)
        + len(list_intersect(toks_l, toks_r))
          / CAST(len(list_distinct(toks_l || toks_r)) AS DOUBLE)
        + pow(2.0, -pow((nc_l - nc_r) / 100.0, 2))
      ) / 3.0, 6) AS DOUBLE) AS score
  FROM p
)
SELECT id_l, id_r, score FROM s WHERE score >= 0.5
"""


_SQL_CROSS_SOURCE_S_CTE = SQL_RL_CROSS_SOURCE_MATCHES.rsplit("SELECT", 1)[0]

SQL_RL_ONE_TO_ONE_MATCHES = (
    _SQL_CROSS_SOURCE_S_CTE
    + """, f AS (
  SELECT id_l, id_r, score,
         row_number() OVER (PARTITION BY id_l
                            ORDER BY score DESC, id_r ASC) AS rank_l,
         row_number() OVER (PARTITION BY id_r
                            ORDER BY score DESC, id_l ASC) AS rank_r
  FROM s WHERE score >= 0.3
)
SELECT id_l, id_r, score FROM f WHERE rank_l = 1 AND rank_r = 1
"""
)


# Same scored-pair basis as the cross-source oracle, split mod-7
# (delta vs corpus) instead of mod-3 — a targeted replace so the score
# expression can never drift between the two oracles.
_SQL_ATTACH_S_CTE = _SQL_CROSS_SOURCE_S_CTE.replace(
    "a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0",
    "a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0",
)
assert _SQL_ATTACH_S_CTE != _SQL_CROSS_SOURCE_S_CTE

SQL_RL_ATTACH_INCREMENT = (
    _SQL_ATTACH_S_CTE
    + """, ex AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
), grp AS (
  SELECT text, min(doc_id) AS ent FROM ex
  WHERE text IS NOT NULL GROUP BY text
), cl AS (
  SELECT CAST(ex.doc_id AS VARCHAR) AS url,
         CAST(coalesce(grp.ent, ex.doc_id) AS VARCHAR) AS entity_id
  FROM ex LEFT JOIN grp USING (text)
), cand AS (
  SELECT CAST(s.id_l AS VARCHAR) AS id_new, cl.entity_id,
         max(s.score) AS attach_score
  FROM s JOIN cl ON cl.url = CAST(s.id_r AS VARCHAR)
  WHERE s.score >= 0.5 GROUP BY 1, 2
), best AS (
  SELECT id_new, entity_id, attach_score FROM (
    SELECT *, row_number() OVER (PARTITION BY id_new
      ORDER BY attach_score DESC, entity_id ASC) AS rk FROM cand)
  WHERE rk = 1
), newids AS (
  SELECT CAST(doc_id AS VARCHAR) AS url FROM documents
  WHERE doc_id % 7 = 0
)
SELECT n.url, coalesce(b.entity_id, n.url) AS entity_id, b.attach_score,
       b.entity_id IS NOT NULL AS attached
FROM newids n LEFT JOIN best b ON b.id_new = n.url
"""
)


# --- profiling ---------------------------------------------------------------


def profile_documents(spark, sf_dir):
    from idd_hw6_record_linkage_spark.operators.profile import column_profile

    return column_profile(
        _docs(spark, sf_dir), ["doc_id", "text", "lang", "source", "n_chars"]
    ).select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        "null_pct",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "distinct_pct",
    )


def _profile_sql_one(col: str) -> str:
    return f"""
SELECT '{col}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
  CAST(round((count(*) - count({col})) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS null_pct,
  CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
  CAST(round(count(DISTINCT {col}) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS distinct_pct
FROM documents"""


SQL_PROFILE_DOCUMENTS = " UNION ALL ".join(
    _profile_sql_one(c) for c in ["doc_id", "text", "lang", "source", "n_chars"]
)


# --- dedup family ------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir), "doc_id", "text").select(
        "text_hash",
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("keep_id").cast("long").alias("keep_id"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark, sf_dir):
    out = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", _block_key(), threshold=0.05, n=3
    )
    return out.select(
        "id_l", "id_r", F.round("jaccard", 6).alias("jaccard")
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH d AS (
  SELECT doc_id, {_BLOCK_KEY_SQL} AS block_key,
         regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), s AS (
  SELECT doc_id, block_key,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 2 + 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
           ELSE [array_to_string(w, ' ')] END) AS sh
  FROM d WHERE block_key IS NOT NULL
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         len(list_intersect(a.sh, b.sh))
           / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac
  FROM s a JOIN s b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT id_l, id_r, CAST(round(jac, 6) AS DOUBLE) AS jaccard
FROM p WHERE jac >= 0.05
"""


def dedup_embedding_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = dedup.embedding_dup_pairs_brute(emb, "vec_id", "embedding", threshold=0.3)
    return out.select("id_l", "id_r", F.round("cosine", 6).alias("cosine"))


SQL_DEDUP_EMBEDDING_COSINE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS id_l, b.vec_id AS id_r,
         list_cosine_similarity(a.v, b.v) AS c
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_l, id_r, CAST(round(c, 6) AS DOUBLE) AS cosine
FROM p WHERE c >= 0.3
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs — VALUE-EXACT vs a DuckDB oracle:
    the base shingle hash is the first 60 md5 bits (DuckDB:
    ``('0x' || substr(md5(x),1,15))::BIGINT``) folded mod 2^31-1, the
    32 derived universal hashes are integer multiply-adds with fixed
    constants, and band collision is slot-tuple equality — all
    reproducible in plain SQL.
    The contract query runs uncapped (exact banded-LSH semantics); the
    production default keeps the hot-band size cap, whose recall bound
    is pytest-asserted instead (test_blocking_caps)."""
    return dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.3,
        max_block_size=None, base="md5",
    ).select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


def dedup_minhash_lsh_prod(spark, sf_dir):
    """The PRODUCTION minhash configuration — xxhash64 base hash (~3x
    cheaper per shingle than the md5 oracle basis) + hot-band size cap
    (max_block_size=500, content-salted): the variant a user actually
    runs at 100-TB scale, and the one the bench times as the headline
    `dedup_minhash_lsh_prod` entry. Rows-only driver check (xxhash64 is
    not reproducible in DuckDB); its quality is oracle-gated by
    dedup_minhash_capped_recall below and pytest (test_blocking_caps)."""
    return dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.3,
        max_block_size=500, base="xxhash64",
    ).select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


def dedup_minhash_capped_recall(spark, sf_dir):
    """Driver gate for the CAPPED (production) dedup path — the code
    path `dedup_minhash_lsh_prod` runs, which the value-exact uncapped
    contract query never exercises. Same pattern as ann_lsh_recall:
    a one-row result of data-bound count + pass/fail flags against a
    constant-row oracle, so a capping or recall regression flips a flag
    and fails the hash check.

    - ``recall_pass``: pairs found by the capped run vs the uncapped
      run at the SAME xxhash64 base (content-salted splits keep true
      near-dups co-located, so recall ≥ 0.95 must hold);
    - ``max_bucket_ok``: the capped key table's largest block must
      respect cap_blocks' hard bound (4x cap — the tier-2 id-salt
      guarantee)."""
    docs = _docs(spark, sf_dir)
    cap = 500
    uncapped = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.3, max_block_size=None,
        base="xxhash64",
    ).select("id_l", "id_r")
    capped = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.3, max_block_size=cap,
        base="xxhash64",
    ).select("id_l", "id_r")
    total = uncapped.count()
    kept = uncapped.join(capped, ["id_l", "id_r"], "leftsemi").count()
    recall = kept / total if total else 1.0
    nonblank = dedup._nonblank(docs, "text")
    keys = dedup.minhash_lsh_keys(
        nonblank, "doc_id", "text", max_block_size=cap, base="xxhash64"
    )
    max_block = (
        blocking.block_sizes(keys, "block_key").agg(F.max("n")).collect()[0][0]
        or 0
    )
    n_docs = nonblank.count()
    return spark.createDataFrame(
        [(int(n_docs), int(max_block <= 4 * cap), int(recall >= 0.95))],
        "n_docs bigint, max_bucket_ok bigint, recall_pass bigint",
    )


SQL_DEDUP_MINHASH_CAPPED_RECALL = """
SELECT CAST((SELECT count(*) FROM documents
             WHERE text IS NOT NULL AND length(trim(text)) > 0) AS BIGINT)
         AS n_docs,
       CAST(1 AS BIGINT) AS max_bucket_ok,
       CAST(1 AS BIGINT) AS recall_pass
"""


def _minhash_oracle_sql() -> str:
    from idd_hw6_record_linkage_spark.operators.minhash import _hash_family

    fam = _hash_family(32)
    sig = ",\n    ".join(
        f"list_min(list_transform(hb, h -> (h * {a} + {b}) % 2147483647))"
        for a, b in fam
    )
    return f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), s AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
    THEN list_transform(range(1, len(w) - 2 + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    ELSE [array_to_string(w, ' ')] END) AS sh
  FROM d
), h AS (
  SELECT doc_id, sh,
         list_transform(sh, x -> CAST(('0x' || substr(md5(x), 1, 15))
                                      AS BIGINT) % 2147483647) AS hb
  FROM s
), sg AS (
  SELECT doc_id, [{sig}] AS sig FROM h
), bands AS (
  SELECT doc_id,
         CAST(b AS VARCHAR) || ':' ||
           array_to_string(sig[b*4+1 : b*4+4], ',') AS bkey
  FROM sg CROSS JOIN range(8) r(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
), scored AS (
  SELECT c.id_l, c.id_r,
         len(list_intersect(sa.sh, sb.sh))
           / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jac
  FROM cand c
  JOIN s sa ON sa.doc_id = c.id_l
  JOIN s sb ON sb.doc_id = c.id_r
)
SELECT id_l, id_r, CAST(round(jac, 6) AS DOUBLE) AS jaccard
FROM scored WHERE jac >= 0.3
"""


SQL_DEDUP_MINHASH_LSH = _minhash_oracle_sql()


def dedup_doc_clusters(spark, sf_dir):
    """The dedup DELIVERABLE: near-dup PAIRS resolved into entity
    clusters. MinHash-LSH pairs (uncapped, SQL-exact md5 basis) feed
    the large-star/small-star CC loop; every doc gets its cluster
    representative (min doc_id — keep that row, drop the rest). The
    DuckDB oracle reproduces the fixpoint with a recursive reachability
    CTE over the identical edge set — value-exact, numeric min."""
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.3,
        max_block_size=None, base="md5",
    )
    out = clusters_from_edges(
        pairs.select("id_l", "id_r"), docs, id_col="doc_id"
    )
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("entity_id").cast("long").alias("cluster_id"),
    )


def _minhash_clusters_oracle_sql() -> str:
    return f"""
WITH RECURSIVE base AS (
  SELECT id_l AS u, id_r AS v FROM ({SQL_DEDUP_MINHASH_LSH})
), e AS (
  SELECT u, v FROM base UNION ALL SELECT v, u FROM base
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.v FROM reach JOIN e ON e.u = reach.r
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


SQL_DEDUP_DOC_CLUSTERS = _minhash_clusters_oracle_sql()


def dedup_source_overlap(spark, sf_dir):
    """Cross-source duplicate-overlap matrix
    (operators.dedup.source_overlap_matrix) over the MinHash-LSH
    cluster assignment: duplicate pairs per unordered source pair —
    diagonal = within-source C(n,2) per cluster, off-diagonal =
    cross-source n_a·n_b. The corpus-curation table that tells a mix
    designer which sources re-serve each other's content. The DuckDB
    oracle recomputes it from the same recursive-CTE cluster fixpoint
    — value-exact. Scale: the self-join fans out per cluster by the
    DISTINCT SOURCE COUNT, never the cluster size."""
    from idd_hw6_record_linkage_spark.operators.dedup import (
        source_overlap_matrix,
    )

    assign = dedup_doc_clusters(spark, sf_dir)
    return source_overlap_matrix(
        assign, _docs(spark, sf_dir).select("doc_id", "source")
    )


SQL_DEDUP_SOURCE_OVERLAP = f"""
WITH assign AS ({SQL_DEDUP_DOC_CLUSTERS}),
j AS (
  SELECT a.cluster_id AS c, d.source AS s
  FROM assign a JOIN documents d USING (doc_id)
  WHERE d.source IS NOT NULL
), per AS (
  SELECT c, s, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY c, s
), p AS (
  SELECT l.s AS source_l, r.s AS source_r,
         CASE WHEN l.s = r.s THEN l.n * (l.n - 1) // 2
              ELSE l.n * r.n END AS np
  FROM per l JOIN per r ON l.c = r.c AND l.s <= r.s
)
SELECT source_l, source_r, CAST(sum(np) AS BIGINT) AS n_dup_pairs
FROM p GROUP BY source_l, source_r
HAVING sum(np) > 0
"""


def dedup_source_rates(spark, sf_dir):
    """Per-source duplicate rates over the MinHash-LSH cluster
    assignment — the headline table of every corpus-curation report:
    for each source, documents, duplicates (docs that are NOT their
    cluster's representative — cluster_id is the min doc id, so
    doc_id != cluster_id ⇔ the doc would be dropped by keep-one
    dedup), and the dup rate. Complements dedup_source_overlap
    (which says WHO duplicates WHOM) with the per-source headline
    number. One groupBy on the source key after the cluster join;
    the DuckDB oracle recomputes it from the same recursive-CTE
    fixpoint — value-exact."""
    assign = dedup_doc_clusters(spark, sf_dir)
    j = assign.join(
        _docs(spark, sf_dir)
        .select("doc_id", "source")
        .where(F.col("source").isNotNull()),
        "doc_id",
    )
    dup = (F.col("doc_id") != F.col("cluster_id")).cast("long")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup).alias("n_dups"),
            F.round(
                F.sum(dup) / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_rate"),
        )
    )


SQL_DEDUP_SOURCE_RATES = f"""
WITH assign AS ({SQL_DEDUP_DOC_CLUSTERS}),
j AS (
  SELECT a.doc_id, a.cluster_id, d.source
  FROM assign a JOIN documents d USING (doc_id)
  WHERE d.source IS NOT NULL
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dups,
       CAST(round(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END)
                  / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS dup_rate
FROM j GROUP BY source
"""


def dedup_cluster_stats(spark, sf_dir):
    """Cluster-size histogram of the dedup deliverable — the shape
    summary an operator watches after a dedup run (singleton share,
    mega-cluster tail). Same CC fixpoint as dedup_doc_clusters, then
    two map-side-combined aggregations (the second over one row per
    cluster). Value-exact vs the recursive-CTE oracle re-aggregated
    in SQL."""
    from idd_hw6_record_linkage_spark.operators.clustering import (
        cluster_size_stats,
    )

    return cluster_size_stats(dedup_doc_clusters(spark, sf_dir), "cluster_id")


SQL_DEDUP_CLUSTER_STATS = f"""
WITH assign AS ({SQL_DEDUP_DOC_CLUSTERS}),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM assign GROUP BY cluster_id
)
SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY cluster_size
"""


def dedup_simhash(spark, sf_dir):
    """SimHash hamming-≤3 near-dup pairs — value-exact vs a brute-force
    DuckDB oracle: token hashes are md5 first-8-bytes little-endian
    (= DuckDB md5_number_upper), and the 4×16-bit rotated-prefix
    buckets are a COMPLETE candidate set for hamming ≤ 3 (pigeonhole:
    d ≤ 3 differing bits can corrupt at most 3 of the 4 disjoint
    blocks), so bucketed-then-verified equals all-pairs. The contract
    query runs UNCAPPED so that completeness holds at every scale
    factor (a capped bucket would drop hamming-≤3 pairs the oracle
    keeps — e.g. >cap blank docs all fingerprinting to 0); production
    keeps the cap, pytest-bounded instead (test_blocking_caps)."""
    return dedup.simhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_block_size=None
    )


SQL_DEDUP_SIMHASH = r"""
WITH h AS (
  SELECT doc_id,
         md5_number_upper(unnest(regexp_split_to_array(trim(text), '\s+'))) AS h
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), votes AS (
  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN range(64) r(j)
  GROUP BY doc_id, j
), acc AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::HUGEINT << CAST(j AS INT))
                  ELSE 0::HUGEINT END) AS u
  FROM votes GROUP BY doc_id
), sh AS (
  SELECT d.doc_id,
         CAST(CASE WHEN a.u IS NULL THEN 0::HUGEINT
                   WHEN a.u >= 9223372036854775808::HUGEINT
                     THEN a.u - 18446744073709551616::HUGEINT
                   ELSE a.u END AS BIGINT) AS simhash
  FROM documents d LEFT JOIN acc a USING (doc_id)
)
SELECT a.doc_id AS id_l, b.doc_id AS id_r,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --- text analysis -----------------------------------------------------------


def text_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", TA.token_count_expr("text").cast("long").alias("n_tokens")
    )


SQL_TEXT_TOKEN_COUNT = """
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
FROM documents
"""


def text_token_count_bpe(spark, sf_dir):
    """BPE-ish token count (GPT-2-style pre-tokenizer regex, RE2-safe
    so DuckDB runs the IDENTICAL pattern — verified token-for-token)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        TA.bpe_token_count_expr("text").cast("long").alias("n_bpe_tokens"),
    )


SQL_TEXT_TOKEN_COUNT_BPE = (
    "SELECT doc_id, CAST(CASE WHEN text IS NULL THEN 0 ELSE "
    "len(regexp_extract_all(text, '" + TA.BPE_PRETOKEN_RE.replace("'", "''")
    + "')) END AS BIGINT) AS n_bpe_tokens FROM documents"
)


def text_stopword_ratio(spark, sf_dir):
    """Stopword ratio (en) — the third classic cheap quality signal
    next to length band and punctuation ratio."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(TA.stopword_ratio_expr("text"), 6).alias("stopword_ratio"),
    )


SQL_TEXT_STOPWORD_RATIO = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents
)
SELECT doc_id,
  CAST(round(CASE WHEN len(toks) > 0
       THEN len(list_filter(toks, x -> list_contains(
              {_sql_str_list(TA.STOPWORDS["en"])}, lower(x))))
            / CAST(len(toks) AS DOUBLE)
       ELSE 0.0 END, 6) AS DOUBLE) AS stopword_ratio
FROM t
"""


def text_quality(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(TA.punct_ratio_expr("text"), 6).alias("punct_ratio"),
        F.round(TA.quality_score_expr("text"), 6).alias("quality_score"),
    )


SQL_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) AS ntok,
    (length(text) - length(translate(text, '.,!?-', ''))) AS npunct
  FROM documents
), q AS (
  SELECT doc_id,
    CASE WHEN n > 0 THEN npunct / n ELSE 0.0 END AS punct_ratio,
    CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
         WHEN n > 0 THEN 0.5 ELSE 0.0 END AS len_ok,
    CASE WHEN (CASE WHEN n > 0 THEN npunct / n ELSE 0.0 END) <= 0.1
         THEN 1.0 ELSE 0.5 END AS punct_ok,
    CASE WHEN ntok > 0 AND (n - (ntok - 1)) / ntok >= 3.0
              AND (n - (ntok - 1)) / ntok <= 12.0
         THEN 1.0 ELSE 0.5 END AS wl_ok
  FROM t
)
SELECT doc_id, CAST(round(punct_ratio, 6) AS DOUBLE) AS punct_ratio,
  CAST(round((len_ok + punct_ok + wl_ok) / 3.0, 6) AS DOUBLE) AS quality_score
FROM q
"""


def text_repetition(spark, sf_dir):
    """Duplicate-trigram share per document — the intra-document
    repetition quality signal (boilerplate / generator-loop detector)
    a web-corpus pipeline filters on before training. Map-only native
    exprs (split → n-gram transform → distinct/total), no shuffle.
    Value-exact vs a DuckDB list-comprehension oracle; whitespace is
    the explicit `[\\t-\\r ]` class so both regex engines tokenize
    identically."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(TA.repetition_ratio_expr("text"), 6).alias(
            "repetition_ratio"
        ),
    )


SQL_TEXT_REPETITION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[\t-\r ]+'),
                     x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [] END AS g
  FROM toks
)
SELECT doc_id,
  CAST(round(CASE WHEN len(g) > 0
       THEN 1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE)
       ELSE 0.0 END, 6) AS DOUBLE) AS repetition_ratio
FROM grams
"""


def corpus_quality_filter(spark, sf_dir):
    """Composed Gopher/C4-style keep/reject decision per document
    (functions.text_analysis.reject_reason_expr): first failing rule
    of [length band, punctuation, stopword floor, repetition cap] or
    keep. The oracle recomputes every signal with the per-signal
    engine-parity SQL and the same rule order — value-exact."""
    # Two projections, not one: `keep` references the whole CASE chain
    # (tokenize + stopword + n-gram repetition signals), and a single
    # SELECT would evaluate it twice per row. CollapseProject keeps
    # the stages separate because the inner alias is non-cheap and
    # referenced twice, so the chain runs once per document.
    reason = TA.reject_reason_expr("text")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", reason.alias("reject_reason"))
        .select(
            "doc_id",
            "reject_reason",
            F.col("reject_reason").isNull().cast("long").alias("keep"),
        )
    )


SQL_CORPUS_QUALITY_FILTER = rf"""
WITH base AS (
  SELECT doc_id, text,
    CAST(coalesce(length(text), 0) AS DOUBLE) AS n,
    (length(text) - length(translate(text, '.,!?-', ''))) AS npunct,
    CASE WHEN length(trim(text)) = 0 THEN []
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
    list_filter(string_split_regex(lower(text), '[\t-\r ]+'),
                x -> x <> '') AS rt
  FROM documents
), sig AS (
  SELECT doc_id, n,
    CASE WHEN n > 0 THEN npunct / n ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> list_contains(
                {_sql_str_list(TA.STOPWORDS["en"])}, lower(x))))
              / CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS stopword_ratio,
    CASE WHEN len(rt) >= 3 THEN
      1.0 - len(list_distinct(list_transform(
               generate_series(1, len(rt) - 2),
               i -> rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2])))
            / CAST(len(rt) - 2 AS DOUBLE)
    ELSE 0.0 END AS repetition_ratio
  FROM base
), reasons AS (
  SELECT doc_id,
    CASE WHEN n < 50 THEN 'too_short'
         WHEN n > 20000 THEN 'too_long'
         WHEN punct_ratio > 0.10 THEN 'high_punct'
         WHEN stopword_ratio < 0.01 THEN 'low_stopword'
         WHEN repetition_ratio > 0.20 THEN 'high_repetition'
    END AS reject_reason
  FROM sig
)
SELECT doc_id, reject_reason,
       CAST(reject_reason IS NULL AS BIGINT) AS keep
FROM reasons
"""


_BANNER = "Accept cookies to continue"
_FOOTER = "Copyright Example Site 2024"


def _docs_with_boilerplate(spark, sf_dir):
    """documents with deterministic boilerplate lines injected: every
    doc_id % 3 == 0 gets a cookie-banner first line, every
    doc_id % 5 == 0 a copyright last line. The testdata corpus has no
    newlines and all-distinct texts, so without injection line-level
    dedup has nothing to strip; the oracle performs the identical
    injection, so the strip decision is still recomputed end-to-end."""
    return _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit(_BANNER + "\n")).otherwise(
                F.lit("")
            ),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n" + _FOOTER)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def dedup_lines(spark, sf_dir):
    """Line-level boilerplate removal (operators.line_dedup): strip
    every line occurring in >= 25 distinct documents, keep per-doc
    line counts and the cleaned text. md5_60 line keys so the oracle
    recomputes the exact key space (minhash md5-basis trick)."""
    from idd_hw6_record_linkage_spark.operators import line_dedup

    out = line_dedup.remove_boilerplate_lines(
        _docs_with_boilerplate(spark, sf_dir),
        "doc_id",
        "text",
        sep="\n",
        min_docs=25,
        base="md5_60",
    )
    return out.select("doc_id", "n_lines", "n_removed", "clean_text")


SQL_DEDUP_LINES = f"""
WITH docs2 AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN '{_BANNER}' || chr(10) ELSE '' END)
    || text ||
    (CASE WHEN doc_id % 5 = 0 THEN chr(10) || '{_FOOTER}' ELSE '' END)
    AS text
  FROM documents WHERE text IS NOT NULL
), l AS (
  SELECT doc_id, u.line_no, u.line FROM (
    SELECT doc_id,
      unnest(list_transform(
        range(1, len(string_split(text, chr(10))) + 1),
        i -> {{'line_no': i, 'line': string_split(text, chr(10))[i]}}
      )) AS u
    FROM docs2
  )
), k AS (
  SELECT doc_id, line_no, line,
    ('0x' || substr(md5(trim(line)), 1, 15))::BIGINT AS line_key,
    length(trim(line)) >= 1 AS countable
  FROM l
), boiler AS (
  SELECT line_key FROM k WHERE countable
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 25
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(coalesce(sum(CASE WHEN line_key IN (SELECT line_key FROM boiler)
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
  coalesce(array_to_string(
    list(line ORDER BY line_no)
      FILTER (WHERE line_key NOT IN (SELECT line_key FROM boiler)),
    chr(10)), '') AS clean_text
FROM k GROUP BY doc_id
"""


def pii_redact(spark, sf_dir):
    """PII scrub (functions.pii): emails, IPv4s, and phone-shaped
    digit runs replaced with typed tokens, plus per-category match
    counts. Deterministic PII is injected per doc (the corpus has
    none), identically on both sides; the oracle recomputes the
    redaction with the same engine-parity regexes."""
    from idd_hw6_record_linkage_spark.functions import pii

    injected = F.concat(
        F.lit("Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1555019"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" now. "),
        F.col("text"),
    )
    counts = pii.pii_counts_exprs(injected)
    return (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            pii.redact_pii_expr(injected).alias("redacted"),
            counts["n_emails"].alias("n_emails"),
            counts["n_ips"].alias("n_ips"),
            counts["n_phones"].alias("n_phones"),
        )
    )


# NOTE: patterns below mirror functions/pii.py (EMAIL_RE/IPV4_RE/
# PHONE_RE) verbatim — ASCII classes only, no \\d/\\w/\\s, valid in
# both Java regex and RE2 with identical semantics.
_SQL_PII = r"""
WITH injected AS (
  SELECT doc_id,
    'Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'
      || CAST(doc_id % 256 AS VARCHAR) || '.7 call +1555019'
      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' now. ' || text
      AS t0
  FROM documents WHERE text IS NOT NULL
), step AS (
  SELECT doc_id, t0,
    regexp_replace(t0, '{EMAIL}', '<EMAIL>', 'g') AS t1
  FROM injected
), step2 AS (
  SELECT doc_id, t0, t1,
    regexp_replace(t1, '{IPV4}', '<IP>', 'g') AS t2
  FROM step
)
SELECT doc_id,
  regexp_replace(t2, '{PHONE}', '<PHONE>', 'g') AS redacted,
  CAST(len(regexp_extract_all(t0, '{EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t1, '{IPV4}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(t2, '{PHONE}')) AS BIGINT) AS n_phones
FROM step2
"""


def _sql_pii_redact() -> str:
    from idd_hw6_record_linkage_spark.functions import pii

    return (
        _SQL_PII.replace("{EMAIL}", pii.EMAIL_RE)
        .replace("{IPV4}", pii.IPV4_RE)
        .replace("{PHONE}", pii.PHONE_RE)
    )


SQL_PII_REDACT = _sql_pii_redact()


def events_asof_signup(spark, sf_dir):
    """As-of join (operators.asof): every purchase event matched to
    the user's latest signup event at-or-before it. The DuckDB oracle
    is a native ASOF LEFT JOIN — the engine's union+window plan must
    reproduce it value-exactly, NULLs included (NULL-timestamp
    purchases are retained unmatched by BOTH engines)."""
    from idd_hw6_record_linkage_spark.operators import asof

    ev = _scan(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    out = asof.asof_join_backward(
        purchases, signups, "user_id", "ts", "signup_ts"
    )
    # epoch-microsecond BIGINTs: Spark hands pandas ns-resolution
    # timestamps, DuckDB us-resolution — integer microseconds compare
    # identically everywhere (NULL stays NULL).
    return out.select(
        "event_id",
        "user_id",
        # cast: the parquet column is TIMESTAMP_NTZ; with the session
        # pinned to UTC the cast is an identity relabel.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(
            F.col("asof").getField("signup_ts").cast("timestamp")
        ).alias("signup_ts_us"),
    )


SQL_EVENTS_ASOF_SIGNUP = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       epoch_us(s.signup_ts) AS signup_ts_us
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT user_id, ts AS signup_ts FROM events
      WHERE event_type = 'signup' AND ts IS NOT NULL) s
  ON p.user_id = s.user_id AND p.ts >= s.signup_ts
"""


def events_asof_skew(spark, sf_dir):
    """Skew-stress as-of join: a planted mega-key (30% of all users
    remapped onto user 1) probed through the TWO-PASS coarse-bucket
    plan (operators.asof coarse_bucket='day' — per-(key, day) windows
    + a per-bucket carry pass), value-checked against DuckDB's native
    ASOF LEFT JOIN over the identically-remapped tables. The uniform
    events_asof_signup oracle can't see a salting/carry bug; this one
    exists to catch it."""
    from idd_hw6_record_linkage_spark.operators import asof

    ev = _scan(spark, sf_dir, "events")
    hot = (
        F.when(F.col("user_id") % 10 < 3, F.lit(1))
        .otherwise(F.col("user_id"))
        .cast("long")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", hot.alias("user_id"), "ts"
    )
    signups = (
        ev.where(F.col("event_type") == "signup")
        .where(F.col("ts").isNotNull())
        .select(hot.alias("user_id"), F.col("ts").alias("signup_ts"))
    )
    out = asof.asof_join_backward(
        purchases, signups, "user_id", "ts", "signup_ts",
        coarse_bucket="day",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(
            F.col("asof").getField("signup_ts").cast("timestamp")
        ).alias("signup_ts_us"),
    )


SQL_EVENTS_ASOF_SKEW = """
WITH ev2 AS (
  SELECT event_id,
         CASE WHEN user_id % 10 < 3 THEN 1 ELSE user_id END AS user_id,
         ts, event_type
  FROM events
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       epoch_us(s.signup_ts) AS signup_ts_us
FROM (SELECT event_id, user_id, ts FROM ev2
      WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT user_id, ts AS signup_ts FROM ev2
      WHERE event_type = 'signup' AND ts IS NOT NULL) s
  ON p.user_id = s.user_id AND p.ts >= s.signup_ts
"""


def events_asof_forward(spark, sf_dir):
    """Forward as-of join (operators.asof direction='forward'): every
    signup matched to the user's EARLIEST purchase at-or-after it.
    DuckDB expresses forward as-of natively (`ASOF LEFT JOIN ... ON
    l.ts <= r.ts`), so this is value-exact."""
    from idd_hw6_record_linkage_spark.operators import asof

    ev = _scan(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .where(F.col("ts").isNotNull())
        .select("user_id", F.col("ts").alias("purchase_ts"))
    )
    out = asof.asof_join(
        signups, purchases, "user_id", "ts", "purchase_ts",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(
            F.col("asof").getField("purchase_ts").cast("timestamp")
        ).alias("purchase_ts_us"),
    )


SQL_EVENTS_ASOF_FORWARD = """
SELECT s.event_id, s.user_id, epoch_us(s.ts) AS ts_us,
       epoch_us(p.purchase_ts) AS purchase_ts_us
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'signup') s
ASOF LEFT JOIN
     (SELECT user_id, ts AS purchase_ts FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL) p
  ON s.user_id = p.user_id AND s.ts <= p.purchase_ts
"""


def events_asof_nearest(spark, sf_dir):
    """Nearest as-of join with tolerance (operators.asof
    direction='nearest', tolerance=7 days): every purchase matched to
    the user's closest signup in either direction, ties broken
    backward (the pandas rule), matches farther than 7 days dropped.
    The oracle recomputes nearest-with-tie-rule via a ranked candidate
    join — quadratic per user, fine for an oracle, never for the
    engine."""
    from idd_hw6_record_linkage_spark.operators import asof

    ev = _scan(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = (
        ev.where(F.col("event_type") == "signup")
        .where(F.col("ts").isNotNull())
        .select("user_id", F.col("ts").alias("signup_ts"))
    )
    out = asof.asof_join(
        purchases, signups, "user_id", "ts", "signup_ts",
        direction="nearest", tolerance=7 * 86400,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(
            F.col("asof").getField("signup_ts").cast("timestamp")
        ).alias("signup_ts_us"),
    )


SQL_EVENTS_ASOF_NEAREST = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT user_id, ts AS signup_ts FROM events
  WHERE event_type = 'signup' AND ts IS NOT NULL
), cand AS (
  SELECT p.event_id, s.signup_ts,
         abs(epoch_us(p.ts) - epoch_us(s.signup_ts)) AS d,
         CASE WHEN s.signup_ts <= p.ts THEN 0 ELSE 1 END AS fwd
  FROM p JOIN s USING (user_id)
  WHERE abs(epoch_us(p.ts) - epoch_us(s.signup_ts)) <= 604800000000
), best AS (
  SELECT event_id, signup_ts,
         row_number() OVER (PARTITION BY event_id ORDER BY d, fwd) AS rk
  FROM cand
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       epoch_us(b.signup_ts) AS signup_ts_us
FROM p LEFT JOIN (SELECT event_id, signup_ts FROM best WHERE rk = 1) b
  USING (event_id)
"""


def events_range_join(spark, sf_dir):
    """Range (point-in-interval) join (operators.range_join): every
    purchase within 3 days at-or-after a signup by the same user —
    bucketized equi-join + exact filter on the Spark side, a plain
    inequality join on the DuckDB side. Value-exact including
    multi-match fan-out."""
    from idd_hw6_record_linkage_spark.operators import range_join

    ev = _scan(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_event_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("w_end"),
    )
    out = range_join.point_in_interval_join(
        purchases, signups, "user_id", "ts", "w_start", "w_end",
        bucket_seconds=86_400,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("interval").getField("signup_event_id").alias(
            "signup_event_id"
        ),
        F.unix_micros(
            F.col("interval").getField("w_start").cast("timestamp")
        ).alias("signup_ts_us"),
    )


SQL_EVENTS_RANGE_JOIN = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       s.event_id AS signup_event_id, epoch_us(s.ts) AS signup_ts_us
FROM events p JOIN events s
  ON p.user_id = s.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 3 DAY
WHERE p.event_type = 'purchase' AND s.event_type = 'signup'
  AND p.ts IS NOT NULL AND s.ts IS NOT NULL
"""


def corpus_vocab_topk(spark, sf_dir):
    """Corpus vocabulary statistics (the tokenizer-training /
    vocab-building sweep): top 50 lowercased whitespace tokens by
    document frequency, with total occurrence counts; deterministic
    ties (doc_freq desc, n_total desc, token asc). One explode + one
    shuffle on the token; the top-k is orderBy+limit — Spark compiles
    it to TakeOrderedAndProject (per-partition heaps + a 50-row
    merge), never a single-partition global sort; rank is then a
    window over just the 50 survivors."""
    toks = F.posexplode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    )
    per_tok = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
        .select("doc_id", toks.alias("pos", "token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.count_distinct("doc_id").cast("long").alias("doc_freq"),
        )
    )
    from pyspark.sql import Window

    order = [
        F.col("doc_freq").desc(),
        F.col("n_total").desc(),
        F.col("token"),
    ]
    top = per_tok.orderBy(*order).limit(50)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "token",
        "doc_freq",
        "n_total",
    )


SQL_CORPUS_VOCAB_TOPK = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(
      regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> ''
    )) AS token
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), per AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM toks GROUP BY 1
)
SELECT CAST(row_number() OVER
         (ORDER BY doc_freq DESC, n_total DESC, token) AS BIGINT) AS rank,
       token, doc_freq, n_total
FROM per
QUALIFY rank <= 50
"""


def events_value_quantiles(spark, sf_dir):
    """Exact quantile aggregation per event_type: median and p90 of
    value (Spark's exact `percentile` — linear-interpolated, matching
    DuckDB quantile_cont), plus count. percentile_approx is the
    at-scale variant; the contract pins the exact one so the oracle
    can recompute it."""
    ev = _scan(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


SQL_EVENTS_VALUE_QUANTILES = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
       CAST(round(quantile_cont(value, 0.9), 6) AS DOUBLE) AS p90
FROM events WHERE value IS NOT NULL GROUP BY event_type
"""


def tpch_rollup_pricing(spark, sf_dir):
    """ROLLUP aggregation (grouping sets): lineitem revenue by
    (returnflag, linestatus) with subtotal and grand-total rows —
    the OLAP cube family. GROUPING() flags disambiguate NULL group
    values from rollup NULLs, identically in both engines."""
    li = _scan(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            # grouping() must be computed inside the rollup aggregate
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status",
            "revenue", "n_rows",
        )
    )


SQL_TPCH_ROLLUP_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def events_moving_avg(spark, sf_dir):
    """Sliding RANGE-frame window aggregate: per user, the mean and
    count of `value` over the trailing 24 hours (inclusive) at every
    event — rangeBetween over epoch seconds, the frame family the
    other window queries (rank, lag, session cumsum) don't touch."""
    from pyspark.sql import Window

    ev = _scan(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # Frame basis is epoch MICROseconds on both sides: unix_timestamp
    # truncates to whole seconds while DuckDB's epoch(ts) keeps
    # fractions, so a sub-second timestamp would land boundary rows in
    # different 24h frames and break the value-exact contract even
    # though both engines are "right".
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-86_400_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.avg("value").over(w), 6).alias("avg_24h"),
        F.count("*").over(w).cast("long").alias("n_24h"),
    )


SQL_EVENTS_MOVING_AVG = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  CAST(round(avg(value) OVER w, 6) AS DOUBLE) AS avg_24h,
  CAST(count(*) OVER w AS BIGINT) AS n_24h
FROM events
WHERE ts IS NOT NULL AND value IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
"""


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events_pivot(spark, sf_dir):
    """Pivot (wide conditional aggregation): one row per user with a
    count column per event type. Spark's pivot with an EXPLICIT values
    list (never the implicit distinct-scan — that is a hidden extra
    job at scale); the oracle is the equivalent FILTERed aggregation."""
    ev = _scan(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))  # count(*) is rejected inside pivot
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


SQL_EVENTS_PIVOT = f"""
SELECT user_id,
  {", ".join(
    f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
    for t in _EVENT_TYPES
  )}
FROM events WHERE user_id IS NOT NULL GROUP BY user_id
"""


def events_unpivot(spark, sf_dir):
    """Unpivot / melt (wide → long), the inverse of events_pivot:
    the per-user count columns stack back into (user_id, event_type,
    n) rows. Spark's native unpivot (Expand, map-only); the oracle
    recomputes with UNION ALL per type. Zero-count cells are kept —
    a lossless round-trip of the pivot."""
    wide = events_pivot(spark, sf_dir)
    out = wide.unpivot(
        ["user_id"],
        [f"n_{t}" for t in _EVENT_TYPES],
        "event_type",
        "n",
    )
    return out.select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        F.col("n").cast("long").alias("n"),
    )


SQL_EVENTS_UNPIVOT = f"""
WITH wide AS ({SQL_EVENTS_PIVOT})
{" UNION ALL ".join(
    f"SELECT user_id, '{t}' AS event_type, n_{t} AS n FROM wide"
    for t in _EVENT_TYPES
)}
"""


def events_approx_distinct_gate(spark, sf_dir):
    """Sketch-family tripwire: approx_count_distinct (HyperLogLog++)
    per event_type must land within 5% of the exact distinct count —
    approximation quality cannot be value-exact by definition, so the
    gate emits pass flags (ann_lsh_recall pattern)."""
    ev = _scan(spark, sf_dir, "events")
    both = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
        F.count_distinct("user_id").alias("exact"),
    )
    row = both.agg(
        F.count("*").alias("n_groups"),
        F.max(
            F.abs(F.col("approx") - F.col("exact"))
            / F.col("exact").cast("double")
        ).alias("max_rel_err"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                int(row["n_groups"] > 0),
                int(row["max_rel_err"] <= 0.05),
            )
        ],
        "has_groups long, within_5pct long",
    )


SQL_EVENTS_APPROX_DISTINCT_GATE = """
SELECT CAST(1 AS BIGINT) AS has_groups, CAST(1 AS BIGINT) AS within_5pct
"""


def quality_model_gate(spark, sf_dir):
    """Trainable-quality-classifier lifecycle tripwire (the
    ann_lsh_recall pattern — flags, not a value recomputation): build
    a deterministic labeled corpus from documents (md5-fate picks
    ~half the docs as junk and mangles their text to one repeated
    token), train the LR on a fate-split 70%, evaluate on the held-out
    30%, and emit pass flags. Catches regressions anywhere in the
    distributed featurize → fit → score → evaluate path."""
    from idd_hw6_record_linkage_spark.operators import quality_model, sampling

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    lab = sampling.hash_fate(F.col("doc_id"), salt="qlabel")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    junk_text = F.array_join(F.array_repeat(F.element_at(toks, 1), 40), " ")
    d = docs.select(
        "doc_id",
        F.when(lab < 0.5, junk_text).otherwise(F.col("text")).alias("text"),
        (lab >= 0.5).cast("int").alias("label"),
    )
    feat = quality_model.doc_features(d, "text")
    split = sampling.hash_fate(F.col("doc_id"), salt="qsplit")
    model = quality_model.train_quality_lr(feat.where(split < 0.7), "label")
    m = quality_model.evaluate_quality(
        model, feat.where(split >= 0.7), "label"
    )
    return spark.createDataFrame(
        [
            (
                int(m["n"] > 0),
                int(m["auc"] >= 0.9),
                int(m["accuracy"] >= 0.85),
            )
        ],
        "has_rows long, auc_pass long, acc_pass long",
    )


SQL_QUALITY_MODEL_GATE = """
SELECT CAST(1 AS BIGINT) AS has_rows, CAST(1 AS BIGINT) AS auc_pass,
       CAST(1 AS BIGINT) AS acc_pass
"""


def rl_active_learning_gate(spark, sf_dir):
    """Active-learning lifecycle tripwire (M4, the quality_model_gate
    pattern — flags, not value recomputation): a margin-separated
    synthetic pair pool keyed off doc_ids, the uncertainty-sampling
    loop (operators.active_learning) with a 6-seed + 3×15 budget, and
    pass flags on (a) the label budget being respected, (b) the final
    model reaching ≥0.95 pool accuracy, (c) the loop having labeled
    under a quarter of the pool — i.e. the model got near-perfect
    while querying the oracle for a small fraction of pairs, which is
    the entire point of uncertainty sampling."""
    from pyspark.sql import Window

    from idd_hw6_record_linkage_spark.operators import active_learning as AL
    from idd_hw6_record_linkage_spark.operators.scoring import (
        Comparator,
        ComparatorConfig,
        predict_probability,
    )

    cfg = ComparatorConfig(
        "al_gate",
        (
            Comparator("f1", "exact", "a"),
            Comparator("f2", "exact", "b"),
            Comparator("f3", "exact", "c"),
        ),
    )
    pool = (
        _docs(spark, sf_dir)
        .select(
            F.concat(F.lit("L"), F.col("doc_id")).alias("id_l"),
            F.concat(F.lit("R"), F.col("doc_id")).alias("id_r"),
            (F.pmod(F.xxhash64("doc_id", F.lit(1)), 1000) / 1000.0).alias("f1"),
            (F.pmod(F.xxhash64("doc_id", F.lit(2)), 1000) / 1000.0).alias("f2"),
            (F.pmod(F.xxhash64("doc_id", F.lit(3)), 1000) / 1000.0).alias("f3"),
        )
        .withColumn("__s", (F.col("f1") + F.col("f2") + F.col("f3")) / 3.0)
        .where(F.abs(F.col("__s") - 0.5) > 0.05)
        .withColumn("label", (F.col("__s") > 0.5).cast("int"))
        .drop("__s")
        .cache()
    )
    try:
        n_pool = pool.count()
        feats = pool.select("id_l", "id_r", "f1", "f2", "f3")
        seed = (
            pool.withColumn("__h", F.xxhash64("id_l"))
            .withColumn(
                "__rk",
                F.row_number().over(Window.partitionBy("label").orderBy("__h")),
            )
            .where(F.col("__rk") <= 3)
            .select("id_l", "id_r", "label")
        )

        def oracle(pairs):
            return pairs.join(
                pool.select("id_l", "id_r", "label"), ["id_l", "id_r"]
            )

        assembler, model, labeled, _hist = AL.active_learn_lr(
            feats, oracle, cfg, seed, rounds=3, batch_size=15
        )
        n_labels = labeled.count()
        acc = (
            predict_probability(feats, assembler, model)
            .join(pool.select("id_l", "id_r", "label"), ["id_l", "id_r"])
            .select(
                F.avg(
                    ((F.col("score") > 0.5).cast("int") == F.col("label"))
                    .cast("double")
                ).alias("acc")
            )
            .collect()[0]["acc"]
        )
    finally:
        pool.unpersist()
    return spark.createDataFrame(
        [
            (
                int(n_pool > 0),
                int(n_labels <= 6 + 3 * 15),
                int(acc >= 0.95),
                int(n_labels * 4 < n_pool),
            )
        ],
        "has_rows long, budget_pass long, acc_pass long, frac_pass long",
    )


SQL_RL_ACTIVE_LEARNING_GATE = """
SELECT CAST(1 AS BIGINT) AS has_rows, CAST(1 AS BIGINT) AS budget_pass,
       CAST(1 AS BIGINT) AS acc_pass, CAST(1 AS BIGINT) AS frac_pass
"""


def text_compression_gate(spark, sf_dir):
    """Compression-ratio quality signal tripwire (no SQL zlib exists,
    so this is the flags pattern): md5-fate picks ~half the docs and
    mangles them to one repeated token; the deflate ratio of the
    mangled class must land clearly below the natural class, and the
    signal must be Arrow-batched (plan-asserted in pytest)."""
    from idd_hw6_record_linkage_spark.functions import compress_signal
    from idd_hw6_record_linkage_spark.operators import sampling

    docs = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    )
    fate = sampling.hash_fate(F.col("doc_id"), salt="czlabel")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    junk_text = F.array_join(F.array_repeat(F.element_at(toks, 1), 40), " ")
    d = docs.select(
        (fate < 0.5).cast("int").alias("is_junk"),
        F.when(fate < 0.5, junk_text).otherwise(F.col("text")).alias("text"),
    )
    means = (
        d.groupBy("is_junk")
        .agg(
            F.avg(compress_signal.compression_ratio("text")).alias("mean_cr")
        )
        .collect()
    )
    by = {r["is_junk"]: r["mean_cr"] for r in means}
    return spark.createDataFrame(
        [
            (
                int(len(by) == 2),
                int(by.get(1, 1.0) < by.get(0, 0.0) - 0.1),
            )
        ],
        "both_classes long, junk_below_prose long",
    )


SQL_TEXT_COMPRESSION_GATE = """
SELECT CAST(1 AS BIGINT) AS both_classes,
       CAST(1 AS BIGINT) AS junk_below_prose
"""


def text_span_dup(spark, sf_dir):
    """Cross-document verbatim-span profile (operators.span_dedup):
    3-token rolling windows, a window is duplicated iff its hash
    occurs in >= 2 distinct docs; per-doc counts + dup_ratio. The
    md5_60 window basis reproduces in DuckDB — value-exact. Window=3
    here because the testdata vocabulary is small enough for natural
    cross-doc span collisions; production default is window=20."""
    from idd_hw6_record_linkage_spark.operators import span_dedup

    return span_dedup.span_dup_stats(
        _docs(spark, sf_dir),
        "doc_id",
        "text",
        window=3,
        min_docs=2,
        base="md5_60",
    )


SQL_TEXT_SPAN_DUP = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
), wins AS (
  SELECT doc_id,
    unnest(list_transform(range(0, len(w) - 3 + 1),
      i -> ('0x' || substr(md5(
              array_to_string(list_slice(w, i + 1, i + 3), ' ')
            ), 1, 15))::BIGINT)) AS win_key
  FROM d WHERE len(w) >= 3
), freq AS (
  SELECT win_key, count(DISTINCT doc_id) AS doc_freq FROM wins GROUP BY 1
), per AS (
  SELECT wins.doc_id, count(*) AS n_windows,
         sum(CASE WHEN freq.doc_freq >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM wins JOIN freq USING (win_key) GROUP BY 1
)
SELECT documents.doc_id,
  CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
  CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup_windows,
  CAST(round(CASE WHEN coalesce(per.n_windows, 0) > 0
    THEN per.n_dup / CAST(per.n_windows AS DOUBLE) ELSE 0.0 END, 6)
    AS DOUBLE) AS dup_ratio
FROM documents LEFT JOIN per ON documents.doc_id = per.doc_id
"""


def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators.decontaminate): the
    documents with doc_id % 37 == 0 play the benchmark probe set;
    every document sharing any 3-token window with a probe verbatim
    is flagged contaminated (window=3 for natural collisions in the
    testdata corpus, the text_span_dup trick; production default is
    13). md5_60 keys so the oracle recomputes the exact key space."""
    from idd_hw6_record_linkage_spark.operators import decontaminate

    docs = _docs(spark, sf_dir)
    probes = docs.where(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    out = decontaminate.contamination_stats(
        docs, probes, "doc_id", "text", "doc_id", "text",
        window=3, base="md5_60",
    )
    return out.select(
        "doc_id", "n_windows", "n_contaminated", "is_contaminated"
    )


SQL_CORPUS_DECONTAMINATE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
), wins AS (
  SELECT doc_id,
    unnest(list_transform(range(0, len(w) - 3 + 1),
      i -> ('0x' || substr(md5(
              array_to_string(list_slice(w, i + 1, i + 3), ' ')
            ), 1, 15))::BIGINT)) AS win_key
  FROM d WHERE len(w) >= 3
), probe_keys AS (
  SELECT DISTINCT win_key FROM wins WHERE doc_id % 37 = 0
), per AS (
  SELECT wins.doc_id, count(*) AS n_windows,
         sum(CASE WHEN probe_keys.win_key IS NOT NULL THEN 1 ELSE 0 END)
           AS n_cont
  FROM wins LEFT JOIN probe_keys USING (win_key) GROUP BY 1
)
SELECT documents.doc_id,
  CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
  CAST(coalesce(per.n_cont, 0) AS BIGINT) AS n_contaminated,
  coalesce(per.n_cont, 0) > 0 AS is_contaminated
FROM documents LEFT JOIN per ON documents.doc_id = per.doc_id
"""


def lm_cross_entropy(spark, sf_dir):
    """Unigram-LM quality signal (operators.lm_score): fit a
    Laplace(0.5)-smoothed unigram LM on the even-doc_id half of the
    corpus (the 'trusted reference corpus' role), score EVERY document
    by per-token cross-entropy — odd docs exercise the OOV path. All
    native ln/avg exprs, so the oracle recomputes the exact model."""
    from idd_hw6_record_linkage_spark.operators import lm_score as LM

    docs = _docs(spark, sf_dir)
    model = LM.fit_unigram_lm(docs.where(F.col("doc_id") % 2 == 0))
    out = LM.lm_score(docs, model)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy", 4).alias("cross_entropy"),
    )


SQL_LM_CROSS_ENTROPY = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), ref AS (
  SELECT token, count(*) AS cnt FROM toks WHERE doc_id % 2 = 0 GROUP BY 1
), z AS (
  SELECT sum(cnt) AS n, count(*) AS v FROM ref
), scored AS (
  SELECT toks.doc_id,
         coalesce(ln(ref.cnt + 0.5), ln(0.5)) - ln(z.n + 0.5 * (z.v + 1))
           AS lp
  FROM toks LEFT JOIN ref USING (token), z
), per AS (
  SELECT doc_id, count(*) AS n_tokens, avg(-lp) AS ce FROM scored GROUP BY 1
)
SELECT documents.doc_id,
  CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(round(per.ce, 4) AS DOUBLE) AS cross_entropy
FROM documents LEFT JOIN per ON documents.doc_id = per.doc_id
"""


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05
_SHARD_TOKENS = 10_000

# fate = first 60 md5 bits over 2^60 — exact in IEEE doubles on both
# engines (int64->double rounds identically; /2^60 is exact).
_SQL_FATE = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    " / 1152921504606846976.0"
)


def corpus_sample(spark, sf_dir):
    """Deterministic per-source corpus mixing (operators.sampling):
    keep a row iff its md5-fate < its source's rate. The oracle
    recomputes the identical fate and rate table — value-exact,
    and stable under any repartitioning by construction."""
    from idd_hw6_record_linkage_spark.operators import sampling

    out = sampling.sample_corpus(
        _docs(spark, sf_dir),
        "doc_id",
        _MIX_RATES,
        source_col="source",
        default_rate=_MIX_DEFAULT,
    )
    return out.select(
        "doc_id", "source", F.round("sample_fate", 6).alias("sample_fate")
    )


SQL_CORPUS_SAMPLE = f"""
WITH base AS (
  SELECT doc_id, source, {_SQL_FATE} AS fate FROM documents
  WHERE doc_id IS NOT NULL
), rated AS (
  SELECT doc_id, source, fate,
    CASE source
      {" ".join(f"WHEN '{s}' THEN {r}" for s, r in _MIX_RATES.items())}
      ELSE {_MIX_DEFAULT} END AS rate
  FROM base
)
SELECT doc_id, source, CAST(round(fate, 6) AS DOUBLE) AS sample_fate
FROM rated WHERE fate < rate
"""


def corpus_pack_shards(spark, sf_dir):
    """Token-budget shard packing (operators.sampling.pack_shards):
    deterministic fate-ordered running token sum, floor-divided by the
    shard budget — computed as a distributed two-pass prefix sum (per-
    bucket offsets + within-bucket windows), never a single-partition
    global window. The oracle recomputes with the plain global window,
    proving the two-pass decomposition exact."""
    from idd_hw6_record_linkage_spark.operators import sampling

    out = sampling.pack_shards(
        _docs(spark, sf_dir), "doc_id", "n_chars", _SHARD_TOKENS
    )
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_tokens"),
        "shard_id",
        "shard_pos",
    )


SQL_CORPUS_PACK_SHARDS = f"""
WITH base AS (
  SELECT doc_id, n_chars, {_SQL_FATE} AS fate FROM documents
  WHERE doc_id IS NOT NULL
), o AS (
  SELECT doc_id, n_chars,
    sum(n_chars) OVER (ORDER BY fate, doc_id) - n_chars AS tok_before
  FROM base
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens,
  CAST(floor(tok_before / {_SHARD_TOKENS}.0) AS BIGINT) AS shard_id,
  CAST(tok_before - CAST(floor(tok_before / {_SHARD_TOKENS}.0) AS BIGINT)
       * {_SHARD_TOKENS} AS BIGINT) AS shard_pos
FROM o
"""


def text_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", TA.lang_id_expr("text").alias("lang_guess")
    )


def _lang_sql() -> str:
    hits = {
        lang: (
            "len(list_intersect(list_distinct(list_transform("
            "regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))), "
            f"{_sql_str_list(words)}))"
        )
        for lang, words in TA.STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = "\n".join(
        f"WHEN {hits[lang]} >= 1 AND {hits[lang]} = {best} THEN '{lang}'"
        for lang in TA.STOPWORDS
    )
    return (
        f"SELECT doc_id, CASE {whens} ELSE 'und' END AS lang_guess FROM documents"
    )


SQL_TEXT_LANG_ID = _lang_sql()


def text_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", TA.fingerprint_expr("text").alias("fingerprint")
    )


SQL_TEXT_FINGERPRINT = """
SELECT doc_id,
  md5(array_to_string(list_transform(
    CASE WHEN length(trim(text)) = 0 THEN []
         ELSE regexp_split_to_array(trim(text), '\\s+') END,
    x -> lower(x)), ' ')) AS fingerprint
FROM documents
"""


def url_canonicalize(spark, sf_dir):
    """Canonical-URL normalization (functions.normalize.
    canonical_url_expr) — the url-identity step a Common-Crawl dedup
    pipeline runs before exact url dedup. The testdata tables carry no
    url column, so BOTH engines construct the same deterministic messy
    URLs from doc_id (mixed-case scheme/host, default + explicit
    ports, tracking params, unsorted query, trailing slashes,
    fragments, plus non-URL fall-through rows) and the DuckDB oracle
    then RECOMPUTES the whole canonicalization with the identical
    RE2-safe regexes — value-exact, not a constant-row gate."""
    import idd_hw6_record_linkage_spark.functions.normalize as N

    i = F.col("doc_id")
    s = i.cast("string")
    scheme = F.when(i % 4 <= 1, F.lit("HTTP")).otherwise(F.lit("HttpS"))
    port = (
        F.when(i % 4 == 0, F.lit(":80"))
        .when(i % 4 == 1, F.lit(":8080"))
        .when(i % 4 == 2, F.lit(":443"))
        .otherwise(F.lit(""))
    )
    tail = (
        F.when(i % 3 == 0, F.lit("/?utm_source=feed&b=2&a=1"))
        .when(i % 3 == 1, F.lit("?fbclid=XYZ&z=9&utm_medium=email"))
        .otherwise(F.lit("///"))
    )
    frag = F.when(i % 5 == 0, F.lit("#Section-2")).otherwise(F.lit(""))
    messy = F.concat(
        scheme, F.lit("://WWW.Site"), (i % 7).cast("string"), F.lit(".COM"),
        port, F.lit("/Path/"), s, tail, frag,
    )
    messy = F.when(
        i % 11 == 0, F.concat(F.lit("  not a url "), s, F.lit(" "))
    ).otherwise(messy)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.trim(messy).alias("url_raw"),
        N.canonical_url_expr(messy).alias("url_canonical"),
    )


# Reusable canonicalization chain: given a `raw({id_cols}, url)` CTE
# body, emits CTEs ending in z({id_cols}, u, scheme, host, path,
# qnorm); `_SQL_CANON_EXPR` is the final canonical-url expression over
# z. Mirrors functions.normalize.canonical_url_expr step for step —
# both oracles below RECOMPUTE the transform, they don't assert
# constants. coalesce bridges DuckDB's NULL-on-no-match regexp_extract
# / NULL-on-empty-list array_to_string vs Spark's ''.
def _sql_canon_chain(raw_sql: str, id_cols: str) -> str:
    return rf"""
WITH raw AS ({raw_sql}),
t AS (SELECT {id_cols}, trim(url) AS u FROM raw),
x AS (
  SELECT {id_cols}, u,
    lower(coalesce(regexp_extract(u,
      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
    lower(coalesce(regexp_extract(u,
      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '')) AS hostport,
    coalesce(regexp_extract(u,
      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1), '') AS rest
  FROM t
),
y AS (
  SELECT {id_cols}, u, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
         ELSE hostport END AS host,
    regexp_replace(coalesce(regexp_extract(rest, '^([^?]*)', 1), ''),
      '/+$', '') AS path0,
    coalesce(regexp_extract(rest, '^[^?]*\?(.*)$', 1), '') AS query
  FROM x
),
z AS (
  SELECT {id_cols}, u, scheme, host,
    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
    coalesce(array_to_string(
      list_sort(list_filter(string_split(query, '&'),
        p -> p <> '' AND NOT regexp_matches(p,
          '^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_[a-z]+|ref)='))),
      '&'), '') AS qnorm
  FROM y
)"""


_SQL_CANON_EXPR = """CASE WHEN scheme = '' THEN u
       ELSE scheme || '://' || host || path
            || (CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END)
  END"""


SQL_URL_CANONICALIZE = _sql_canon_chain(
    """
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0
         THEN '  not a url ' || CAST(doc_id AS VARCHAR) || ' '
    ELSE
      (CASE WHEN doc_id % 4 <= 1 THEN 'HTTP' ELSE 'HttpS' END)
      || '://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
      || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':8080'
          WHEN 2 THEN ':443' ELSE '' END)
      || '/Path/' || CAST(doc_id AS VARCHAR)
      || (CASE doc_id % 3 WHEN 0 THEN '/?utm_source=feed&b=2&a=1'
          WHEN 1 THEN '?fbclid=XYZ&z=9&utm_medium=email' ELSE '///' END)
      || (CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END)
    END AS url
  FROM documents
""",
    "doc_id",
) + f"""
SELECT doc_id, u AS url_raw, {_SQL_CANON_EXPR} AS url_canonical
FROM z
"""


def recrawl_collapse(spark, sf_dir):
    """Re-crawl collapse (dedup.collapse_recrawls): url-identity dedup
    keeping the latest crawl. Both engines synthesize a crawl log from
    events — each user_id is one page, each of their events a re-crawl
    whose raw url varies by tracking params / case / fragment /
    trailing slash (all canonical-equal) — and the oracle recomputes
    canonicalization + the latest-wins window independently."""
    ev = _scan(spark, sf_dir, "events", widen=False)
    k = (F.col("user_id") % 50).cast("string")
    uid = F.col("user_id").cast("string")
    v = F.col("event_id") % 3
    url = (
        F.when(v == 0, F.concat(
            F.lit("HTTPS://WWW.Site"), k, F.lit(".COM/page/"), uid,
            F.lit("?utm_source=crawl&ref=x"),
        ))
        .when(v == 1, F.concat(
            F.lit("https://www.site"), k, F.lit(".com/page/"), uid,
            F.lit("#top"),
        ))
        .otherwise(F.concat(
            F.lit("https://www.site"), k, F.lit(".com/page/"), uid,
            F.lit("///"),
        ))
    )
    pages = ev.select(
        "event_id", F.col("ts").alias("warc_ts"), url.alias("url")
    )
    out = dedup.collapse_recrawls(
        pages, "url", "warc_ts", tiebreak_cols=["event_id"]
    )
    return out.select(
        "url_canonical",
        F.col("event_id").alias("kept_event_id"),
        F.col("warc_ts").alias("kept_ts"),
        F.col("n_versions").cast("long").alias("n_versions"),
    )


SQL_RECRAWL_COLLAPSE = _sql_canon_chain(
    """
  SELECT event_id, ts,
    CASE event_id % 3
      WHEN 0 THEN 'HTTPS://WWW.Site' || CAST(user_id % 50 AS VARCHAR)
        || '.COM/page/' || CAST(user_id AS VARCHAR)
        || '?utm_source=crawl&ref=x'
      WHEN 1 THEN 'https://www.site' || CAST(user_id % 50 AS VARCHAR)
        || '.com/page/' || CAST(user_id AS VARCHAR) || '#top'
      ELSE 'https://www.site' || CAST(user_id % 50 AS VARCHAR)
        || '.com/page/' || CAST(user_id AS VARCHAR) || '///'
    END AS url
  FROM events
""",
    "event_id, ts",
) + f"""
, c AS (
  SELECT event_id, ts, {_SQL_CANON_EXPR} AS url_canonical FROM z
), r AS (
  SELECT url_canonical, event_id, ts,
    row_number() OVER (PARTITION BY url_canonical
                       ORDER BY ts DESC, event_id ASC) AS rn,
    count(*) OVER (PARTITION BY url_canonical) AS nv
  FROM c
)
SELECT url_canonical, event_id AS kept_event_id, ts AS kept_ts,
       CAST(nv AS BIGINT) AS n_versions
FROM r WHERE rn = 1
"""


# --- ANN ---------------------------------------------------------------------


def ann_topk_brute(spark, sf_dir):
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann.brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_ANN_TOPK_BRUTE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qv, e.v) AS c
  FROM e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(round(c, 6) AS DOUBLE) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def ann_topk_lsh(spark, sf_dir):
    """Hyperplane-bucketed ANN — rows-only driver check; recall vs the
    brute-force baseline asserted in pytest AND oracle-bounded by
    ann_lsh_recall below."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # cap opted in explicitly (library default is None = exact bucket
    # semantics): this is the production-shape path the driver checks.
    return ann.lsh_topk(emb, queries, k=5, max_bucket_size=1000)


def ann_lsh_recall(spark, sf_dir):
    """ANN LSH cannot be hash-exact in SQL (float-matmul buckets), but
    its QUALITY is checkable: recall@k of the LSH path against the SQL-
    reproducible brute-force top-k, thresholded at 0.95. The oracle
    computes the same row from the DuckDB side (n_queries from data,
    recall_pass=1 expected), so a recall regression fails the gate."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = ann.brute_force_topk(emb, queries, k=5).select("query_id", "vec_id")
    # Weakly-clustered 64-dim synthetic vectors need a generous
    # candidate fraction for exact top-5: 4 planes x 8 tables x 4
    # probes. Recall dials are per-corpus; the oracle pins THIS
    # configuration's quality so a pruning regression fails the gate.
    lsh = ann.lsh_topk(
        emb, queries, k=5, num_planes=4, num_tables=8, num_probes=4,
        max_bucket_size=1000,
    ).select("query_id", "vec_id")
    hits = brute.join(lsh, ["query_id", "vec_id"], "leftsemi").count()
    total = brute.count()
    nq = queries.count()
    recall = hits / total if total else 0.0
    return spark.createDataFrame(
        [(nq, 5, int(recall >= 0.95))],
        "n_queries bigint, k bigint, recall_pass bigint",
    )


SQL_ANN_LSH_RECALL = """
SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT)
         AS n_queries,
       CAST(5 AS BIGINT) AS k,
       CAST(1 AS BIGINT) AS recall_pass
"""


def ann_ivf_recall(spark, sf_dir):
    """IVF (spherical-k-means inverted lists) is the data-adaptive ANN
    scale path next to the data-oblivious hyperplane LSH; like the LSH
    path its buckets are float-trained and not SQL-reproducible, so
    the driver gate is the same recall tripwire: recall@5 of ivf_topk
    against the SQL-reproducible brute-force top-k, thresholded at
    0.85 (constant expected row from the DuckDB side; a pruning or
    training regression flips recall_pass to 0 and fails the gate).

    Threshold rationale: the synthetic embeddings are near-uniform
    random vectors — IVF's adversarial case (no cluster structure, so
    recall is bounded by the probed candidate fraction; on planted
    clusters pytest asserts >= 0.9 at a 1/4 fraction). 4 lists x 3
    probes measures a stable 0.92-1.00 across sf0.001/0.01/0.1 (3
    trials each); 0.85 keeps margin while any pruning/codebook
    regression (recall ~0) still trips."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = ann.brute_force_topk(emb, queries, k=5).select("query_id", "vec_id")
    # Cap opted in (production shape); dials are per-corpus.
    ivf = ann.ivf_topk(
        emb, queries, k=5, n_centroids=4, nprobe=3, iters=2,
        max_bucket_size=1000,
    ).select("query_id", "vec_id")
    hits = brute.join(ivf, ["query_id", "vec_id"], "leftsemi").count()
    total = brute.count()
    nq = queries.count()
    recall = hits / total if total else 0.0
    return spark.createDataFrame(
        [(nq, 5, int(recall >= 0.85))],
        "n_queries bigint, k bigint, recall_pass bigint",
    )


SQL_ANN_IVF_RECALL = SQL_ANN_LSH_RECALL


# --- events: windowed / sessionized time-series evidence ----------------------


def events_windowed_agg(spark, sf_dir):
    """Tumbling 1-hour window per event_type: count + sum(value)."""
    ev = _scan(spark, sf_dir, "events", widen=False)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_EVENTS_WINDOWED_AGG = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def events_topk_per_user(spark, sf_dir):
    """Top-3 events by value per user (window rank, deterministic ties)."""
    from pyspark.sql.window import Window

    ev = _scan(spark, sf_dir, "events", widen=False)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "user_id", "event_id", F.round("value", 4).alias("value"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


SQL_EVENTS_TOPK_PER_USER = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
)
SELECT user_id, event_id, CAST(round(value, 4) AS DOUBLE) AS value,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    sum of boundary flags per user — the standard training-data
    sessionizer as pure window functions."""
    from pyspark.sql.window import Window

    ev = _scan(spark, sf_dir, "events", widen=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap basis is epoch MICROseconds on both sides (unix_timestamp
    # truncates to whole seconds, DuckDB's epoch() keeps fractions —
    # the same frame-parity trap events_moving_avg hit).
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sess = flagged.withColumn(
        "session_seq", F.sum("new_session").over(w).cast("long")
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SQL_EVENTS_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
    CAST(sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY 1, 2
"""


# --- TPC-H-shape relational evidence ------------------------------------------


def tpch_agg_pricing(spark, sf_dir):
    li = _scan(spark, sf_dir, "lineitem", widen=False)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


SQL_TPCH_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
  CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
  CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
  CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY 1, 2
"""


def join_topk_customers(spark, sf_dir):
    orders = _scan(spark, sf_dir, "orders", widen=False)
    cust = _scan(spark, sf_dir, "customer", widen=False)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


SQL_JOIN_TOPK_CUSTOMERS = """
SELECT c_custkey, c_name,
  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey ASC LIMIT 10
"""


def semi_anti_customers(spark, sf_dir):
    orders = _scan(spark, sf_dir, "orders", widen=False)
    cust = _scan(spark, sf_dir, "customer", widen=False)
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "leftsemi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "leftanti")
    return spark.range(1).select(
        F.lit(with_orders.count()).cast("long").alias("with_orders"),
        F.lit(without.count()).cast("long").alias("without_orders"),
    )


SQL_SEMI_ANTI_CUSTOMERS = """
SELECT
  CAST((SELECT count(*) FROM customer c WHERE EXISTS
        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
    AS with_orders,
  CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
    AS without_orders
"""


def _match_rule_pairs(spark, sf_dir):
    from idd_hw6_record_linkage_spark.operators.match_rules import (
        apply_match_rules,
    )

    docs = _pair_feature_docs(spark, sf_dir)
    pairs = blocking.self_pair_join(docs, "doc_id", _PAIR_FEATURE_COLS)
    _, jac, _ = _pair_feature_sims()
    rules = [
        ("exact_prefix", F.col("t40_l") == F.col("t40_r")),
        ("tight_edit", F.levenshtein("t40_l", "t40_r") <= 20),
        ("strong_tokens", jac >= 0.7),
        (
            "len_tokens",
            (F.abs(F.col("nc_l") - F.col("nc_r")) <= 10) & (jac >= 0.45),
        ),
    ]
    return apply_match_rules(pairs, rules)


def rl_match_rules(spark, sf_dir):
    return _match_rule_pairs(spark, sf_dir).select(
        "id_l", "id_r", "matched_rule", "rule_rank"
    )


_MATCH_RULES_CASE_SQL = """
    CASE WHEN t40_l = t40_r THEN {which}
         WHEN levenshtein(t40_l, t40_r) <= 20 THEN {which2}
         WHEN len(list_intersect(toks_l, toks_r)) * 1.0
              / len(list_distinct(list_concat(toks_l, toks_r))) >= 0.7
           THEN {which3}
         WHEN abs(nc_l - nc_r) <= 10
              AND len(list_intersect(toks_l, toks_r)) * 1.0
                  / len(list_distinct(list_concat(toks_l, toks_r))) >= 0.45
           THEN {which4}
         ELSE NULL END
"""

_MATCH_RULES_PAIR_CTE = f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, 40) AS t40,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         CAST(n_chars AS DOUBLE) AS nc,
         {_BLOCK_KEY_SQL} AS block_key
  FROM documents
), p AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         a.t40 AS t40_l, b.t40 AS t40_r,
         a.toks AS toks_l, b.toks AS toks_r,
         a.nc AS nc_l, b.nc AS nc_r
  FROM d a JOIN d b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
"""

SQL_RL_MATCH_RULES = (
    _MATCH_RULES_PAIR_CTE
    + "SELECT id_l, id_r, "
    + _MATCH_RULES_CASE_SQL.format(
        which="'exact_prefix'", which2="'tight_edit'",
        which3="'strong_tokens'", which4="'len_tokens'",
    )
    + " AS matched_rule, CAST("
    + _MATCH_RULES_CASE_SQL.format(which="1", which2="2", which3="3", which4="4")
    + " AS INTEGER) AS rule_rank FROM p"
)


def rl_match_rule_stats(spark, sf_dir):
    from idd_hw6_record_linkage_spark.operators.match_rules import rule_stats

    return rule_stats(_match_rule_pairs(spark, sf_dir)).select(
        "matched_rule", F.col("n_pairs").cast("long").alias("n_pairs")
    )


SQL_RL_MATCH_RULE_STATS = (
    _MATCH_RULES_PAIR_CTE
    + "SELECT "
    + _MATCH_RULES_CASE_SQL.format(
        which="'exact_prefix'", which2="'tight_edit'",
        which3="'strong_tokens'", which4="'len_tokens'",
    )
    + " AS matched_rule, CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1"
)


# --- registry -----------------------------------------------------------------

# ORDERING POLICY: the driver's CORRECTNESS artifact checks the FIRST
# 50 entries, so newest / least-proven queries go first and the oldest
# long-green trivial ones are parked at the END (they are still run by
# scripts/check_oracles.py's full sweep and by pytest). When adding a
# query, add it at the TOP.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- new or behavior-changed this round -----------------------------
    "rl_cologne_keys": rl_cologne_keys,
    "rl_match_explanations": rl_match_explanations,
    "dedup_source_overlap": dedup_source_overlap,
    "dedup_source_rates": dedup_source_rates,
    "rl_mra": rl_mra,
    "rl_canopy_blocks": rl_canopy_blocks,
    "rl_star_clusters": rl_star_clusters,
    "rl_pivot_clusters": rl_pivot_clusters,
    "rl_cluster_blanc": rl_cluster_blanc,
    "corpus_mix_temperature": corpus_mix_temperature,
    "corpus_chunk_docs": corpus_chunk_docs,
    "rl_retract_records": rl_retract_records,
    "rl_match_rules": rl_match_rules,
    "rl_match_rule_stats": rl_match_rule_stats,
    "rl_nysiis_keys": rl_nysiis_keys,
    "rl_sw_unit": rl_sw_unit,
    "rl_editex_unit": rl_editex_unit,
    "rl_lcs": rl_lcs,
    "rl_suffix_blocks": rl_suffix_blocks,
    "rl_setsim_join": rl_setsim_join,
    "rl_qgram_cosine": rl_qgram_cosine,
    "rl_refined_soundex": rl_refined_soundex,
    "rl_weighted_jaccard": rl_weighted_jaccard,
    "rl_edit_join": rl_edit_join,
    "rl_jaro_duck": rl_jaro_duck,
    "rl_nw_unit": rl_nw_unit,
    "rl_bag_distance": rl_bag_distance,
    "rl_damerau": rl_damerau,
    "rl_qgram_blocks": rl_qgram_blocks,
    "rl_label_sample": rl_label_sample,
    "rl_cluster_gmd": rl_cluster_gmd,
    "rl_cluster_exact": rl_cluster_exact,
    "rl_cluster_ari": rl_cluster_ari,
    "rl_score_ap": rl_score_ap,
    "rl_edge_triangles": rl_edge_triangles,
    "rl_clusters_bridge_safe": rl_clusters_bridge_safe,
    "rl_soft_tfidf": rl_soft_tfidf,
    "rl_monge_elkan": rl_monge_elkan,
    # behavior-changed this round (ADVICE fixes / join shrink) — keep
    # inside the driver's checked prefix:
    "dedup_lines": dedup_lines,
    "events_moving_avg": events_moving_avg,
    "rl_rare_token_blocks": rl_rare_token_blocks,
    "rl_constraint_check": rl_constraint_check,
    "rl_score_auc": rl_score_auc,
    "rl_active_learning_gate": rl_active_learning_gate,
    "corpus_decontaminate": corpus_decontaminate,
    "lm_cross_entropy": lm_cross_entropy,
    "rl_fs_match_weights": rl_fs_match_weights,
    "rl_sorted_neighborhood": rl_sorted_neighborhood,
    "rl_meta_blocking": rl_meta_blocking,
    "rl_one_to_one_matches": rl_one_to_one_matches,
    "rl_golden_records": rl_golden_records,
    "rl_blocking_scheme_eval": rl_blocking_scheme_eval,
    "rl_fs_tf_bands": rl_fs_tf_bands,
    "rl_cluster_audit": rl_cluster_audit,
    "rl_bcubed_eval": rl_bcubed_eval,
    "rl_attach_increment": rl_attach_increment,
    "rl_threshold_sweep": rl_threshold_sweep,
    "events_asof_forward": events_asof_forward,
    "events_asof_nearest": events_asof_nearest,
    "events_asof_skew": events_asof_skew,
    "events_asof_signup": events_asof_signup,
    # demoted long-green mid-round queries (their modules stay covered
    # inside the prefix: rl_soundex_keys + rl_refined_soundex recompute
    # both soundex algorithms; the token-sim/gamma bases feed
    # rl_fs_match_weights):
    # text_span_dup's round-5 change was plan-shape only (dup-subset
    # join side); its oracle proves the values unchanged, so it yields
    # its prefix slot to the new NYSIIS contract query:
    "text_span_dup": text_span_dup,
    # rl_sw_gate / rl_editex_gate yield their prefix slots to
    # rl_sw_unit / rl_editex_unit — the unit pins are strictly stronger
    # evidence on the same kernels (value-exact rows vs constant-flag
    # tripwires); the gates stay in the full sweep. rl_cluster_vmeasure
    # and rl_cluster_muc yield their slots to the new match-rule
    # waterfall and exact-cluster-match queries: the cluster-metric
    # family (GMD, EXACT, ARI) keeps three in-prefix members on the
    # same shared truth/cluster bases:
    "rl_sw_gate": rl_sw_gate,
    "rl_editex_gate": rl_editex_gate,
    "rl_cluster_vmeasure": rl_cluster_vmeasure,
    "rl_cluster_muc": rl_cluster_muc,
    # rl_soundex_keys yields its slot to the retraction query; its
    # module stays in-prefix via rl_refined_soundex (same pass-table
    # discipline, same file), and classic soundex stays in the sweep:
    "rl_soundex_keys": rl_soundex_keys,
    "rl_soundex_blocks": rl_soundex_blocks,
    "rl_pair_token_sims": rl_pair_token_sims,
    "rl_gamma_patterns": rl_gamma_patterns,
    "ann_ivf_recall": ann_ivf_recall,
    # -- got no driver CORRECTNESS row in round 4 (QUERIES order put
    #    them past the 50-row cap) ---------------------------------------
    "tpch_rollup_pricing": tpch_rollup_pricing,
    "quality_model_gate": quality_model_gate,
    "text_compression_gate": text_compression_gate,
    "events_windowed_agg": events_windowed_agg,
    "events_topk_per_user": events_topk_per_user,
    "events_sessionize": events_sessionize,
    "tpch_agg_pricing": tpch_agg_pricing,
    "join_topk_customers": join_topk_customers,
    "semi_anti_customers": semi_anti_customers,
    # -- standing coverage ----------------------------------------------
    "rl_block_stats": rl_block_stats,
    "rl_candidate_pairs": rl_candidate_pairs,
    "rl_pair_features": rl_pair_features,
    "rl_match_edges": rl_match_edges,
    "rl_eval_metrics": rl_eval_metrics,
    "rl_clusters": rl_clusters,
    "rl_audit_metrics": rl_audit_metrics,
    "rl_cross_source_matches": rl_cross_source_matches,
    "pair_tfidf_cosine": pair_tfidf_cosine,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_prod": dedup_minhash_lsh_prod,
    "dedup_minhash_capped_recall": dedup_minhash_capped_recall,
    "dedup_doc_clusters": dedup_doc_clusters,
    "dedup_cluster_stats": dedup_cluster_stats,
    "dedup_simhash": dedup_simhash,
    "text_token_count_bpe": text_token_count_bpe,
    "text_quality": text_quality,
    "text_repetition": text_repetition,
    "text_lang_id": text_lang_id,
    "ann_topk_brute": ann_topk_brute,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_lsh_recall": ann_lsh_recall,
    "recrawl_collapse": recrawl_collapse,
    "corpus_quality_filter": corpus_quality_filter,
    "pii_redact": pii_redact,
    "corpus_sample": corpus_sample,
    "corpus_pack_shards": corpus_pack_shards,
    "corpus_vocab_topk": corpus_vocab_topk,
    "events_range_join": events_range_join,
    "events_value_quantiles": events_value_quantiles,
    "events_pivot": events_pivot,
    "events_unpivot": events_unpivot,
    # -- parked past the driver's 50-row cap: green in every driver
    #    artifact they appeared in, trivial plans, still swept by
    #    scripts/check_oracles.py --------------------------------------
    "events_approx_distinct_gate": events_approx_distinct_gate,
    "rl_block_keys": rl_block_keys,
    "rl_block_histogram": rl_block_histogram,
    "rl_reduction_ratio": rl_reduction_ratio,
    "rl_top_blocks": rl_top_blocks,
    "profile_documents": profile_documents,
    "dedup_exact": dedup_exact,
    "text_token_count": text_token_count,
    "text_stopword_ratio": text_stopword_ratio,
    "text_fingerprint": text_fingerprint,
    "url_canonicalize": url_canonicalize,
}

ORACLES: dict[str, str] = {
    "rl_cologne_keys": SQL_RL_COLOGNE_KEYS,
    "rl_match_explanations": SQL_RL_MATCH_EXPLANATIONS,
    "dedup_source_overlap": SQL_DEDUP_SOURCE_OVERLAP,
    "dedup_source_rates": SQL_DEDUP_SOURCE_RATES,
    "rl_mra": SQL_RL_MRA,
    "rl_canopy_blocks": SQL_RL_CANOPY_BLOCKS,
    "rl_star_clusters": SQL_RL_STAR_CLUSTERS,
    "rl_pivot_clusters": SQL_RL_PIVOT_CLUSTERS,
    "rl_cluster_blanc": SQL_RL_CLUSTER_BLANC,
    "corpus_mix_temperature": SQL_CORPUS_MIX_TEMPERATURE,
    "corpus_chunk_docs": SQL_CORPUS_CHUNK_DOCS,
    "rl_retract_records": SQL_RL_RETRACT_RECORDS,
    "rl_match_rules": SQL_RL_MATCH_RULES,
    "rl_match_rule_stats": SQL_RL_MATCH_RULE_STATS,
    "rl_suffix_blocks": SQL_RL_SUFFIX_BLOCKS,
    "rl_setsim_join": SQL_RL_SETSIM_JOIN,
    "rl_qgram_cosine": SQL_RL_QGRAM_COSINE,
    "rl_editex_unit": SQL_RL_EDITEX_UNIT,
    "rl_editex_gate": SQL_RL_EDITEX_GATE,
    "rl_lcs": SQL_RL_LCS,
    "rl_sw_unit": SQL_RL_SW_UNIT,
    "rl_refined_soundex": SQL_RL_REFINED_SOUNDEX,
    "rl_nysiis_keys": SQL_RL_NYSIIS_KEYS,
    "rl_weighted_jaccard": SQL_RL_WEIGHTED_JACCARD,
    "rl_edit_join": SQL_RL_EDIT_JOIN,
    "rl_jaro_duck": SQL_RL_JARO_DUCK,
    "rl_nw_unit": SQL_RL_NW_UNIT,
    "rl_bag_distance": SQL_RL_BAG_DISTANCE,
    "rl_damerau": SQL_RL_DAMERAU,
    "rl_qgram_blocks": SQL_RL_QGRAM_BLOCKS,
    "rl_label_sample": SQL_RL_LABEL_SAMPLE,
    "rl_cluster_gmd": SQL_RL_CLUSTER_GMD,
    "rl_cluster_exact": SQL_RL_CLUSTER_EXACT,
    "rl_cluster_muc": SQL_RL_CLUSTER_MUC,
    "rl_cluster_ari": SQL_RL_CLUSTER_ARI,
    "rl_cluster_vmeasure": SQL_RL_CLUSTER_VMEASURE,
    "rl_score_ap": SQL_RL_SCORE_AP,
    "rl_edge_triangles": SQL_RL_EDGE_TRIANGLES,
    "rl_clusters_bridge_safe": SQL_RL_CLUSTERS_BRIDGE_SAFE,
    "rl_soft_tfidf": SQL_RL_SOFT_TFIDF,
    "rl_sw_gate": SQL_RL_SW_GATE,
    "rl_block_keys": SQL_RL_BLOCK_KEYS,
    "rl_block_stats": SQL_RL_BLOCK_STATS,
    "rl_block_histogram": SQL_RL_BLOCK_HISTOGRAM,
    "rl_reduction_ratio": SQL_RL_REDUCTION_RATIO,
    "rl_top_blocks": SQL_RL_TOP_BLOCKS,
    "rl_candidate_pairs": SQL_RL_CANDIDATE_PAIRS,
    "rl_pair_features": SQL_RL_PAIR_FEATURES,
    "rl_match_edges": SQL_RL_MATCH_EDGES,
    "rl_eval_metrics": SQL_RL_EVAL_METRICS,
    "rl_clusters": SQL_RL_CLUSTERS,
    "rl_audit_metrics": SQL_RL_AUDIT_METRICS,
    "rl_cross_source_matches": SQL_RL_CROSS_SOURCE_MATCHES,
    "pair_tfidf_cosine": SQL_PAIR_TFIDF_COSINE,
    "profile_documents": SQL_PROFILE_DOCUMENTS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_embedding_cosine": SQL_DEDUP_EMBEDDING_COSINE,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    # dedup_minhash_lsh_prod: xxhash64-based — rows-only; quality
    # bounded by the capped-recall gate:
    "dedup_minhash_capped_recall": SQL_DEDUP_MINHASH_CAPPED_RECALL,
    "dedup_doc_clusters": SQL_DEDUP_DOC_CLUSTERS,
    "dedup_cluster_stats": SQL_DEDUP_CLUSTER_STATS,
    "text_token_count": SQL_TEXT_TOKEN_COUNT,
    "text_token_count_bpe": SQL_TEXT_TOKEN_COUNT_BPE,
    "text_stopword_ratio": SQL_TEXT_STOPWORD_RATIO,
    "text_quality": SQL_TEXT_QUALITY,
    "text_repetition": SQL_TEXT_REPETITION,
    "text_lang_id": SQL_TEXT_LANG_ID,
    "text_fingerprint": SQL_TEXT_FINGERPRINT,
    "ann_topk_brute": SQL_ANN_TOPK_BRUTE,
    # ann_topk_lsh: hash-bucketed — rows-only; quality bounded by:
    "ann_lsh_recall": SQL_ANN_LSH_RECALL,
    "ann_ivf_recall": SQL_ANN_IVF_RECALL,
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "recrawl_collapse": SQL_RECRAWL_COLLAPSE,
    "corpus_quality_filter": SQL_CORPUS_QUALITY_FILTER,
    "dedup_lines": SQL_DEDUP_LINES,
    "pii_redact": SQL_PII_REDACT,
    "corpus_sample": SQL_CORPUS_SAMPLE,
    "corpus_pack_shards": SQL_CORPUS_PACK_SHARDS,
    "text_span_dup": SQL_TEXT_SPAN_DUP,
    "corpus_decontaminate": SQL_CORPUS_DECONTAMINATE,
    "lm_cross_entropy": SQL_LM_CROSS_ENTROPY,
    "rl_fs_match_weights": SQL_RL_FS_MATCH_WEIGHTS,
    "rl_sorted_neighborhood": SQL_RL_SORTED_NEIGHBORHOOD,
    "rl_meta_blocking": SQL_RL_META_BLOCKING,
    "rl_one_to_one_matches": SQL_RL_ONE_TO_ONE_MATCHES,
    "rl_golden_records": SQL_RL_GOLDEN_RECORDS,
    "rl_blocking_scheme_eval": SQL_RL_BLOCKING_SCHEME_EVAL,
    "rl_fs_tf_bands": SQL_RL_FS_TF_BANDS,
    "rl_cluster_audit": SQL_RL_CLUSTER_AUDIT,
    "rl_bcubed_eval": SQL_RL_BCUBED_EVAL,
    "rl_attach_increment": SQL_RL_ATTACH_INCREMENT,
    "rl_threshold_sweep": SQL_RL_THRESHOLD_SWEEP,
    "rl_soundex_keys": SQL_RL_SOUNDEX_KEYS,
    "rl_soundex_blocks": SQL_RL_SOUNDEX_BLOCKS,
    "rl_monge_elkan": SQL_RL_MONGE_ELKAN,
    "rl_pair_token_sims": SQL_RL_PAIR_TOKEN_SIMS,
    "rl_gamma_patterns": SQL_RL_GAMMA_PATTERNS,
    "rl_rare_token_blocks": SQL_RL_RARE_TOKEN_BLOCKS,
    "rl_constraint_check": SQL_RL_CONSTRAINT_CHECK,
    "rl_score_auc": SQL_RL_SCORE_AUC,
    "corpus_vocab_topk": SQL_CORPUS_VOCAB_TOPK,
    "events_asof_signup": SQL_EVENTS_ASOF_SIGNUP,
    "events_asof_forward": SQL_EVENTS_ASOF_FORWARD,
    "events_asof_nearest": SQL_EVENTS_ASOF_NEAREST,
    "events_asof_skew": SQL_EVENTS_ASOF_SKEW,
    "events_range_join": SQL_EVENTS_RANGE_JOIN,
    "events_value_quantiles": SQL_EVENTS_VALUE_QUANTILES,
    "events_moving_avg": SQL_EVENTS_MOVING_AVG,
    "events_pivot": SQL_EVENTS_PIVOT,
    "events_unpivot": SQL_EVENTS_UNPIVOT,
    # events_approx_distinct_gate: HLL sketch — flags (approximation):
    "events_approx_distinct_gate": SQL_EVENTS_APPROX_DISTINCT_GATE,
    "tpch_rollup_pricing": SQL_TPCH_ROLLUP_PRICING,
    # quality_model_gate / rl_active_learning_gate: ML lifecycle —
    # flags, not recomputation (tripwire pattern, documented in
    # COVERAGE.md):
    "quality_model_gate": SQL_QUALITY_MODEL_GATE,
    "rl_active_learning_gate": SQL_RL_ACTIVE_LEARNING_GATE,
    # text_compression_gate: zlib signal — flags (no SQL zlib):
    "text_compression_gate": SQL_TEXT_COMPRESSION_GATE,
    "events_windowed_agg": SQL_EVENTS_WINDOWED_AGG,
    "events_topk_per_user": SQL_EVENTS_TOPK_PER_USER,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "tpch_agg_pricing": SQL_TPCH_AGG_PRICING,
    "join_topk_customers": SQL_JOIN_TOPK_CUSTOMERS,
    "semi_anti_customers": SQL_SEMI_ANTI_CUSTOMERS,
}
