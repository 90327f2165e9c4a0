"""Evaluation: P/R/F1 via semi/anti joins, cluster pairwise F1,
bootstrap CI, subgroup recall (SURVEY §2.5 A4/A5/A8/A9/A10).

The reference computes these with Python set algebra over pair tuples
(record_linkage.py:140-165); here predicted and true pair sets stay
distributed and TP/FP/FN are leftsemi/leftanti join counts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking


@dataclass(frozen=True)
class PRF1:
    precision: float
    recall: float
    f1: float
    tp: int
    fp: int
    fn: int


def canonical_pairs(df: DataFrame, l: str = "id_l", r: str = "id_r") -> DataFrame:  # noqa: E741
    """Order-insensitive pair canonicalization (id_l < id_r)."""
    return df.select(
        F.least(l, r).alias("id_l"), F.greatest(l, r).alias("id_r")
    ).dropDuplicates(["id_l", "id_r"])


def precision_recall_f1(predicted: DataFrame, truth: DataFrame) -> PRF1:
    """A5 (record_linkage.py:140-165): TP = preds ⋉ truth,
    FP = preds ▷ truth, FN = truth ▷ preds."""
    preds = canonical_pairs(predicted)
    true = canonical_pairs(truth)
    tp = preds.join(true, ["id_l", "id_r"], "leftsemi").count()
    fp = preds.join(true, ["id_l", "id_r"], "leftanti").count()
    fn = true.join(preds, ["id_l", "id_r"], "leftanti").count()
    precision = tp / (tp + fp) if (tp + fp) > 0 else 0.0
    recall = tp / (tp + fn) if (tp + fn) > 0 else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall) > 0
        else 0.0
    )
    return PRF1(precision, recall, f1, tp, fp, fn)


def cluster_implied_pairs(clusters: DataFrame) -> DataFrame:
    """clusters(url, entity_id) → all within-cluster pairs (url_l <
    url_r). Self-join on entity_id; cluster sizes are bounded by the
    block cap upstream so the quadratic stays local."""
    return blocking.self_pair_join(clusters, "url", on="entity_id").select(
        "id_l", "id_r"
    )


def pairwise_cluster_f1(predicted_clusters: DataFrame, expected_clusters: DataFrame) -> PRF1:
    """North-rule headline metric: F1 over the pair sets implied by
    predicted vs expected cluster assignments."""
    return precision_recall_f1(
        cluster_implied_pairs(predicted_clusters),
        cluster_implied_pairs(expected_clusters),
    )


# Poisson(1) CDF, k = 0..7: P(K > 7) ≈ 1e-5 — truncation is far below
# bootstrap noise. Used as an inverse-CDF ladder over a uniform draw.
_POISSON1_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253,
]


def bootstrap_f1_ci(
    predicted: DataFrame,
    truth: DataFrame,
    n_resamples: int = 200,
    seed: int = 42,
) -> tuple[float, float]:
    """A8 (3_audit_models.py:131-183): bootstrap CI on F1 by Poisson
    resampling of the truth set — FULLY DISTRIBUTED. Each truth pair
    contributes weight w ~ Poisson(1) to each resample (the standard
    Poisson bootstrap, equivalent to multinomial resampling for large
    n), with w derived from xxhash64(pair, resample, seed) so the
    result is deterministic and partitioning-invariant. Only the
    n_resamples aggregate rows reach the driver — the truth-hit vector
    never does, so a 10⁸-pair truth set costs one shuffle, not driver
    memory. Predictions are held fixed (fp = n_pred − tp), the same
    approximation the reference makes."""
    import numpy as np

    preds = canonical_pairs(predicted).withColumn("hit", F.lit(1))
    true = canonical_pairs(truth)
    n_pred = preds.count()
    joined = true.join(preds, ["id_l", "id_r"], "left").select(
        "id_l", "id_r", F.coalesce("hit", F.lit(0)).alias("hit")
    )
    fanned = joined.select(
        "id_l", "id_r", "hit",
        F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("rs"),
    )
    u = (
        F.pmod(
            F.xxhash64("id_l", "id_r", "rs", F.lit(seed)), F.lit(2**40)
        ).cast("double")
        / float(2**40)
    )
    w = F.lit(len(_POISSON1_CDF))
    for k in reversed(range(len(_POISSON1_CDF))):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    per = (
        fanned.withColumn("w", w)
        .groupBy("rs")
        .agg(
            F.sum("w").alias("n_tot"),
            F.sum(F.col("w") * F.col("hit")).alias("tp"),
        )
        .collect()
    )
    f1s = []
    for row in per:
        tp = int(row["tp"])
        fn = int(row["n_tot"]) - tp
        # approximation: predictions fixed. Clamped — resampled tp is a
        # weighted sum and can exceed n_pred, which would drive fp
        # negative and F1 over 1.
        fp = max(0, n_pred - tp)
        p = tp / (tp + fp) if tp + fp > 0 else 0.0
        r = tp / (tp + fn) if tp + fn > 0 else 0.0
        f1s.append(2 * p * r / (p + r) if p + r else 0.0)
    return float(np.percentile(f1s, 2.5)), float(np.percentile(f1s, 97.5))


def feature_means(feats: DataFrame, cols: list[str]) -> DataFrame:
    """A6 (record_linkage.py:465-467): per-comparator mean over the
    feature matrix — the reference prints this diagnostic every run.
    One partial-aggregatable pass; no collect."""
    return feats.agg(
        *[F.round(F.avg(c), 6).alias(f"avg_{c}") for c in cols]
    )


def impossible_match_rate(
    matches: DataFrame,
    attrs: DataFrame,
    id_col: str,
    attr_col: str,
    max_gap: float,
) -> DataFrame:
    """A10 (3_audit_models.py:206-249): share of predicted match pairs
    whose numeric attribute gap exceeds ``max_gap`` — pairs a domain
    rule says cannot be the same entity (the reference audits
    |year_l - year_r| > 1). Join + one aggregation; returns a single
    row (n_matches, n_impossible, impossible_rate)."""
    gap_exceeded = (
        F.abs(F.col("_attr_l") - F.col("_attr_r")) > F.lit(float(max_gap))
    ).cast("long")
    # attr_col is renamed so its _l/_r names cannot collide with the
    # columns ``matches`` already carries.
    attrs = attrs.select(id_col, F.col(attr_col).alias("_attr"))
    return (
        blocking.attach_pair_attributes(matches, attrs, ["_attr"], id_col)
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.sum(gap_exceeded).cast("long").alias("n_impossible"),
            F.round(F.avg(gap_exceeded.cast("double")), 6).alias(
                "impossible_rate"
            ),
        )
    )


def subgroup_recall(
    predicted: DataFrame, truth: DataFrame, attrs: DataFrame,
    bucket_col: str, id_col: str = "url",
) -> DataFrame:
    """A9 (3_audit_models.py:186-204): recall per attribute bucket of
    the left record."""
    true = canonical_pairs(truth).join(
        attrs.select(F.col(id_col).alias("id_l"), F.col(bucket_col).alias("bucket")),
        "id_l",
    )
    preds = canonical_pairs(predicted).withColumn("hit", F.lit(1))
    joined = true.join(preds, ["id_l", "id_r"], "left")
    return joined.groupBy("bucket").agg(
        F.count("*").alias("n_true"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_found"),
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count("*")).alias("recall"),
    )


def _id_join(
    pred: DataFrame, truth: DataFrame, id_col: str, pred_col: str, truth_col: str
) -> DataFrame:
    """(__id, __c, __t): each record's predicted and truth cluster ids,
    inner-joined on the record id — the basis of every cluster-agreement
    metric below."""
    return pred.select(F.col(id_col).alias("__id"), F.col(pred_col).alias("__c")).join(
        truth.select(F.col(id_col).alias("__id"), F.col(truth_col).alias("__t")),
        "__id",
    )


def _contingency(j: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The contingency aggregates: n_ct per (__c, __t) cell, n_c per
    predicted cluster, n_t per truth cluster."""
    return (
        j.groupBy("__c", "__t").agg(F.count("*").alias("n_ct")),
        j.groupBy("__c").agg(F.count("*").alias("n_c")),
        j.groupBy("__t").agg(F.count("*").alias("n_t")),
    )


def _doubled_pair_sums(j: DataFrame) -> DataFrame:
    """One row (n_records, s_ct2, s_c2, s_t2): doubled pair counts
    Σ n(n−1) over cells, predicted clusters and truth clusters, exact
    BIGINTs."""
    nct, nc, nt = _contingency(j)
    s_ct2 = nct.agg(
        F.sum(F.col("n_ct") * (F.col("n_ct") - 1)).cast("long").alias("s_ct2")
    )
    s_c2 = nc.agg(F.sum(F.col("n_c") * (F.col("n_c") - 1)).cast("long").alias("s_c2"))
    s_t2 = nt.agg(F.sum(F.col("n_t") * (F.col("n_t") - 1)).cast("long").alias("s_t2"))
    n = j.agg(F.count("*").cast("long").alias("n_records"))
    return (
        n.crossJoin(F.broadcast(s_ct2))
        .crossJoin(F.broadcast(s_c2))
        .crossJoin(F.broadcast(s_t2))
    )


def _distinct_counts(j: DataFrame) -> DataFrame:
    """One aggregate pass (the multi-countDistinct Expand): n_records,
    n_pred_clusters, n_truth_clusters, n_overlap_cells (non-empty
    contingency cells)."""
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.countDistinct("__c").cast("long").alias("n_pred_clusters"),
        F.countDistinct("__t").cast("long").alias("n_truth_clusters"),
        F.countDistinct("__c", "__t").cast("long").alias("n_overlap_cells"),
    )


def bcubed(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "entity_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """B-cubed cluster evaluation (Bagga & Baldwin 1998) — the
    record-weighted cluster metric the pairwise F1 (pairwise_cluster_f1)
    cannot replace: pairwise F1 is dominated by the largest clusters
    (quadratic weight), B³ weights every RECORD equally, so it sees
    mistakes in the long tail of small entities.

    One row: (n_records, bcubed_precision, bcubed_recall, bcubed_f1).
    Per record r, precision(r) = |C(r) ∩ T(r)| / |C(r)|; the record sum
    collapses to Σ_{c,t} n_ct² / n_c — three hash aggregates (n_ct,
    n_c, n_t) + two joins on cluster ids, never a per-record loop or a
    pairwise blowup. Records present in only one of the two assignments
    are excluded (inner join) — both sides must cover the corpus.
    """
    j = _id_join(pred, truth, id_col, pred_col, truth_col)
    nct, nc, nt = _contingency(j)
    n = j.agg(F.count("*").cast("long").alias("n_records"))
    psum = nct.join(nc, "__c").agg(
        F.sum(F.col("n_ct") * F.col("n_ct") / F.col("n_c")).alias("__ps")
    )
    rsum = nct.join(nt, "__t").agg(
        F.sum(F.col("n_ct") * F.col("n_ct") / F.col("n_t")).alias("__rs")
    )
    p = F.col("__ps") / F.col("n_records")
    r = F.col("__rs") / F.col("n_records")
    return (
        n.crossJoin(F.broadcast(psum))
        .crossJoin(F.broadcast(rsum))
        .select(
            "n_records",
            F.round(p, 6).alias("bcubed_precision"),
            F.round(r, 6).alias("bcubed_recall"),
            F.round(2 * p * r / (p + r), 6).alias("bcubed_f1"),
        )
    )


def threshold_sweep(
    scored: DataFrame,
    truth: DataFrame,
    thresholds: list[float],
    score_col: str = "score",
) -> DataFrame:
    """P/R/F1 at every candidate threshold in ONE pass over the scored
    pairs — the operating-point tuning curve a production linkage runs
    before freezing its cutoff (the reference fixes 0.5 and falls back
    to 0.3 blindly; this makes the choice measurable). Returns one row
    per threshold: (threshold, tp, fp, fn, precision, recall, f1).

    FN counts truth pairs the scorer never saw (blocking misses) too:
    fn = |truth| - tp, with |truth| a one-row aggregate crossed in.
    Scale shape: each scored pair is exploded to |thresholds| rows
    (thresholds are a handful of scalars — the blow-up is a small
    constant factor, all map-side) and aggregated per threshold; no
    global sort, no window, no per-threshold rescan of the pair table.
    Counts are exact ints, divisions single — value-exact across
    engines."""
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    truth_pairs = truth.select("id_l", "id_r").distinct()
    n_truth = truth_pairs.agg(
        F.count("*").cast("long").alias("__n_truth")
    )
    flagged = scored.select("id_l", "id_r", score_col).join(
        truth_pairs.withColumn("__true", F.lit(1)), ["id_l", "id_r"], "left"
    )
    exploded = flagged.select(
        score_col,
        F.coalesce("__true", F.lit(0)).alias("__true"),
        F.explode(
            F.array(*[F.lit(float(t)) for t in sorted(thresholds)])
        ).alias("threshold"),
    )
    pred = (F.col(score_col) >= F.col("threshold")).cast("int")
    agg = exploded.groupBy("threshold").agg(
        F.sum(pred * F.col("__true")).cast("long").alias("tp"),
        F.sum(pred * (1 - F.col("__true"))).cast("long").alias("fp"),
    )
    p = F.when(F.col("tp") + F.col("fp") > 0,
               F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    r = F.when(F.col("__n_truth") > 0,
               F.col("tp") / F.col("__n_truth")).otherwise(0.0)
    return (
        agg.crossJoin(F.broadcast(n_truth))
        .select(
            "threshold",
            "tp",
            "fp",
            (F.col("__n_truth") - F.col("tp")).cast("long").alias("fn"),
            F.round(p, 6).alias("precision"),
            F.round(r, 6).alias("recall"),
            F.round(
                F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0), 6
            ).alias("f1"),
        )
    )


def adjusted_rand_index(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "entity_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between two cluster
    assignments — the chance-corrected pairwise agreement metric that
    complements :func:`bcubed` (record-weighted) and
    :func:`pairwise_cluster_f1` (positive-pair-only): ARI also credits
    agreement on SEPARATIONS (true negatives) and is 0 in expectation
    for a random clustering, so a degenerate all-singletons prediction
    scores ~0 rather than the perfect precision F1 would report.

    One row: (n_records, pairs_both, rand_index, adjusted_rand).
    Everything reduces to the contingency table n_ct = |C_c ∩ T_t|:
    with doubled pair counts s_ct2 = Σ n_ct(n_ct−1), s_c2 = Σ n_c(n_c−1),
    s_t2 = Σ n_t(n_t−1), tot2 = n(n−1) — all exact BIGINT sums, three
    hash aggregates, no pairwise blowup —
      RI  = (tot2 − s_c2 − s_t2 + 2·s_ct2) / tot2
      ARI = (2·s_ct2·tot2 − 2·s_c2·s_t2)
            / (tot2·(s_c2 + s_t2) − 2·s_c2·s_t2)
    (the doubled-count form clears every /2 exactly: each s_*2 term is
    a sum of n(n−1), always even). The products are evaluated in
    DOUBLE (they reach ~n⁴) with the identical expression shape the
    SQL oracle uses, so both engines round the same IEEE value. When
    the ARI denominator is 0 (both clusterings all-singletons or one
    single cluster on both sides) the index is defined as 1.0 iff the
    numerator is 0 too, i.e. the degenerate perfect-agreement case.
    Records present in only one assignment are excluded (inner join).
    """
    j = _id_join(pred, truth, id_col, pred_col, truth_col)
    row = _doubled_pair_sums(j)
    tot2 = (F.col("n_records") * (F.col("n_records") - 1)).cast("double")
    ct2 = F.col("s_ct2").cast("double")
    c2 = F.col("s_c2").cast("double")
    t2 = F.col("s_t2").cast("double")
    ri = F.when(
        tot2 > 0, F.round((tot2 - c2 - t2 + 2 * ct2) / tot2, 6)
    ).otherwise(F.lit(1.0))
    ari_num = 2 * ct2 * tot2 - 2 * c2 * t2
    ari_den = tot2 * (c2 + t2) - 2 * c2 * t2
    ari = F.when(ari_den != 0, F.round(ari_num / ari_den, 6)).otherwise(F.lit(1.0))
    return row.select(
        "n_records",
        F.expr("s_ct2 div 2").alias("pairs_both"),
        ri.alias("rand_index"),
        ari.alias("adjusted_rand"),
    )


def blanc(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "entity_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """BLANC (BiLateral Assessment of Noun-phrase Coreference —
    Recasens & Hovy 2011): the mean of two link-level F-scores, one
    over coreference links (pairs together in a cluster) and one over
    non-coreference links (pairs separated) — the metric that closes
    the cluster-agreement family next to ARI (chance-corrected Rand),
    B³ (record-weighted), MUC (link-minimal) and CEAF-φ3 (whole-set):
    BLANC is the only one that reports togetherness and separation as
    symmetric citizens with their own P/R, so a chain-happy clustering
    and a shatter-happy clustering fail on visibly different halves.

    Same inputs and the same three exact BIGINT contingency aggregates
    as :func:`adjusted_rand_index` — no pairwise blowup. In doubled
    pair counts (each s_*2 = Σ n(n−1), always even):
      coref:     right rcx2 = s_ct2, gold rc2 = s_t2, sys sc2 = s_c2
      non-coref: rnx2 = tot2 − s_c2 − s_t2 + s_ct2,
                 rn2 = tot2 − s_t2,  sn2 = tot2 − s_c2.
    Pinned degenerate conventions (the Luo et al. 2014 BLANC-extension
    choices): any P or R with a zero denominator is 0; F is 0 when
    P + R = 0; when a SIDE is absent from both gold and system
    (rc2 = sc2 = 0, or rn2 = sn2 = 0) BLANC is the other side's F
    alone. All ratios divide the doubled BIGINTs in DOUBLE with the
    identical expression shape the SQL oracle uses, so both engines
    round the same IEEE value. One row: (n_records, links_gold,
    links_sys, links_right, blanc_c, blanc_n, blanc)."""
    j = _id_join(pred, truth, id_col, pred_col, truth_col)
    row = _doubled_pair_sums(j)
    tot2 = F.col("n_records") * (F.col("n_records") - 1)
    rcx2, rc2, sc2 = F.col("s_ct2"), F.col("s_t2"), F.col("s_c2")
    rnx2 = tot2 - F.col("s_c2") - F.col("s_t2") + F.col("s_ct2")
    rn2, sn2 = tot2 - F.col("s_t2"), tot2 - F.col("s_c2")

    def _ratio(num, den):
        return F.when(
            den > 0, num.cast("double") / den.cast("double")
        ).otherwise(F.lit(0.0))

    def _f1(p, r):
        return F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))

    f_c = _f1(_ratio(rcx2, sc2), _ratio(rcx2, rc2))
    f_n = _f1(_ratio(rnx2, sn2), _ratio(rnx2, rn2))
    bl = (
        F.when((rc2 == 0) & (sc2 == 0), f_n)
        .when((rn2 == 0) & (sn2 == 0), f_c)
        .otherwise((f_c + f_n) / 2)
    )
    return row.select(
        "n_records",
        F.expr("s_t2 div 2").alias("links_gold"),
        F.expr("s_c2 div 2").alias("links_sys"),
        F.expr("s_ct2 div 2").alias("links_right"),
        F.round(f_c, 6).alias("blanc_c"),
        F.round(f_n, 6).alias("blanc_n"),
        F.round(bl, 6).alias("blanc"),
    )


def average_precision(
    scored: DataFrame,
    truth: DataFrame,
    score_col: str = "score",
) -> DataFrame:
    """Tie-grouped average precision (area under the precision-recall
    step curve) of a pair score against a truth pair set — the
    PR-space companion to the Mann-Whitney ROC AUC: AUC is insensitive
    to class imbalance, AP is dominated by how early the (rare)
    positives rank, which is what an ER operating point actually
    feels. Matches sklearn's ``average_precision_score`` exactly when
    ties are grouped: with distinct scores s₁ > s₂ > … and per-block
    positives np_k / cumulative (cum_pos_k, cum_tot_k),
      AP = Σ_k (np_k / n_pos) · (cum_pos_k / cum_tot_k).

    Scale shape: the pair table is reduced by ONE hash aggregate to
    the bounded distinct-score table (scores round to 6 decimals →
    ≤ ~1e6 rows regardless of corpus size); the only window runs over
    that bounded table, never the pairs — the same discipline as the
    AUC query. Truth pairs the scorer never saw (blocking misses) are
    NOT counted: AP here ranks CANDIDATES; recall of the blocker is
    rl_eval_metrics' job."""
    from pyspark.sql.window import Window

    flagged = scored.select("id_l", "id_r", score_col).join(
        truth.select("id_l", "id_r").distinct().withColumn("__t", F.lit(1)),
        ["id_l", "id_r"],
        "left",
    )
    is_true = F.coalesce(F.col("__t"), F.lit(0))
    by_score = flagged.groupBy(score_col).agg(
        F.sum(is_true).cast("long").alias("np"),
        F.sum(1 - is_true).cast("long").alias("nn"),
    )
    w = Window.orderBy(F.col(score_col).desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = by_score.select(
        "np",
        "nn",
        F.sum("np").over(w).cast("long").alias("cum_pos"),
        F.sum(F.col("np") + F.col("nn")).over(w).cast("long").alias("cum_tot"),
    )
    agg = cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(
            F.col("np").cast("double")
            * F.col("cum_pos").cast("double")
            / F.col("cum_tot").cast("double")
        ).alias("__ap_num"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            F.col("n_pos") > 0, F.round(F.col("__ap_num") / F.col("n_pos"), 6)
        ).alias("average_precision"),
    )


def cluster_entropy_metrics(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "entity_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """Entropy-based cluster agreement (Rosenberg & Hirschberg 2007
    V-measure + Meilă 2003 Variation of Information) — the third lens
    next to :func:`bcubed` (record-weighted) and
    :func:`adjusted_rand_index` (pair-weighted): homogeneity penalizes
    clusters that MIX truth entities, completeness penalizes truth
    entities SPLIT across clusters, and the two diagnose over-merge vs
    over-split separately where a single F1 conflates them. VI is
    their metric-space cousin (a true distance on clusterings).

    One row: (n_records, homogeneity, completeness, v_measure, vi).
    Everything reduces to the same contingency aggregates ARI uses —
    n_ct, n_c, n_t, n — via four log-sums (natural log):
      s_tc = Σ n_ct·ln(n_ct/n_c)   → H(T|C) = −s_tc/n
      s_ct = Σ n_ct·ln(n_ct/n_t)   → H(C|T) = −s_ct/n
      s_t  = Σ n_t·ln(n_t/n)       → H(T)   = −s_t/n
      s_c  = Σ n_c·ln(n_c/n)       → H(C)   = −s_c/n
      homogeneity  = 1 − s_tc/s_t (1.0 when H(T)=0)
      completeness = 1 − s_ct/s_c (1.0 when H(C)=0)
      v_measure    = 2hc/(h+c)    (0.0 when h+c=0)
      vi           = −(s_tc + s_ct)/n
    Three hash aggregates + two small joins, no pairwise blowup; the
    SQL oracle uses the identical expression shapes so both engines
    round the same IEEE doubles. Inner join on the id — both
    assignments must cover a record for it to count.
    """
    j = _id_join(pred, truth, id_col, pred_col, truth_col)
    nct, nc, nt = _contingency(j)
    n = j.agg(F.count("*").cast("long").alias("n_records"))
    s_tc = nct.join(nc, "__c").agg(
        F.sum(
            F.col("n_ct").cast("double")
            * F.log(F.col("n_ct").cast("double") / F.col("n_c").cast("double"))
        ).alias("s_tc")
    )
    s_ct = nct.join(nt, "__t").agg(
        F.sum(
            F.col("n_ct").cast("double")
            * F.log(F.col("n_ct").cast("double") / F.col("n_t").cast("double"))
        ).alias("s_ct")
    )
    s_t = nt.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.col("n_t").cast("double")
            * F.log(F.col("n_t").cast("double") / F.col("n_records").cast("double"))
        ).alias("s_t")
    )
    s_c = nc.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.col("n_c").cast("double")
            * F.log(F.col("n_c").cast("double") / F.col("n_records").cast("double"))
        ).alias("s_c")
    )
    row = (
        n.crossJoin(F.broadcast(s_tc))
        .crossJoin(F.broadcast(s_ct))
        .crossJoin(F.broadcast(s_t))
        .crossJoin(F.broadcast(s_c))
    )
    h = F.when(
        F.col("s_t") != 0, 1 - F.col("s_tc") / F.col("s_t")
    ).otherwise(F.lit(1.0))
    c = F.when(
        F.col("s_c") != 0, 1 - F.col("s_ct") / F.col("s_c")
    ).otherwise(F.lit(1.0))
    v = F.when(h + c > 0, 2 * h * c / (h + c)).otherwise(F.lit(0.0))
    vi = -(F.col("s_tc") + F.col("s_ct")) / F.col("n_records").cast("double")
    return row.select(
        "n_records",
        F.round(h, 6).alias("homogeneity"),
        F.round(c, 6).alias("completeness"),
        F.round(v, 6).alias("v_measure"),
        F.round(vi, 6).alias("vi"),
    )


def muc_score(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "entity_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """MUC link-based cluster agreement (Vilain et al. 1995) — the
    fourth lens next to :func:`bcubed`, :func:`adjusted_rand_index`
    and :func:`cluster_entropy_metrics`, and the classic coreference
    metric: it counts the minimum LINK edits, so one wrong merge of
    two big entities costs a single link (where pairwise F1 charges
    the full quadratic cross-product). Its known blind spot —
    singleton entities contribute nothing — is exactly why it ships
    alongside B³ rather than instead of it.

    For total partitions (every record in exactly one cluster on each
    side, which connected-components output and the md5-text truth
    both are), the textbook per-cluster sums collapse to contingency
    counts: Σ_t (n_t − |partition(t)|) = N − nnz, where nnz is the
    number of non-empty contingency cells, so
      recall    = (N − nnz) / (N − K_truth)
      precision = (N − nnz) / (N − K_pred)
    (numerators identical by symmetry of nnz). One row: (n_records,
    n_pred_clusters, n_truth_clusters, n_overlap_cells,
    muc_precision, muc_recall, muc_f1). All-singleton sides make a
    denominator 0 → that side is defined as 1.0 when its numerator is
    also 0 (nothing to link, nothing wrong) — the scikit-style
    convention, mirrored in the SQL oracle. One aggregate pass (the
    multi-countDistinct Expand), no joins, no pairwise blowup."""
    j = _id_join(pred, truth, id_col, pred_col, truth_col)
    agg = _distinct_counts(j)
    num = (F.col("n_records") - F.col("n_overlap_cells")).cast("double")
    den_r = (F.col("n_records") - F.col("n_truth_clusters")).cast("double")
    den_p = (F.col("n_records") - F.col("n_pred_clusters")).cast("double")
    r = F.when(den_r > 0, num / den_r).otherwise(F.lit(1.0))
    p = F.when(den_p > 0, num / den_p).otherwise(F.lit(1.0))
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return agg.select(
        "n_records",
        "n_pred_clusters",
        "n_truth_clusters",
        "n_overlap_cells",
        F.round(p, 6).alias("muc_precision"),
        F.round(r, 6).alias("muc_recall"),
        F.round(f1, 6).alias("muc_f1"),
    )


def generalized_merge_distance(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "entity_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """Generalized Merge Distance at unit costs (Menestrina, Whang,
    Garcia-Molina VLDB'10): the minimum number of cluster SPLIT and
    MERGE operations transforming the predicted partition into the
    truth — the edit-script lens the other metrics lack (pairwise F1
    counts pair errors, B³ per-record purity, MUC links, ARI/VI
    chance/entropy; GMD answers "how many repair operations would a
    steward perform"). Menestrina et al. show pairwise precision/
    recall and VI are themselves GMD instances under non-unit cost
    functions, which makes the unit-cost point the family's natural
    summary.

    For total partitions the optimal script is closed-form: split
    every mixed predicted cluster into its contingency cells, then
    merge cells per truth cluster —
      splits = nnz − K_pred,  merges = nnz − K_truth,
      gmd    = splits + merges = 2·nnz − K_pred − K_truth
    (nnz = non-empty contingency cells). Every output except the
    normalized form is a 64-bit integer — value-exact across engines
    by construction. ``gmd_norm`` divides by the worst-case script
    (split everything to singletons, re-merge: (N − K_pred) +
    (N − K_truth)), 0.0 when that is 0 (both sides already all
    singletons → gmd is 0 too). Same one-pass multi-countDistinct
    aggregate as :func:`muc_score` — no joins beyond the id join, no
    pairwise blowup, scale-safe at any cluster-size skew."""
    j = _id_join(pred, truth, id_col, pred_col, truth_col)
    agg = _distinct_counts(j)
    splits = F.col("n_overlap_cells") - F.col("n_pred_clusters")
    merges = F.col("n_overlap_cells") - F.col("n_truth_clusters")
    worst = (F.col("n_records") - F.col("n_pred_clusters")) + (
        F.col("n_records") - F.col("n_truth_clusters")
    )
    gmd = splits + merges
    return agg.select(
        "n_records",
        "n_pred_clusters",
        "n_truth_clusters",
        "n_overlap_cells",
        splits.cast("long").alias("gmd_splits"),
        merges.cast("long").alias("gmd_merges"),
        gmd.cast("long").alias("gmd"),
        F.when(
            worst > 0,
            F.round(gmd.cast("double") / worst.cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("gmd_norm"),
    )


def exact_cluster_match(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "entity_id",
    truth_col: str = "truth_id",
) -> DataFrame:
    """Exact whole-cluster agreement (the CEAF-style φ3 "same member
    set" count; Luo EMNLP'05 uses it as the similarity kernel): a
    predicted cluster scores iff its member set IS a truth cluster,
    member for member. The strictest lens in the family — B³/ARI/MUC
    award partial credit for almost-right clusters, this one answers
    the steward's question "how many entities came out perfectly,
    needing no repair at all".

    A predicted cluster c equals a truth cluster t iff their
    contingency cell is saturated both ways: n_ct = n_c = n_t. Each
    side participates in at most one such cell, so the exact count is
    one SUM over cells — no assignment problem is needed for the
    exact-match kernel (the general CEAF similarity kernels do need
    the Kuhn-Munkres assignment and are deliberately out of scope:
    a driver-side Hungarian over |C|×|T| does not distribute).

    Plan: id join → one groupBy per side + the cell groupBy, two
    cluster-id equi-joins (shuffle keys = cluster ids, rows = number
    of clusters, never records), one final aggregate. Scale-safe at
    any cluster-size skew. Convention: an empty side yields
    precision/recall 1.0 when the other is empty too (nothing to get
    wrong), else 0.0 — mirrored in the SQL oracle.
    """
    j = _id_join(pred, truth, id_col, pred_col, truth_col)
    cells, nc, nt = _contingency(j)
    agg = (
        cells.join(nc, "__c")
        .join(nt, "__t")
        .agg(
            F.sum("n_ct").cast("long").alias("n_records"),
            F.countDistinct("__c").cast("long").alias("n_pred_clusters"),
            F.countDistinct("__t").cast("long").alias("n_truth_clusters"),
            F.sum(
                F.when(
                    (F.col("n_ct") == F.col("n_c"))
                    & (F.col("n_ct") == F.col("n_t")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_exact_clusters"),
        )
    )
    p = F.when(
        F.col("n_pred_clusters") > 0,
        F.col("n_exact_clusters") / F.col("n_pred_clusters").cast("double"),
    ).otherwise(F.when(F.col("n_truth_clusters") == 0, 1.0).otherwise(0.0))
    r = F.when(
        F.col("n_truth_clusters") > 0,
        F.col("n_exact_clusters") / F.col("n_truth_clusters").cast("double"),
    ).otherwise(F.when(F.col("n_pred_clusters") == 0, 1.0).otherwise(0.0))
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return agg.select(
        "n_records",
        "n_pred_clusters",
        "n_truth_clusters",
        "n_exact_clusters",
        F.round(p, 6).alias("cluster_precision"),
        F.round(r, 6).alias("cluster_recall"),
        F.round(f1, 6).alias("cluster_f1"),
    )
