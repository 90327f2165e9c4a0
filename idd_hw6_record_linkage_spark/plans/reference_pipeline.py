"""The reference's flagship evaluation lifecycle, Spark-native.

Mirrors ``scripts/record_linkage/record_linkage.py:588-693`` (SURVEY
§3.1): two mediated record tables + labeled true pairs → B1/B2
blocking → cross-source candidates → comparator feature matrix
(P1/P2/P3, exact reference thresholds) → LogisticRegression fit on the
train truth → probability → threshold 0.5 with 0.3 fallback → P/R/F1.
Every stage is the engine's generic operator; this module only wires
them in the reference's order, so a reference user can run the same
six pipeline × blocking combinations verbatim.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.functions.normalize import (
    block_key_b1,
    block_key_b2,
)
from idd_hw6_record_linkage_spark.operators import blocking, scoring
from idd_hw6_record_linkage_spark.operators.evaluation import (
    PRF1,
    precision_recall_f1,
)


@dataclass(frozen=True)
class ReferenceResult:
    pipeline: str
    blocking_strategy: str
    n_candidates: int
    pairs_completeness: float
    threshold_used: float
    prf1: PRF1


def _keys(records: DataFrame, strategy: str, id_col: str) -> DataFrame:
    if strategy == "B1":
        key = block_key_b1("brand", "year")
    elif strategy == "B2":
        key = block_key_b2("brand", "model")
    else:  # pragma: no cover
        raise ValueError(f"unknown blocking strategy: {strategy}")
    return blocking.key_table(records, id_col, key, strategy.lower())


def _candidates_and_features(
    rec_l: DataFrame, rec_r: DataFrame, cfg, blocking_strategy: str, id_col: str
):
    keys_l = _keys(rec_l, blocking_strategy, id_col)
    keys_r = _keys(rec_r, blocking_strategy, id_col)
    pairs = blocking.candidate_pairs_cross(keys_l, keys_r).persist()
    feats = scoring.compute_features_two(pairs, rec_l, rec_r, cfg, id_col).persist()
    return pairs, feats


def run_reference_pipeline(
    train_l: DataFrame,
    train_r: DataFrame,
    truth_train: DataFrame,
    test_l: DataFrame,
    test_r: DataFrame,
    truth_test: DataFrame,
    comparison_config: str = "P1_textual_core",
    blocking_strategy: str = "B1",
    id_col: str = "source_id",
    threshold: float = 0.5,
    fallback: float = 0.3,
) -> ReferenceResult:
    """One (pipeline × blocking) evaluation run, per-split like the
    reference: train candidates come from the TRAIN record split only
    (record_linkage.py:588-640 builds per-split record frames from the
    split GT table), the classifier fits on train candidates labeled by
    the train truth (candidates ∩ truth = positives,
    record_linkage.py:461-472), and evaluation runs on the test-split
    candidates against the test truth.

    truth_* : (id_l, id_r) positive pairs — id_l from *_l records,
    id_r from *_r records (GT convention, record_linkage.py:133-135).
    """
    cfg = scoring.REF_CONFIGS[comparison_config]
    train_pairs, train_feats = _candidates_and_features(
        train_l, train_r, cfg, blocking_strategy, id_col
    )
    test_pairs, test_feats = _candidates_and_features(
        test_l, test_r, cfg, blocking_strategy, id_col
    )
    # Release this run's caches even when the LR fit raises (no labeled
    # pair survives blocking); the caller's input tables are not cached.
    try:
        n_candidates = test_pairs.count()
        pc = blocking.pairs_completeness(test_pairs, truth_test)

        train_labels = (
            train_pairs.join(
                truth_train.withColumn("label", F.lit(1)), ["id_l", "id_r"], "left"
            )
            .select("id_l", "id_r", F.coalesce("label", F.lit(0)).alias("label"))
        )
        assembler, model = scoring.fit_logistic_regression(
            train_feats, train_labels, cfg
        )
        scored = scoring.predict_probability(test_feats, assembler, model)
        matches, used = scoring.threshold_with_fallback(scored, threshold, fallback)
        prf = precision_recall_f1(matches.select("id_l", "id_r"), truth_test)
    finally:
        for df in (train_pairs, train_feats, test_pairs, test_feats):
            df.unpersist()
    return ReferenceResult(
        pipeline=comparison_config,
        blocking_strategy=blocking_strategy,
        n_candidates=n_candidates,
        pairs_completeness=pc,
        threshold_used=used,
        prf1=prf,
    )


def run_all_pipelines(
    train_l: DataFrame,
    train_r: DataFrame,
    truth_train: DataFrame,
    test_l: DataFrame,
    test_r: DataFrame,
    truth_test: DataFrame,
    **kw,
) -> list[ReferenceResult]:
    """The reference's full 6-run grid (3 configs × 2 blockings),
    ranked by F1 (record_linkage.py main loop + O2 ranking)."""
    out = [
        run_reference_pipeline(
            train_l, train_r, truth_train, test_l, test_r, truth_test,
            comparison_config=cfg, blocking_strategy=b, **kw,
        )
        for cfg in scoring.REF_CONFIGS
        for b in ("B1", "B2")
    ]
    return sorted(out, key=lambda r: r.prf1.f1, reverse=True)
