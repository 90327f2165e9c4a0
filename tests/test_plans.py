"""Physical-plan assertions: pushdown, pruning, broadcast, no
cartesian products — the 100-TB hygiene checks (a plan that scans all
columns for a 2-column projection is wrong regardless of test scale)."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"
PINNED = Path(__file__).with_name("plan_counts.json")

# The plans allowed a CartesianProduct/BroadcastNestedLoopJoin, each
# because its nested loop is the plan, not a pair blowup.
CARTESIAN_OK = {
    "ann_topk_brute",  # brute-force ANN: a tiny query set x the corpus
    "dedup_embedding_cosine",  # the documented brute-force theta join
    "rl_blocking_scheme_eval",  # one-row n_pairs x n_covered x n_truth crosses
    "rl_fs_tf_bands",  # one-row tf denominator x the per-value counts
    "rl_bcubed_eval",  # one-row precision x recall x count crosses
    "rl_cluster_ari",  # one-row contingency-sum crosses (s_ct2 x s_c2 x s_t2 x n)
    "rl_cluster_vmeasure",  # one-row log-sum crosses (s_tc x s_ct x s_t x s_c x n)
    "rl_threshold_sweep",  # one-row |truth| count crossed into the curve
    "rl_cluster_blanc",  # one-row contingency-sum crosses (same shape as ARI)
    "corpus_mix_temperature",  # one-row total/qsum/max x the rate table
    "rl_audit_metrics",  # one-row feature means x one-row impossible rate
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_column_pruning_minimal_readschema(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.select("doc_id", "lang")
    plan = _plan(q)
    # scan must read only the projected columns
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_entry_block_stats_prunes_text(spark):
    """rl_block_stats only needs source+lang — the wide text column
    must not be read."""
    from idd_hw6_record_linkage_spark.entry_queries import rl_block_stats

    plan = _plan(rl_block_stats(spark, SF_DIR))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "text" not in read[0], read


def test_small_dim_broadcast(spark):
    from idd_hw6_record_linkage_spark.entry_queries import join_topk_customers

    plan = _plan(join_topk_customers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_candidate_join_is_hash_equijoin_not_cartesian(spark):
    from idd_hw6_record_linkage_spark.operators import blocking

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    keys = blocking.key_table(
        docs, "doc_id", F.concat_ws("_", "source", "lang"), "b1"
    )
    pairs = blocking.candidate_pairs_self(keys)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "block_key" in plan


def test_comparators_stay_in_codegen(spark):
    """Native comparators (levenshtein/gauss/jaccard/exact) must sit
    inside WholeStageCodegen — no Python eval nodes in the plan."""
    from idd_hw6_record_linkage_spark.entry_queries import rl_pair_features

    # AQE wraps the plan and hides codegen stages until execution;
    # disable it for this static inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(rl_pair_features(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # executedPlan.toString marks codegen stages with '*(n)'
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_scoring_udf_is_arrow_batched(spark):
    """The Jaro-Winkler comparator is the ONE sanctioned Python spot —
    and it must be Arrow-batched (ArrowEvalPython), never row-at-a-time
    (BatchEvalPython)."""
    from idd_hw6_record_linkage_spark.functions.similarity import sim_jaro_winkler

    df = spark.createDataFrame([("a", "b")], "s1 string, s2 string")
    plan = _plan(df.select(sim_jaro_winkler("s1", "s2").alias("x")))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_scaling_scoring_stage_is_map_only(spark):
    """The bench's timed scaling section (comparator evaluation over a
    pre-enriched pair table) must contain NO exchange: map-side
    expressions + Arrow UDF only."""
    from idd_hw6_record_linkage_spark.operators import scoring

    enriched = spark.createDataFrame(
        [("a", "b", "x.com", "x.com", "t u v", "t u w",
          [1, 2, 3], [1, 2, 4], 10, 12)],
        "id_l string, id_r string, domain_l string, domain_r string,"
        "title_norm_l string, title_norm_r string,"
        "text_tokens_l array<bigint>, text_tokens_r array<bigint>,"
        "n_chars_l int, n_chars_r int",
    )
    feats = scoring.compute_features_enriched(enriched, scoring.WEB_P1)
    scored = scoring.score(feats, scoring.WEB_P1)
    plan = _plan(scored.where(F.col("score") >= 0.5))
    assert "Exchange" not in plan, plan


def test_flagship_stage_plan_counts(spark):
    """The flagship's cached pairs/score stages and link_sources' pairs
    stage keep the operator counts pinned in tests/plan_counts.json
    (built by the same function scripts/plan_dump.py dumps them with)."""
    from scripts.plan_dump import flagship_plans, plan_counts

    pinned = json.loads(PINNED.read_text())
    spark.catalog.clearCache()
    got = {name: plan_counts(text) for name, text in flagship_plans(spark).items()}
    names = ("run_in_memory.pairs", "run_in_memory.score", "link_sources.pairs")
    assert got == {name: pinned[name] for name in names}


def test_pinned_plans_lint():
    """The plan lint over every entry of tests/plan_counts.json, the
    ``<query>@ck<i>`` checkpointed tables included: no row-at-a-time
    Python, and cartesian joins exactly in CARTESIAN_OK (so the list
    holds no stale names). test_query_vs_oracle and
    test_flagship_stage_plan_counts hold every live plan to its pinned
    entry, so this verdict is the live plans' verdict."""
    pinned = json.loads(PINNED.read_text())
    assert [n for n, c in pinned.items() if c.get("BatchEvalPython")] == []
    cartesian = {
        n for n, c in pinned.items()
        if c.get("CartesianProduct") or c.get("BroadcastNestedLoopJoin")
    }
    assert cartesian == CARTESIAN_OK
