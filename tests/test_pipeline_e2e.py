"""Golden-pair end-to-end test (SURVEY §5): synthetic pages with
planted clusters → full pipeline → pairwise cluster F1 ≥ 0.99, plus
blocking PC/RR sanity, resumability, and generator determinism."""

from __future__ import annotations

import datetime as _dt
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking
from idd_hw6_record_linkage_spark.plans.pipeline import (
    LinkagePipeline,
    PipelineConfig,
    StagedPlan,
)
from idd_hw6_record_linkage_spark.plans import metrics as M
from idd_hw6_record_linkage_spark.sources import generator as G

N_ENTITIES = 300


@pytest.fixture(scope="module")
def raw(spark):
    df = G.generate_raw(spark, N_ENTITIES, partitions=8).cache()
    df.count()
    return df


def test_generator_deterministic_across_partitioning(spark):
    a = G.generate_raw(spark, 50, partitions=2)
    b = G.generate_raw(spark, 50, partitions=7)
    ah = a.agg(F.expr("bit_xor(xxhash64(url, text, lang))")).collect()[0][0]
    bh = b.agg(F.expr("bit_xor(xxhash64(url, text, lang))")).collect()[0][0]
    assert a.count() == b.count()
    assert ah == bh


def test_pipeline_f1(tmp_path, spark, raw):
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    truth = G.labeled_pairs(raw).cache()
    expected = G.expected_clusters(raw)

    cfg = PipelineConfig(workdir=str(tmp_path / "run"), run_id="t1")
    pipe = LinkagePipeline(spark, cfg)
    res = pipe.run(pages, labeled_pairs=truth, expected_clusters=expected)

    # blocking must retain essentially all true pairs
    assert res["pairs_completeness"] >= 0.99, res["pairs_completeness"]
    # headline: pairwise cluster F1 vs planted clusters
    prf = res["cluster_prf1"]
    assert prf.f1 >= 0.99, (prf.precision, prf.recall, prf.f1)
    # edge-level F1 vs labeled pairs (positives only)
    eprf = res["edge_prf1"]
    assert eprf.recall >= 0.99 and eprf.precision >= 0.95, eprf

    # metrics table has completion rows for every materialized stage
    m = M.read_metrics(spark, cfg.workdir)
    stages = {
        r["stage"] for r in m.where(F.col("partition_id") == -1).collect()
    }
    assert {"normalize", "pairs", "score", "edges", "cluster"} <= stages
    # the edges completion row records scored pairs in and edges out
    done = m.where((F.col("stage") == "edges") & (F.col("partition_id") == -1))
    row = done.collect()[0]
    n_scored, n_edges = res["scored"].count(), res["edges"].count()
    assert row["pair_count"] == n_scored
    assert row["match_count"] == n_edges
    assert row["match_rate"] is not None
    assert row["match_rate"] == pytest.approx(n_edges / n_scored)


def test_blocking_stats_and_rr(spark, raw):
    records = raw.select(
        "url", F.col("domain").alias("domain")
    )
    keys = blocking.key_table(records, "url", F.col("domain"), "b1")
    stats = blocking.block_size_stats(keys).collect()[0]
    assert stats["n_blocks"] > 0
    assert stats["records_in_blocks"] == records.count()
    rr = blocking.reduction_ratio(keys, records.count())
    assert 0.0 < rr < 1.0


def test_resume_skips_completed_stages(tmp_path, spark, raw):
    pages = raw.select("url", "warc_ts", "html", "text", "lang").limit(200)
    cfg = PipelineConfig(workdir=str(tmp_path / "resume"), run_id="r1",
                         use_lsh=False)
    pipe = LinkagePipeline(spark, cfg)
    pipe.run(pages)
    m1 = M.read_metrics(spark, cfg.workdir)
    n_rows_1 = m1.count()

    cfg2 = PipelineConfig(workdir=str(tmp_path / "resume"), run_id="r1",
                          use_lsh=False, resume=True)
    pipe2 = LinkagePipeline(spark, cfg2)
    res2 = pipe2.run(pages)
    m2 = M.read_metrics(spark, cfg2.workdir)
    # resumed run adds no new metric rows (all stages skipped)
    assert m2.count() == n_rows_1
    assert res2["clusters"].count() == 200


def _cluster_fingerprint(df):
    return df.agg(
        F.count("*"), F.expr("bit_xor(xxhash64(url, entity_id))")
    ).collect()[0]


def _completion_counts(spark, workdir):
    rows = (
        M.read_metrics(spark, workdir)
        .where(F.col("partition_id") == -1)
        .groupBy("stage").count().collect()
    )
    return {r["stage"]: r["count"] for r in rows}


def test_crashed_stage_leaves_durable_metrics_and_resumes(
    tmp_path, spark, monkeypatch
):
    """A stage that raises leaves completion rows for the stages before
    it and no half-written metrics part; the resumed run finishes with
    a clean run's clusters and one completion row per stage."""
    from idd_hw6_record_linkage_spark.operators import scoring

    pages = G.generate_pages(spark, 80)
    clean = LinkagePipeline(
        spark, PipelineConfig(workdir=str(tmp_path / "clean"), run_id="c")
    ).run(pages)

    def boom(*args, **kwargs):
        raise RuntimeError("score failed")

    wd = str(tmp_path / "crash")
    monkeypatch.setattr(scoring, "score", boom)
    with pytest.raises(RuntimeError, match="score failed"):
        LinkagePipeline(spark, PipelineConfig(workdir=wd, run_id="c")).run(pages)
    monkeypatch.undo()

    assert _completion_counts(spark, wd) == {
        "normalize": 1, "block_stats": 1, "pairs": 1,
    }
    assert not [
        f for f in os.listdir(os.path.join(wd, "metrics"))
        if f.startswith(("_", "."))
    ]

    resumed = LinkagePipeline(
        spark, PipelineConfig(workdir=wd, run_id="c", resume=True)
    ).run(pages)
    assert _cluster_fingerprint(resumed["clusters"]) == _cluster_fingerprint(
        clean["clusters"]
    )
    counts = _completion_counts(spark, wd)
    assert set(counts) == {
        "normalize", "block_stats", "pairs", "score", "edges", "cluster",
    }
    assert set(counts.values()) == {1}


def test_metrics_table_reads_parts_from_spark_and_driver(tmp_path, spark):
    """A workdir whose metrics table was appended by a Spark write
    (INT96 timestamps, _SUCCESS) keeps reading and resuming after the
    driver appends its own parts."""
    from idd_hw6_record_linkage_spark.schema import METRICS_SCHEMA

    wd = str(tmp_path / "mixed")
    spark_rows = [
        ("m", "normalize", 0, None, 7, None, None, None,
         _dt.datetime(2026, 1, 2, 3, 4, 5)),
        ("m", "normalize", -1, None, 7, None, None, None,
         _dt.datetime(2026, 1, 2, 3, 4, 5)),
    ]
    spark.createDataFrame(spark_rows, METRICS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(wd, "metrics"))
    M.append_stage_metrics(spark, wd, "m", "block_stats", None,
                           rows_in=7, pair_count=4, match_count=1)

    m = M.read_metrics(spark, wd)
    assert [(f.name, f.dataType) for f in m.schema] == [
        (f.name, f.dataType) for f in METRICS_SCHEMA
    ]
    got = sorted((r["stage"], r["partition_id"], r["rows_in"], r["rows_out"])
                 for r in m.collect())
    assert got == [("block_stats", -1, 7, None), ("normalize", -1, None, 7),
                   ("normalize", 0, None, 7)]
    assert M.completed_stages(wd, "other") == set()
    plan = StagedPlan(spark, PipelineConfig(workdir=wd, run_id="m", resume=True))
    assert plan._completed("normalize") and plan._completed("block_stats")
    # a resumed run does not file a second completion row
    plan._record("block_stats", lambda: pytest.fail("recounted a done stage"))
    assert M.read_metrics(spark, wd).count() == 3


def test_metrics_append_runs_no_spark_job(tmp_path, spark):
    """A completion-only append is written by the driver: no Spark job,
    and its completed_at is the instant of the call."""
    sc = spark.sparkContext
    wd = str(tmp_path / "nojob")
    group = "metrics-append-no-job"
    before = _dt.datetime.now(_dt.timezone.utc).timestamp()
    sc.setJobGroup(group, "completion-only metrics append")
    try:
        M.append_stage_metrics(spark, wd, "j", "block_stats", None,
                               rows_in=3, pair_count=2, match_count=1)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    after = _dt.datetime.now(_dt.timezone.utc).timestamp()
    assert jobs == []
    (row,) = M.read_metrics(spark, wd).collect()
    assert (row["stage"], row["partition_id"]) == ("block_stats", -1)
    assert before <= row["completed_at"].timestamp() <= after


def test_completed_stages_raises_on_broken_metrics_table(tmp_path):
    """Only a missing metrics table means nothing completed; one that
    cannot be read fails the resume instead of re-running every stage."""
    wd = tmp_path / "broken"
    assert M.completed_stages(str(wd), "b") == set()
    (wd / "metrics").mkdir(parents=True)
    (wd / "metrics" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(pa.ArrowInvalid):
        M.completed_stages(str(wd), "b")

def test_pipeline_lr_scorer_f1(tmp_path, spark, raw):
    """M1/M2 wired into the flagship lifecycle (the reference trains
    LR per run, record_linkage.py:461-505): scorer='lr' + labeled
    pairs must clear the same cluster-F1 bar through the unchanged
    threshold-with-fallback path."""
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    truth = G.labeled_pairs(raw).cache()
    expected = G.expected_clusters(raw)

    cfg = PipelineConfig(workdir=str(tmp_path / "lr"), run_id="lr1",
                         scorer="lr")
    res = LinkagePipeline(spark, cfg).run(
        pages, labeled_pairs=truth, expected_clusters=expected
    )
    prf = res["cluster_prf1"]
    assert prf.f1 >= 0.99, (prf.precision, prf.recall, prf.f1)
    # LR scores are probabilities
    mm = res["scored"].agg(F.min("score"), F.max("score")).collect()[0]
    assert mm[0] >= 0.0 and mm[1] <= 1.0


def test_lr_scorer_requires_labels(spark, raw):
    from idd_hw6_record_linkage_spark.plans.pipeline import run_in_memory

    pages = raw.select("url", "warc_ts", "html", "text", "lang").limit(50)
    cfg = PipelineConfig(workdir="/tmp/_unused", scorer="lr")
    with pytest.raises(ValueError, match="labeled_pairs"):
        run_in_memory(spark, pages, cfg)["scored"].count()


def test_run_in_memory_release_unpersists(spark):
    """run_in_memory's caches are intentionally session-scoped; the
    returned release() handle must drop every CacheManager entry so
    long-lived sessions running many pipelines don't accumulate."""
    from idd_hw6_record_linkage_spark.plans.pipeline import run_in_memory

    spark.catalog.clearCache()
    pages = G.generate_pages(spark, 80)
    res = run_in_memory(spark, pages)
    res["clusters"].count()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty()
    res["release"]()
    assert cm.isEmpty()


def test_staged_run_and_link_sources_leave_no_cache(tmp_path, spark):
    """The staged pipeline releases its fan-out caches (raw and capped
    key tables) once the pairs stage is written, and link_sources'
    release() drops every cache it made."""
    from idd_hw6_record_linkage_spark.plans.pipeline import (
        dedupe_pages,
        link_sources,
    )

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    pages = G.generate_pages(spark, 80)
    res = dedupe_pages(spark, pages, workdir=str(tmp_path / "wd"))
    res["clusters"].count()
    assert cm.isEmpty()

    raw = G.generate_raw(spark, 80)
    cols = ["url", "warc_ts", "html", "text", "lang"]
    res = link_sources(spark, raw.where(F.col("member") == 0).select(*cols),
                       raw.where(F.col("member") > 0).select(*cols))
    res["matches"].count()
    assert not cm.isEmpty()
    res["release"]()
    assert cm.isEmpty()


def test_in_memory_and_staged_runs_agree(tmp_path, spark):
    """run_in_memory and LinkagePipeline.run are one DAG behind two
    stage stores: same scores on every candidate pair, same clusters."""
    from idd_hw6_record_linkage_spark.plans.pipeline import run_in_memory

    def fingerprint(df, cols):
        return df.agg(
            F.count("*"), F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")
        ).collect()[0]

    pages = G.generate_pages(spark, 120)
    mem = run_in_memory(spark, pages)
    staged = LinkagePipeline(
        spark, PipelineConfig(workdir=str(tmp_path / "wd"), run_id="p")
    ).run(pages)
    try:
        for key, cols in (("clusters", ["url", "entity_id"]),
                          ("scored", ["id_l", "id_r", "score"])):
            got = fingerprint(staged[key], cols)
            assert got == fingerprint(mem[key], cols), key
            assert got[0] > 0, key
    finally:
        mem["release"]()


def test_pipeline_collapse_recrawls_flag(spark):
    """cfg.collapse_recrawls=True: tracking-param re-crawl variants of
    every page (older warc_ts) collapse to the original before
    blocking — record count and clusters match the no-variant run."""
    from idd_hw6_record_linkage_spark.sources.generator import (
        expected_clusters,
        generate_raw,
    )
    from idd_hw6_record_linkage_spark.plans.pipeline import (
        PipelineConfig,
        run_in_memory,
    )
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        pairwise_cluster_f1,
    )

    raw = generate_raw(spark, 120).cache()
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    n_pages = pages.count()
    dup = pages.select(
        F.concat(F.col("url"), F.lit("?utm_source=dup&fbclid=x")).alias("url"),
        F.expr("warc_ts - INTERVAL 1 HOUR").alias("warc_ts"),
        "html", "text", "lang",
    )
    noisy = pages.unionByName(dup)
    cfg = PipelineConfig(workdir="/tmp/_unused", run_id="collapse",
                         collapse_recrawls=True)
    res = run_in_memory(spark, noisy, cfg)
    try:
        assert res["records"].count() == n_pages
        # survivors are the LATEST crawls = the original raw urls
        assert res["records"].where(
            F.col("url").contains("utm_source")).count() == 0
        prf = pairwise_cluster_f1(res["clusters"], expected_clusters(raw))
        assert prf.f1 == 1.0, prf
    finally:
        res["release"]()


def test_pipeline_strip_boilerplate_flag(spark):
    """cfg.strip_boilerplate_min_docs: a cookie banner glued onto
    every page's text is stripped before normalize, so the cleaned
    text equals the banner-free run's and clustering stays perfect."""
    from idd_hw6_record_linkage_spark.sources.generator import (
        expected_clusters,
        generate_raw,
    )
    from idd_hw6_record_linkage_spark.plans.pipeline import (
        PipelineConfig,
        run_in_memory,
    )
    from idd_hw6_record_linkage_spark.operators.evaluation import (
        pairwise_cluster_f1,
    )

    raw = generate_raw(spark, 100).cache()
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    banner = "accept all cookies to continue"
    noisy = pages.withColumn(
        "text", F.concat(F.lit(banner + "\n"), F.col("text"))
    )
    cfg = PipelineConfig(workdir="/tmp/_unused", run_id="boiler",
                         strip_boilerplate_min_docs=50)
    res = run_in_memory(spark, noisy, cfg)
    try:
        assert res["records"].where(
            F.col("text_clean").contains(banner)).count() == 0
        prf = pairwise_cluster_f1(res["clusters"], expected_clusters(raw))
        assert prf.f1 == 1.0, prf
    finally:
        res["release"]()
