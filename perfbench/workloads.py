"""The benchmark's workloads.

Each workload stages its seeded input (``stage``), derives its truth
(``prepare``), runs one operation (``op``) and checks it (``check``),
and can run a traced variant (``trace``) that reports per-layer
numbers. An operation returns a dict with at least ``wall`` (seconds)
and ``ops`` (operations it stands for).
"""

from __future__ import annotations

import os
import shutil
import time

from harness import PAGE_COLS, WORK, fingerprint, seeded_raw

CLUSTER_COLS = ["url", "entity_id"]
MODULE_LAYERS = ("normalize", "block_keys", "cap", "pairs", "score", "threshold", "cc")
STAGES = ("normalize", "pairs", "score", "edges", "cluster")
MIN_QUALITY = 0.99


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, f"perfbench {group}")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()
    return df


def _pairs_in_blocks(keys) -> tuple[int, int]:
    """(within-block candidate count, largest block): the count is
    the sum of n*(n-1)/2 over blocks."""
    from pyspark.sql import functions as F

    row = (
        keys.groupBy("block_key").count()
        .agg(F.sum(F.expr("`count` * (`count` - 1) div 2")).alias("c"),
             F.max("count").alias("m"))
        .collect()[0]
    )
    return int(row["c"] or 0), int(row["m"] or 0)


class PipelineWorkload:
    """Input staging, truth and the traced module composition shared
    by both workloads."""

    # A fixed page count, so that pages_per_s moves only with wall_s.
    # The generator plants 2.2 pages per entity on average; 1,100
    # entities give 2,420 +/- 49 pages, of which the first 2,200 are kept.
    n_entities = 1100
    target_pages = 2200
    n_domains: int | None = None

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.raw_path = os.path.join(WORK, "input", "raw")

    def stage(self, spark) -> None:
        raw = seeded_raw(spark, self.n_entities, self.seed, self.n_domains)
        raw.orderBy("entity_id", "member").limit(self.target_pages).repartition(
            8, "entity_id"
        ).write.mode("overwrite").parquet(self.raw_path)

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from idd_hw6_record_linkage_spark.plans.pipeline import PipelineConfig
        from idd_hw6_record_linkage_spark.sources.generator import expected_clusters

        self.spark = spark
        raw = spark.read.parquet(self.raw_path)
        self.pages = raw.select(*PAGE_COLS)
        self.n_pages = self.pages.count()
        self.expected = expected_clusters(raw)
        l, r = raw.alias("l"), raw.alias("r")
        self.truth_pos = (
            l.join(r, (F.col("l.entity_id") == F.col("r.entity_id"))
                   & (F.col("l.url") < F.col("r.url")))
            .select(F.col("l.url").alias("id_l"), F.col("r.url").alias("id_r"))
            .persist()
        )
        self.cfg = PipelineConfig(workdir=os.path.join(WORK, "unused"), run_id="bench")
        self.reference = None
        self.quality: dict[str, float] = {}

    def _quality(self, clusters, pairs) -> str | None:
        from idd_hw6_record_linkage_spark.operators.blocking import pairs_completeness
        from idd_hw6_record_linkage_spark.operators.evaluation import pairwise_cluster_f1

        f1 = pairwise_cluster_f1(clusters, self.expected).f1
        pc = pairs_completeness(pairs, self.truth_pos)
        self.quality = {"cluster_f1": f1, "pairs_completeness": pc}
        if f1 < MIN_QUALITY or pc < MIN_QUALITY:
            return f"cluster_f1={f1:.4f} pairs_completeness={pc:.4f} below {MIN_QUALITY}"
        return None

    def _same_clusters(self, fp, what: str) -> str | None:
        if self.reference is None:
            self.reference = fp
        elif fp != self.reference:
            return f"{what} clusters {fp} differ from the first run's {self.reference}"
        return None

    # --- traced module composition ------------------------------------

    def compose_traced(self) -> dict[str, float]:
        """The run_in_memory DAG built from the public module functions,
        one job group per layer, each forced at run_in_memory's persist
        points. Returns per-layer seconds and counts; checks that the
        clusters equal the untraced run's."""
        from pyspark.sql import functions as F

        from idd_hw6_record_linkage_spark.operators import blocking, scoring
        from idd_hw6_record_linkage_spark.operators.clustering import clusters_from_edges
        from idd_hw6_record_linkage_spark.plans.pipeline import (
            block_keys_plan,
            normalize_plan,
        )

        cfg = self.cfg
        secs: dict[str, float] = {}

        def layer(name, build):
            _set_group(self.spark, name)
            t = time.perf_counter()
            out = build()
            secs[name] = time.perf_counter() - t
            return out

        def forced(df):
            df.count()
            return df

        t0 = time.perf_counter()
        records = layer("normalize", lambda: forced(normalize_plan(self.pages).persist()))
        raw = layer("block_keys", lambda: forced(block_keys_plan(records, cfg).persist()))
        keys = layer("cap", lambda: forced(blocking.cap_blocks(
            raw, cfg.max_block_size, salt_col="salt_basis").persist()))
        pairs = layer("pairs", lambda: forced(blocking.candidate_pairs_self(keys).persist()))
        scored = layer("score", lambda: forced(scoring.score(
            scoring.compute_features(pairs, records, cfg.comparator_config, "url"),
            cfg.comparator_config).persist()))
        edges = layer("threshold", lambda: scoring.threshold_with_fallback(
            scored, cfg.score_threshold, cfg.fallback_threshold)[0])
        clusters = layer("cc", lambda: _noop(clusters_from_edges(
            edges.select("id_l", "id_r"), records.select("url"), id_col="url")))
        wall = time.perf_counter() - t0

        _set_group(self.spark, "perfbench.stats")
        out = {f"{k}.s": v for k, v in secs.items()}
        n_pairs = pairs.count()
        raw_cand, _ = _pairs_in_blocks(raw)
        cand, max_block = _pairs_in_blocks(keys)
        n_edges = edges.count()
        true_pairs = self.truth_pos.join(pairs, ["id_l", "id_r"], "leftsemi").count()
        out.update({
            "normalize.rows": records.count(),
            "block_keys.rows": raw.count(),
            "block_keys.rows_lsh": raw.where(F.col("pass") == "lsh").count(),
            "cap.oversized_keys": raw.groupBy("block_key").count()
            .where(F.col("count") > cfg.max_block_size).count(),
            "cap.max_block": max_block,
            "cap.cand_cut_ratio": cand / raw_cand if raw_cand else 0.0,
            "pairs.rows": n_pairs,
            "pairs.dedup_ratio": n_pairs / cand if cand else 0.0,
            "pairs.true_ratio": true_pairs / n_pairs if n_pairs else 0.0,
            "score.pairs_per_s": n_pairs / secs["score"],
            "threshold.edges": n_edges,
            "threshold.yield": n_edges / n_pairs if n_pairs else 0.0,
            "cc.edges_in": n_edges,
        })
        self.compose_wall = wall
        self.compose_problem = self._same_clusters(
            fingerprint(clusters, CLUSTER_COLS), "traced composition")
        for df in (records, raw, keys, pairs, scored):
            df.unpersist()
        self.spark.sparkContext.setJobGroup("", "")
        return out

    def trace_problem(self) -> str | None:
        return self.compose_problem


class DedupSkewed(PipelineWorkload):
    """run_in_memory over a corpus where 3 of 60 domains hold half the
    pages: the block cap salts the mega-domain keys."""

    name = "dedup_skewed"
    n_domains = 60

    def op(self) -> dict:
        from idd_hw6_record_linkage_spark.plans.pipeline import run_in_memory

        t = time.perf_counter()
        res = run_in_memory(self.spark, self.pages)
        _noop(res["clusters"])
        return {"wall": time.perf_counter() - t, "ops": 1, "res": res}

    def check(self, out: dict) -> str | None:
        res = out["res"]
        try:
            problem = self._same_clusters(
                fingerprint(res["clusters"], CLUSTER_COLS), "run_in_memory")
            if not self.quality and not problem:
                problem = self._quality(res["clusters"], res["pairs"])
            return problem
        finally:
            res["release"]()

    def trace(self, first: dict, run_op) -> dict[str, float]:
        """The traced composition, compared with a second (warm)
        untraced run; the first run after session start is cold."""
        warm = run_op()
        out = self.compose_traced()
        out["trace.overhead_s"] = self.compose_wall - warm["wall"] if warm else 0.0
        out["trace.coverage"] = sum(out[f"{l}.s"] for l in MODULE_LAYERS) / self.compose_wall
        return out


class StagedResume(PipelineWorkload):
    """LinkagePipeline writing parquet stages and the metrics table,
    then a resume run; ~9 pages per domain, so the block cap is idle."""

    name = "staged_resume"
    n_domains = 250

    def _cfg(self, resume: bool = False):
        from idd_hw6_record_linkage_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(workdir=os.path.join(WORK, "staged"), run_id="bench",
                              resume=resume)

    def op(self) -> dict:
        from idd_hw6_record_linkage_spark.plans.pipeline import LinkagePipeline

        shutil.rmtree(os.path.join(WORK, "staged"), ignore_errors=True)
        start = time.time()
        t = time.perf_counter()
        res = LinkagePipeline(self.spark, self._cfg()).run(self.pages)
        wall = time.perf_counter() - t
        first = fingerprint(res["clusters"], CLUSTER_COLS)
        t = time.perf_counter()
        again = LinkagePipeline(self.spark, self._cfg(resume=True)).run(self.pages)
        resumed = fingerprint(again["clusters"], CLUSTER_COLS)
        resume = time.perf_counter() - t
        return {"wall": wall, "resume": resume, "ops": 2, "res": res,
                "fps": (first, resumed), "start": start}

    def check(self, out: dict) -> str | None:
        first, resumed = out["fps"]
        if resumed != first:
            return f"resumed clusters {resumed} differ from the run's {first}"
        problem = self._same_clusters(first, "LinkagePipeline")
        if not self.quality and not problem:
            problem = self._quality(out["res"]["clusters"], out["res"]["pairs"])
        return problem

    def trace(self, first: dict, run_op) -> dict[str, float]:
        """Stage seconds of the first run, from the completion
        timestamps LinkagePipeline writes to its metrics table (no
        instrumentation added, so no tracing overhead), then the traced
        module composition over the same pages."""
        from pyspark.sql import functions as F

        from idd_hw6_record_linkage_spark.plans import metrics as M

        workdir = os.path.join(WORK, "staged")
        rows = M.read_metrics(self.spark, workdir)
        done = {
            r["stage"]: r["completed_at"].timestamp()
            for r in rows.where(F.col("partition_id") == -1).collect()
        }
        out, prev = {}, first["start"]
        for stage in STAGES:
            out[f"stage.{stage}.s"] = done[stage] - prev
            prev = done[stage]
        out["stage.written_mb"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(workdir) for f in files
        ) / 1e6
        out["metrics.rows"] = rows.count()
        out["trace.overhead_s"] = 0.0
        out["trace.coverage"] = (prev - first["start"]) / first["wall"]
        out.update(self.compose_traced())
        return out


WORKLOADS = {w.name: w for w in (DedupSkewed, StagedResume)}
