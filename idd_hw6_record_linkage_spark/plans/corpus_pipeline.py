"""Staged LLM-corpus hygiene pipeline — the training-data counterpart
to plans.pipeline.LinkagePipeline: compose the corpus operators the
engine already ships (re-crawl collapse, boilerplate line strip,
Gopher/C4 quality filter, PII redaction, exact / MinHash-LSH dedup,
deterministic sampling, token-budget shard packing) into ONE resumable
plan with per-stage parquet materialization, per-partition lineage and
completion rows in the same metrics table the ER pipeline uses
(plans/metrics.py). A 100-TB hygiene run dies and restarts; every
completed stage is skipped on resume, byte-identical.

Stage order is the production order — cheapest row-droppers first so
every later stage scans fewer bytes:

  collapse -> boilerplate -> quality -> pii -> dedup -> sample -> pack

Each stage is opt-in via its CorpusConfig knob (None/False = pass
through, no stage materialized — resuming a run after adding a stage
re-runs only the new stage and everything after it, because stage
outputs are keyed by stage name).

Scale notes: every stage is one of the audited operator shapes —
collapse is one canonical-url-partitioned window; boilerplate is a
doc-freq aggregate + broadcast strip; quality/pii are map-only native
expression chains; exact dedup is one hash aggregate + leftsemi;
minhash dedup is the capped banded-LSH path + large/small-star CC;
sampling is map-only md5 fate; packing is the two-pass distributed
prefix sum. Nothing here introduces a new shuffle shape.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.plans import metrics as M
from idd_hw6_record_linkage_spark.plans.pipeline import StagedPlan

__all__ = ["CorpusConfig", "CorpusPipeline", "clean_corpus"]


@dataclass
class CorpusConfig:
    workdir: str
    run_id: str = "corpus"
    resume: bool = False
    table_format: str = "parquet"
    iceberg_namespace: str = "linkage"

    id_col: str = "url"
    text_col: str = "text"
    ts_col: str = "warc_ts"
    source_col: str = "source"

    # stage knobs (None / False = stage skipped entirely)
    collapse_recrawls: bool = True
    boilerplate_min_docs: int | None = None
    quality_filter: bool = True
    quality_kwargs: dict = field(default_factory=dict)
    redact_pii: bool = True
    dedup: str = "exact"  # "none" | "exact" | "minhash"
    minhash_kwargs: dict = field(default_factory=dict)
    sample_rates: dict | None = None
    sample_default_rate: float = 0.0
    tokens_per_shard: int | None = None

    def __post_init__(self) -> None:
        if self.dedup not in ("none", "exact", "minhash"):
            raise ValueError(f"unknown dedup mode: {self.dedup!r}")


class CorpusPipeline(StagedPlan):
    """See module docstring. Every stage returns the FULL corpus frame
    (original columns preserved; ``text_col`` rewritten in place by
    boilerplate/pii; packing appends shard_id/shard_pos)."""

    # --- stages ----------------------------------------------------------

    def collapse(self, docs: DataFrame) -> DataFrame:
        if not self.cfg.collapse_recrawls:
            return docs
        from idd_hw6_record_linkage_spark.operators.dedup import (
            collapse_recrawls,
        )

        return self._run_stage(
            "collapse",
            lambda: collapse_recrawls(
                docs.where(F.col(self.cfg.id_col).isNotNull()),
                url_col=self.cfg.id_col,
                ts_col=self.cfg.ts_col,
            ).drop("url_canonical", "n_versions"),
        )

    def boilerplate(self, docs: DataFrame) -> DataFrame:
        if self.cfg.boilerplate_min_docs is None:
            return docs
        from idd_hw6_record_linkage_spark.operators.line_dedup import (
            remove_boilerplate_lines,
        )

        cfg = self.cfg

        def build():
            rb = remove_boilerplate_lines(
                docs, cfg.id_col, cfg.text_col,
                min_docs=cfg.boilerplate_min_docs,
            ).select(cfg.id_col, "clean_text", "n_removed")
            # LEFT join + coalesce keeps every input row: NULL-text
            # docs come back with clean_text='' from the operator, but
            # a defensive coalesce to the original text costs nothing.
            return (
                docs.join(rb, cfg.id_col, "left")
                .withColumn(
                    cfg.text_col,
                    F.coalesce("clean_text", F.col(cfg.text_col)),
                )
                .withColumn(
                    "boiler_lines_removed",
                    F.coalesce("n_removed", F.lit(0)).cast("long"),
                )
                .drop("clean_text", "n_removed")
            )

        return self._run_stage("boilerplate", build)

    def quality(self, docs: DataFrame) -> DataFrame:
        if not self.cfg.quality_filter:
            return docs
        from idd_hw6_record_linkage_spark.functions.text_analysis import (
            reject_reason_expr,
        )

        cfg = self.cfg

        def build():
            return (
                docs.withColumn(
                    "__reject",
                    reject_reason_expr(cfg.text_col, **cfg.quality_kwargs),
                )
                .where(F.col("__reject").isNull())
                .drop("__reject")
            )

        return self._run_stage("quality", build,
                               counts=lambda out: {"rows_in": docs.count()})

    def pii(self, docs: DataFrame) -> DataFrame:
        if not self.cfg.redact_pii:
            return docs
        from idd_hw6_record_linkage_spark.functions.pii import (
            redact_pii_expr,
        )

        cfg = self.cfg
        return self._run_stage(
            "pii",
            lambda: docs.withColumn(
                cfg.text_col, redact_pii_expr(cfg.text_col)
            ),
        )

    def dedup_stage(self, docs: DataFrame) -> DataFrame:
        if self.cfg.dedup == "none":
            return docs
        cfg = self.cfg

        if cfg.dedup == "exact":
            from idd_hw6_record_linkage_spark.operators.dedup import (
                exact_dedup,
            )

            build = lambda: exact_dedup(docs, cfg.id_col, cfg.text_col)  # noqa: E731
        else:  # minhash
            from idd_hw6_record_linkage_spark.operators.clustering import (
                clusters_from_edges,
            )
            from idd_hw6_record_linkage_spark.operators.dedup import (
                minhash_dedup_pairs,
            )

            def build():
                pairs = minhash_dedup_pairs(
                    docs, cfg.id_col, cfg.text_col,
                    base="xxhash64",
                    **cfg.minhash_kwargs,
                ).select(
                    F.col("id_l").cast("string").alias("id_l"),
                    F.col("id_r").cast("string").alias("id_r"),
                )
                ids = docs.select(
                    F.col(cfg.id_col).cast("string").alias(cfg.id_col)
                )
                # clusters_from_edges returns (url, entity_id) with
                # entity_id = min member id of the component.
                asg = clusters_from_edges(pairs, ids, id_col=cfg.id_col)
                keep = asg.groupBy("entity_id").agg(
                    F.min("url").alias("__keep")
                ).select(
                    F.col("__keep")
                    .cast(dict(docs.dtypes)[cfg.id_col])
                    .alias(cfg.id_col)
                )
                return docs.join(keep, cfg.id_col, "leftsemi")

        return self._run_stage("dedup", build,
                               counts=lambda out: {"rows_in": docs.count()})

    def sample(self, docs: DataFrame) -> DataFrame:
        if self.cfg.sample_rates is None:
            return docs
        from idd_hw6_record_linkage_spark.operators.sampling import (
            sample_corpus,
        )

        cfg = self.cfg
        return self._run_stage(
            "sample",
            lambda: sample_corpus(
                docs, cfg.id_col, cfg.sample_rates,
                source_col=cfg.source_col,
                default_rate=cfg.sample_default_rate,
            ).drop("sample_fate"),
        )

    def pack(self, docs: DataFrame) -> DataFrame:
        if self.cfg.tokens_per_shard is None:
            return docs
        from idd_hw6_record_linkage_spark.functions.text_analysis import (
            token_count_expr,
        )
        from idd_hw6_record_linkage_spark.operators.sampling import (
            pack_shards,
        )

        cfg = self.cfg

        def build():
            with_tok = docs.withColumn(
                "n_tokens", token_count_expr(cfg.text_col).cast("long")
            )
            return pack_shards(
                with_tok, cfg.id_col, "n_tokens", cfg.tokens_per_shard
            )

        return self._run_stage("pack", build)

    # --- end-to-end --------------------------------------------------------

    def run(self, docs: DataFrame) -> dict:
        collapsed = self.collapse(docs)
        stripped = self.boilerplate(collapsed)
        kept = self.quality(stripped)
        redacted = self.pii(kept)
        deduped = self.dedup_stage(redacted)
        sampled = self.sample(deduped)
        packed = self.pack(sampled)
        return {
            "collapsed": collapsed,
            "stripped": stripped,
            "kept": kept,
            "redacted": redacted,
            "deduped": deduped,
            "sampled": sampled,
            "corpus": packed,
            "metrics": M.read_metrics(self.spark, self.cfg.workdir),
        }


def clean_corpus(
    spark: SparkSession, docs: DataFrame, workdir: str, **cfg_kwargs
) -> dict:
    """One-call API: corpus table in -> hygiene-pipeline outputs +
    metrics table out (mirror of plans.pipeline.dedupe_pages)."""
    cfg = CorpusConfig(workdir=workdir, **cfg_kwargs)
    return CorpusPipeline(spark, cfg).run(docs)
