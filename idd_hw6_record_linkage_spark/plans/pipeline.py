"""End-to-end linkage pipeline over the pages table.

One stage DAG (one declarative DataFrame plan per stage), wired once in
``_link`` for every entry point:

    read pages → normalize → {block_b1, block_b2, block_lsh}
      → pairs (salted equi-join ∪ passes, dedup)
      → score (feature matrix + weighted scorer)
      → edges (threshold w/ 0.5→0.3 fallback)
      → cluster (large-star/small-star CC)
      → eval (P/R/F1 vs labeled pairs / expected clusters)

Two stage stores decide how each stage output is materialized:

- memory (``run_in_memory``, ``link_sources``): ``persist()`` per
  stage, every cache released by the result's ``release()``;
- staged (``LinkagePipeline``, ``dedupe_pages``): parquet or iceberg
  stage tables with lineage rows in the metrics table; a stage's
  completion row doubles as its resume checkpoint (SURVEY §3.1).

The reference runs the same lifecycle eagerly in pandas
(record_linkage.py:588-693); every stage here is relational and
shuffle-partitioned, with explicit skew controls on blocking keys.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.functions.cleaning import clean_text_expr
from idd_hw6_record_linkage_spark.functions.normalize import (
    title_tokens_expr,
    url_domain_expr,
)
from idd_hw6_record_linkage_spark.operators import blocking
from idd_hw6_record_linkage_spark.operators.clustering import clusters_from_edges
from idd_hw6_record_linkage_spark.operators.minhash import lsh_key_table
from idd_hw6_record_linkage_spark.operators import scoring
from idd_hw6_record_linkage_spark.operators.evaluation import (
    canonical_pairs,
    pairwise_cluster_f1,
    precision_recall_f1,
)
from idd_hw6_record_linkage_spark.plans import metrics as M


@dataclass
class PipelineConfig:
    workdir: str
    run_id: str = "run0"
    comparator_config: scoring.ComparatorConfig = field(
        default_factory=lambda: scoring.WEB_P1
    )
    use_lsh: bool = True
    # "rule": fixed weighted-mean scorer (default). "lr": train a
    # pyspark.ml LogisticRegression on labeled pairs per run — the
    # reference's flagship lifecycle (record_linkage.py:461-505 fits LR
    # on the comparator features each run); requires a labeled_pairs
    # DataFrame (url_l, url_r, label) passed to run()/run_in_memory.
    scorer: str = "rule"
    max_block_size: int = 200
    score_threshold: float = 0.5
    fallback_threshold: float = 0.3
    resume: bool = False
    # Stage-boundary table format. "parquet" (default) writes
    # workdir/<stage>; "iceberg" writes catalog tables
    # <iceberg_namespace>.<run_id>_<stage> via writeTo — requires the
    # iceberg-spark runtime jar + a configured catalog (north rule
    # names Iceberg; this container has no jar, so the flag fails fast
    # with a clear message instead of a Py4J stack).
    table_format: str = "parquet"
    iceberg_namespace: str = "linkage"
    # Collapse re-crawls (same canonical url, differing tracking
    # params / case / fragments / crawl time) to the latest crawl
    # BEFORE normalize — the url-identity dedup stage a Common-Crawl
    # corpus needs ahead of content blocking. Off by default: the
    # reference has no such stage, and the per-url byte-identical
    # text invariant is defined over raw urls.
    collapse_recrawls: bool = False
    # Strip boilerplate lines (lines occurring in >= this many
    # distinct pages) from `text` BEFORE normalize — the CCNet/C4
    # corpus-hygiene stage ahead of content blocking, so nav bars and
    # cookie banners stop gluing unrelated pages into blocks. None
    # (default) = off: the reference has no such stage and its
    # byte-identical clean_text invariant is defined over raw text.
    strip_boilerplate_min_docs: int | None = None
    # Survivorship: per-column merge rules (operators/survivorship.py)
    # applied AFTER clustering to emit one golden record per entity
    # under result["golden"]. Keys are normalized-record columns (url,
    # warc_ts, lang, domain, title_norm, text_clean, n_chars, ...).
    # None (default) = off: the reference stops at cluster assignments.
    golden_rules: dict | None = None


def _maybe_collapse(pages: DataFrame, cfg: "PipelineConfig") -> DataFrame:
    if not cfg.collapse_recrawls:
        return pages
    from idd_hw6_record_linkage_spark.operators.dedup import (
        collapse_recrawls as _collapse,
    )

    # Keep the raw url as the record id (one survivor per canonical
    # url): the per-url invariants downstream stay byte-exact.
    return _collapse(pages, "url", "warc_ts").drop(
        "url_canonical", "n_versions"
    )


def _maybe_strip_boilerplate(
    pages: DataFrame, cfg: "PipelineConfig"
) -> DataFrame:
    if cfg.strip_boilerplate_min_docs is None:
        return pages
    from idd_hw6_record_linkage_spark.operators.line_dedup import (
        remove_boilerplate_lines,
    )

    cleaned = remove_boilerplate_lines(
        pages,
        "url",
        "text",
        min_docs=cfg.strip_boilerplate_min_docs,
    ).select("url", F.col("clean_text"))
    # Replace text, keep every other pages column untouched. LEFT join
    # + coalesce so no page can ever vanish from the pipeline through
    # this stage (remove_boilerplate_lines emits one row per input doc
    # including NULL-text docs, but the strip must be row-preserving
    # by construction, not by trusting the operator's cardinality).
    return (
        pages.join(cleaned, "url", "left")
        .withColumn("text", F.coalesce("clean_text", "text"))
        .drop("clean_text")
    )


def _pre_stages(pages: DataFrame, cfg: "PipelineConfig") -> DataFrame:
    return _maybe_strip_boilerplate(_maybe_collapse(pages, cfg), cfg)


def _maybe_golden(
    records: DataFrame, clusters: DataFrame, cfg: "PipelineConfig"
) -> DataFrame | None:
    """Survivorship stage: one golden record per entity, or None when
    cfg.golden_rules is unset. Joins the cluster assignment back to the
    normalized records on url (hash join on the record id — both sides
    corpus-sized, neither broadcast)."""
    if not cfg.golden_rules:
        return None
    from idd_hw6_record_linkage_spark.operators.survivorship import (
        consolidate_clusters,
    )

    members = clusters.join(records, "url")
    return consolidate_clusters(members, "entity_id", cfg.golden_rules)


def normalize_plan(pages: DataFrame) -> DataFrame:
    """Mediated web-record schema (SURVEY §1.3 role mapping): domain←
    brand, sorted-title←model, clean text←description. Pure expression
    plan — no materialization."""
    title = F.regexp_extract(
        F.col("html").cast("string"), r"<title>(.*?)</title>", 1
    )
    toks = title_tokens_expr(title)
    # Empty title/text are *missing* for comparators (reference declares
    # every field has_missing=True, 2_train_dedupe_models.py:56-88;
    # missing → similarity 0). text_clean stays byte-exact ('' included)
    # — the per-url invariant column.
    return (
        pages.select(
            "url",
            "warc_ts",
            "lang",
            url_domain_expr("url").alias("domain"),
            F.nullif(F.concat_ws(" ", toks), F.lit("")).alias("title_norm"),
            clean_text_expr("text").alias("text_clean"),
        )
        .withColumn("n_chars", F.length("text_clean"))
        .withColumn("text_cmp", F.nullif(F.col("text_clean"), F.lit("")))
        # pre-tokenized distinct tokens, HASHED to int64: comparators
        # over pairs consume this array so tokenization happens once
        # per record, not once per candidate pair (NULL when text
        # empty → missing semantics). Hashing matters at scale: the
        # pair join ships both sides' token arrays through the
        # shuffle, and 8-byte longs move ~3x fewer bytes than token
        # strings — set Jaccard is hash-invariant (distinct-token
        # collisions are ~n²/2⁻⁶⁴, i.e. never).
        .withColumn(
            "text_tokens",
            F.when(
                F.col("text_cmp").isNotNull(),
                F.array_distinct(
                    F.transform(
                        F.split(F.col("text_cmp"), " "),
                        lambda t: F.xxhash64(t),
                    )
                ),
            ),
        )
    )


def block_keys_plan(records: DataFrame, cfg: "PipelineConfig",
                    extra_cols: list[str] | None = None) -> DataFrame:
    # Content-derived salt basis for the block-size cap: duplicate
    # records share a title/text prefix, so when a mega-domain block is
    # split into sub-blocks, true pairs stay co-located (id-based salt
    # would scatter them — recall loss inside oversized blocks).
    # ``extra_cols``: passthrough record columns (streaming incremental
    # path — event time + new-side attributes ride the key table so no
    # stream-stream join is ever needed).
    salt_basis = F.coalesce(
        F.substring("title_norm", 1, 12),
        F.substring("text_clean", 1, 24),
        F.col("url"),
    )
    # B1 analogue: coarse key = normalized domain (brand role).
    keys = blocking.key_table(records, "url", F.col("domain"), "b1",
                              salt_basis, extra_cols=extra_cols)
    # B2 analogue: domain + 2-char prefix of the token-sorted title
    # (brand + model-prefix role, blocking_B2.py:70-87).
    b2 = F.when(
        F.col("domain").isNotNull() & (F.length("title_norm") >= 2),
        F.concat_ws(
            "_",
            F.col("domain"),
            F.substring(
                F.regexp_replace("title_norm", r"[^a-z0-9]", ""), 1, 2
            ),
        ),
    )
    keys = keys.unionByName(blocking.key_table(
        records, "url", b2, "b2", salt_basis, extra_cols=extra_cols))
    if cfg.use_lsh:
        keys = keys.unionByName(lsh_key_table(
            records, "url", "text_clean",
            salt_basis=salt_basis, extra_cols=extra_cols,
        ))
    return keys


def _validate_scorer(cfg: "PipelineConfig",
                     labeled_pairs: DataFrame | None) -> None:
    """Fail fast on scorer misconfiguration BEFORE any stage persists:
    raising after persist() registrations would leak CacheManager
    entries with no release handle (the error path nobody unpersists)."""
    if cfg.scorer not in ("rule", "lr"):
        raise ValueError(f"unknown scorer: {cfg.scorer!r}")
    if cfg.scorer == "lr" and labeled_pairs is None:
        raise ValueError(
            "scorer='lr' requires labeled_pairs (url_l, url_r, label)"
        )


def _scored_features(feats: DataFrame, cfg: "PipelineConfig",
                     labeled_pairs: DataFrame | None) -> DataFrame:
    """Apply the configured scorer to a feature matrix: the rule
    scorer's weighted mean, or a per-run LogisticRegression fit on
    labeled pairs (M1/M2) — identical downstream threshold-with-
    fallback semantics either way."""
    if cfg.scorer == "lr":
        labels = labeled_pairs.select(
            F.col("url_l").alias("id_l"),
            F.col("url_r").alias("id_r"),
            "label",
        )
        assembler, model = scoring.fit_logistic_regression(
            feats, labels, cfg.comparator_config
        )
        return scoring.predict_probability(feats, assembler, model)
    return scoring.score(feats, cfg.comparator_config)


def _link(sources: list[DataFrame], cfg: "PipelineConfig",
          labeled_pairs: DataFrame | None, store) -> dict:
    """The linkage DAG, wired once for every entry point. ``sources`` is
    one pages table (self-linkage → clusters) or two (two-source
    linkage → matched pairs, the reference's output for that case,
    record_linkage.py:528-536). The two differ only in the pair join
    and in the record table right-hand ids resolve against.

    ``store`` decides how each stage output is materialized:
    :class:`_MemoryStore` persists it, :class:`StagedPlan` writes it as
    a resumable stage table. Either way ``store._cache`` holds a fan-out
    point inside a stage and ``store._record`` files a metrics row."""
    _validate_scorer(cfg, labeled_pairs)
    recs = [
        store._run_stage("normalize", lambda p=p: normalize_plan(_pre_stages(p, cfg)))
        for p in sources
    ]

    def build_pairs() -> DataFrame:
        # Fan-out points: raw keys feed the oversize count + the cap
        # join; capped keys feed both sides of the pair join. One cap
        # plan over every source's keys: capping sources independently would
        # salt a hot key on one side only and drop its cross-source
        # candidates.
        raw = [store._cache(block_keys_plan(r, cfg)) for r in recs]
        plan = blocking.cap_plan(raw, cfg.max_block_size, "salt_basis")
        keys = [store._cache(blocking.apply_cap(k, plan, "salt_basis", "id"))
                for k in raw]

        def block_stats() -> dict:
            # Blocking quality per run, like the reference's blocking
            # logs (blocking_B1.py:92-127).
            stats = blocking.block_size_stats(
                reduce(DataFrame.unionByName, keys)
            ).collect()[0]
            return {"rows_in": int(stats["records_in_blocks"]),
                    "pair_count": int(stats["candidate_pairs"])}

        store._record("block_stats", block_stats)
        if len(keys) == 1:
            return blocking.candidate_pairs_self(keys[0])
        return blocking.candidate_pairs_cross(*keys)

    pairs = store._run_stage("pairs", build_pairs)
    # Right-hand ids resolve against the last source: for self-linkage
    # that is the one record table.
    scored = store._run_stage("score", lambda: _scored_features(
        scoring.compute_features_two(
            pairs, recs[0], recs[-1], cfg.comparator_config, "url"
        ),
        cfg, labeled_pairs,
    ))
    threshold_used = None

    def build_edges() -> DataFrame:
        nonlocal threshold_used
        edges, threshold_used = scoring.threshold_with_fallback(
            scored, cfg.score_threshold, cfg.fallback_threshold
        )
        return edges.select("id_l", "id_r", "score")

    edges = store._run_stage("edges", build_edges, counts=lambda out: {
        "pair_count": scored.count(), "match_count": out.count(),
    })
    if len(recs) == 2:
        return {"records_l": recs[0], "records_r": recs[1], "pairs": pairs,
                "scored": scored, "matches": edges,
                "threshold_used": threshold_used}
    records = recs[0]
    clusters = store._run_stage("cluster", lambda: clusters_from_edges(
        edges.select("id_l", "id_r"), records.select("url"), id_col="url"
    ))
    result = {"records": records, "pairs": pairs, "scored": scored,
              "edges": edges, "clusters": clusters}
    golden = _maybe_golden(records, clusters, cfg)
    if golden is not None:
        result["golden"] = golden
    return result


class _MemoryStore:
    """Stage store of the lazy in-memory DAG: every stage output and
    fan-out cache is persisted (materialized by the first consumer) and
    stays cached until ``release`` — the caller keeps using records,
    pairs and scored, so long-lived sessions running many pipelines
    call ``release`` once done with them."""

    def __init__(self) -> None:
        self.handles: list[DataFrame] = []

    def _run_stage(self, stage: str, build, counts=None) -> DataFrame:
        return self._cache(build())

    def _cache(self, df: DataFrame) -> DataFrame:
        self.handles.append(df.persist())
        return df

    def _record(self, stage: str, counts) -> None:
        pass

    def release(self) -> None:
        for h in self.handles:
            h.unpersist()


def run_in_memory(spark: SparkSession, pages: DataFrame,
                  cfg: "PipelineConfig | None" = None,
                  labeled_pairs: DataFrame | None = None) -> dict:
    """Compose the full linkage DAG lazily (no parquet stage
    boundaries) — for small inputs, smoke checks, and plan inspection.
    ``result["release"]()`` unpersists every cached stage."""
    cfg = cfg or PipelineConfig(workdir="/tmp/_unused", run_id="mem")
    store = _MemoryStore()
    return {**_link([pages], cfg, labeled_pairs, store), "release": store.release}


def link_sources(
    spark: SparkSession,
    pages_l: DataFrame,
    pages_r: DataFrame,
    cfg: "PipelineConfig | None" = None,
    labeled_pairs: DataFrame | None = None,
) -> dict:
    """Two-source record linkage — the reference's primary lifecycle
    (record_linkage.py:588-693: Craigslist × US Used Cars): blocking
    keys per source, cross-source candidate equi-join, feature scoring,
    threshold-with-fallback. Output is matched PAIRS (the reference
    emits pairs, not clusters, for two-source linkage:
    record_linkage.py:528-536)."""
    cfg = cfg or PipelineConfig(workdir="/tmp/_unused", run_id="link")
    store = _MemoryStore()
    return {**_link([pages_l, pages_r], cfg, labeled_pairs, store),
            "release": store.release}


class StagedPlan:
    """Shared stage plumbing for resumable, metrics-tracked pipelines:
    each stage materializes to the configured table format exactly once
    per run_id (resume skips completed stages via the metrics table's
    completion rows) and appends per-partition lineage. ``cfg`` must
    carry workdir / run_id / resume / table_format / iceberg_namespace;
    LinkagePipeline (ER) and plans.corpus_pipeline.CorpusPipeline (LLM
    corpus hygiene) both build on this."""

    def __init__(self, spark: SparkSession, cfg) -> None:
        self.spark = spark
        self.cfg = cfg
        self._fanout: list[DataFrame] = []
        # Stages with a completion row for run_id: read from the metrics
        # table on the first resumed stage, then kept current in memory.
        self._done: set[str] | None = None
        os.makedirs(cfg.workdir, exist_ok=True)

    # --- stage plumbing ------------------------------------------------

    def _stage_path(self, stage: str) -> str:
        if self.cfg.table_format == "iceberg":
            return f"{self.cfg.iceberg_namespace}.{self.cfg.run_id}_{stage}"
        return os.path.join(self.cfg.workdir, stage)

    def _write_stage(self, df: DataFrame, target: str) -> None:
        if self.cfg.table_format == "parquet":
            df.write.mode("overwrite").parquet(target)
        elif self.cfg.table_format == "iceberg":
            from idd_hw6_record_linkage_spark.sources.pages import iceberg_available

            if not iceberg_available(self.spark):
                raise RuntimeError(
                    "table_format='iceberg' needs the iceberg-spark runtime "
                    "jar + a catalog; submit with --packages org.apache."
                    "iceberg:iceberg-spark-runtime-4.0_2.13:<ver> or use "
                    "table_format='parquet'"
                )
            df.writeTo(target).createOrReplace()
        else:
            raise ValueError(f"unknown table_format: {self.cfg.table_format}")

    def _read_stage(self, target: str) -> DataFrame:
        if self.cfg.table_format == "iceberg":
            return self.spark.read.format("iceberg").load(target)
        return self.spark.read.parquet(target)

    def _run_stage(self, stage: str, build, counts=None) -> DataFrame:
        """Materialize a stage to the configured table format unless
        already completed for this run_id (resume). ``counts(out)``
        returns extra metrics for the completion row, computed only
        when the stage is built."""
        path = self._stage_path(stage)
        if self._completed(stage):
            return self._read_stage(path)
        try:
            self._write_stage(build(), path)
        finally:
            # The stage table is written: its fan-out caches are dead.
            for h in self._fanout:
                h.unpersist()
            self._fanout.clear()
        out = self._read_stage(path)
        self._append(stage, out, **(counts(out) if counts else {}))
        return out

    def _completed(self, stage: str) -> bool:
        """Resume only: whether ``stage`` already completed for run_id."""
        if not self.cfg.resume:
            return False
        if self._done is None:
            self._done = M.completed_stages(self.cfg.workdir, self.cfg.run_id)
        return stage in self._done

    def _append(self, stage: str, out: DataFrame | None, **metrics) -> None:
        M.append_stage_metrics(
            self.cfg.workdir, self.cfg.run_id, stage, out, **metrics
        )
        if self._done is not None:
            self._done.add(stage)

    def _cache(self, df: DataFrame) -> DataFrame:
        """Persist a fan-out point of the stage being built; released
        once that stage is written."""
        self._fanout.append(df.persist())
        return df

    def _record(self, stage: str, counts) -> None:
        """Completion-only metrics row (no stage table) from ``counts()``,
        unless a resumed run already holds one."""
        if not self._completed(stage):
            self._append(stage, None, **counts())


class LinkagePipeline(StagedPlan):
    def run(
        self,
        pages: DataFrame,
        labeled_pairs: DataFrame | None = None,
        expected_clusters: DataFrame | None = None,
    ) -> dict:
        result = _link([pages], self.cfg, labeled_pairs, self)
        if labeled_pairs is not None:
            # Label files may order each pair either way; candidate
            # pairs are id_l < id_r.
            truth_pos = canonical_pairs(
                labeled_pairs.where(F.col("label") == 1), "url_l", "url_r"
            )
            result["edge_prf1"] = precision_recall_f1(
                result["edges"].select("id_l", "id_r"), truth_pos
            )
            result["pairs_completeness"] = blocking.pairs_completeness(
                result["pairs"], truth_pos
            )
        if expected_clusters is not None:
            result["cluster_prf1"] = pairwise_cluster_f1(
                result["clusters"], expected_clusters
            )
        return result


def dedupe_pages(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    labeled_pairs: DataFrame | None = None,
    **cfg_kwargs,
) -> dict:
    """One-call flagship API: pages table in → clusters + metrics out.
    Pass ``scorer="lr"`` + ``labeled_pairs`` for the reference's
    train-LR-per-run lifecycle instead of the rule scorer."""
    cfg = PipelineConfig(workdir=workdir, **cfg_kwargs)
    return LinkagePipeline(spark, cfg).run(pages, labeled_pairs=labeled_pairs)
