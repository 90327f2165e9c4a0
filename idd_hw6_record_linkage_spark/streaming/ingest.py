"""Structured-Streaming ingest of the pages table.

The reference is batch-only (SURVEY §2.9: no streams anywhere), so
this is an *extension*: the same normalize + blocking-key stages run
incrementally over a file-source stream, with watermarked streaming
exact-dedup on url. Pattern: readStream → stateless normalize →
(stateful) dropDuplicatesWithinWatermark → writeStream; the batch and
streaming plans share the exact same expression code
(plans.pipeline.normalize_plan), which is the point — one logical
plan, two execution modes. The incremental-linkage seam goes all the
way to scores: build_key_index (static) → incremental_candidates /
incremental_scored (stream-static joins + the batch comparator
config) — new arrivals come out as scored match edges, same as the
batch path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking, scoring
from idd_hw6_record_linkage_spark.plans.pipeline import (
    PipelineConfig,
    block_keys_plan,
    normalize_plan,
)
from idd_hw6_record_linkage_spark.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def normalized_stream(pages_stream: DataFrame, watermark: str = "1 hour",
                      dedup_on: str = "url") -> DataFrame:
    """Incremental normalize + streaming exact-dedup: late re-crawls
    of the same page within the watermark are dropped.

    ``dedup_on="url"`` (default) dedups on the raw url.
    ``dedup_on="canonical"`` dedups on the canonical url (the
    streaming analogue of the batch ``collapse_recrawls`` stage:
    tracking-param / case / fragment re-crawl variants within the
    watermark collapse to the first arrival; the emitted rows carry
    the extra ``url_canonical`` column). Streaming state cannot do
    latest-wins reordering — arrival order decides, the batch
    operator remains the authority on replays."""
    out = normalize_plan(pages_stream)
    if dedup_on == "canonical":
        from idd_hw6_record_linkage_spark.functions.normalize import (
            canonical_url_expr,
        )

        out = out.withColumn("url_canonical", canonical_url_expr("url"))
        key = ["url_canonical"]
    elif dedup_on == "url":
        key = ["url"]
    else:
        raise ValueError(f"dedup_on must be 'url' or 'canonical': {dedup_on}")
    return out.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        key
    )


def block_keys_stream(pages_stream: DataFrame,
                      cfg: PipelineConfig | None = None) -> DataFrame:
    """Streaming blocking-key emission — feed
    :func:`incremental_candidates` for the stream-batch join against
    the historical key index."""
    cfg = cfg or PipelineConfig(workdir="/tmp/_unused_stream")
    records = normalize_plan(pages_stream)
    return block_keys_plan(records, cfg)


def build_key_index(records: DataFrame,
                    cfg: PipelineConfig | None = None,
                    ) -> tuple[DataFrame, DataFrame]:
    """Historical key index for incremental linkage: the batch corpus's
    blocking keys capped exactly as the batch path caps them (both
    tiers of :func:`blocking.cap_plan`).

    Returns ``(keys, plan)``. BOTH must be reused by the stream side:
    salting the sides from different cap plans (or not salting the
    stream side at all) silently drops candidates for exactly the hot
    keys the cap targets — the same invariant the one plan enforces
    for two-source batch linkage. Materialize both once
    (parquet/persist); they are static per index build."""
    cfg = cfg or PipelineConfig(workdir="/tmp/_unused_stream")
    raw = block_keys_plan(records, cfg)
    plan = blocking.cap_plan([raw], cfg.max_block_size, "salt_basis")
    return blocking.apply_cap(raw, plan, "salt_basis", "id"), plan


def _incremental_pairs(pages_stream: DataFrame, index_keys: DataFrame,
                       plan: DataFrame, cfg: PipelineConfig | None,
                       watermark: str | None, cols: Sequence[str] = ()) -> DataFrame:
    """The salted stream-static key join behind :func:`incremental_candidates`
    and :func:`incremental_scored`: ``(id_l, {c}_l…, id_r)`` per new
    (``id_l``) vs historical (``id_r``) pair sharing a key, deduped
    across triggers on ``(id_l, id_r)`` — exactly, or within
    ``watermark`` of the new record's ``warc_ts``."""
    cfg = cfg or PipelineConfig(workdir="/tmp/_unused_stream")
    wm = ["warc_ts"] if watermark is not None else []
    skeys = block_keys_plan(normalize_plan(pages_stream), cfg,
                            extra_cols=[*cols, *wm])
    skeys = blocking.apply_cap(skeys, plan, "salt_basis", "id")
    s = blocking.pair_side(skeys, "id", cols, ["block_key", *wm], "_l")
    h = blocking.pair_side(index_keys, "id", (), ["block_key"], "_r")
    pairs = (
        s.join(h, "block_key")
        .where(F.col("id_l") != F.col("id_r"))
        .drop("block_key")
    )
    if watermark is not None:
        return (
            pairs.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["id_l", "id_r"])
            .drop("warc_ts")
        )
    return pairs.dropDuplicates(["id_l", "id_r"])


def incremental_candidates(pages_stream: DataFrame,
                           index_keys: DataFrame,
                           plan: DataFrame,
                           cfg: PipelineConfig | None = None,
                           watermark: str | None = None) -> DataFrame:
    """Stream-batch join (the seam the batch-only reference lacks):
    each micro-batch's pages are normalized, keyed, salted with the
    SAME cap plan as the historical index, and equi-joined
    against the static index — emitting exactly the new-vs-historical
    candidate pairs ``(id_new, id_old)`` for downstream scoring.

    Cross-trigger pair-dedup state, two modes:

    - ``watermark=None`` (exact): global ``dropDuplicates`` — one row
      per pair ever emitted, but state grows with total emitted pairs.
      Only for bounded backfills (availableNow drains) or runs whose
      lifetime is one index epoch: compact the index and restart the
      query on re-index, which also resets state.
    - ``watermark='48 hours'`` (bounded, for always-on queries): the
      pair's event time is the NEW record's ``warc_ts`` (carried
      through the key table — joining it back later would be a
      stream-stream join), and ``dropDuplicatesWithinWatermark``
      drops state older than the watermark. Contract: a pair is
      deduped against arrivals whose event times fall within the
      watermark window; a re-crawl of the same url arriving later
      than the watermark re-emits its pairs (at-least-once beyond the
      horizon — downstream sinks treat (id_new, id_old) as the
      idempotency key). State is bounded by pairs-per-window instead
      of pairs-ever."""
    pairs = _incremental_pairs(pages_stream, index_keys, plan, cfg, watermark)
    return pairs.select(F.col("id_l").alias("id_new"), F.col("id_r").alias("id_old"))


def incremental_scored(pages_stream: DataFrame,
                       index_keys: DataFrame,
                       plan: DataFrame,
                       records: DataFrame,
                       cfg: PipelineConfig | None = None,
                       watermark: str | None = None) -> DataFrame:
    """The incremental path ended in MATCH SCORES, like the batch path:
    new-vs-historical candidates (same salted stream-batch join as
    :func:`incremental_candidates`) → the SAME comparator feature
    matrix + weighted scorer the batch pipeline uses → a streaming
    DataFrame of ``(id_l, id_r, <feature cols>, score)`` with id_l =
    the new record, id_r = the historical one. Threshold/sink at the
    call site (``scored.where(score >= cfg.score_threshold)``).

    Single-stream shape: the new side's comparator attributes ride the
    key table (``extra_cols``) because the pair table cannot be joined
    back to the micro-batch (stream-stream); the historical side's
    attributes come from the static ``records`` table (stream-static,
    fine). Scoring itself is map-only (native exprs + Arrow UDF), so
    the whole plan is one stateless stream-static join pipeline plus
    the optional watermarked dedup — the cluster shape at 100 TB is
    identical, with ``records``/``index_keys`` as bucketed static
    tables.

    ``watermark`` bounds cross-trigger pair-dedup state exactly as in
    :func:`incremental_candidates` (None = exact global dedup for
    bounded drains; a duration = bounded state, at-least-once beyond
    the horizon)."""
    cfg = cfg or PipelineConfig(workdir="/tmp/_unused_stream")
    cols = sorted({c.col for c in cfg.comparator_config.comparators})
    pairs = _incremental_pairs(pages_stream, index_keys, plan, cfg,
                               watermark, cols)
    hist = blocking.pair_side(records, "url", cols, (), "_r")
    feats = scoring.compute_features_enriched(pairs.join(hist, "id_r"),
                                              cfg.comparator_config)
    return scoring.score(feats, cfg.comparator_config)


def run_to_parquet(stream_df: DataFrame, out_path: str, checkpoint: str,
                   available_now: bool = True):
    """Materialize a streaming stage to parquet; availableNow drains
    everything currently in the source then stops (test/backfill mode)."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
