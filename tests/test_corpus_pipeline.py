"""Staged corpus-hygiene pipeline (plans.corpus_pipeline): every stage
exercises its planted structure end-to-end, the metrics table carries
completion + lineage rows per stage, and resume=True reruns skip every
completed stage while reproducing the same corpus."""

from __future__ import annotations

import datetime
import sys

import pytest

from idd_hw6_record_linkage_spark.plans.corpus_pipeline import clean_corpus

TS = datetime.datetime(2020, 1, 1)
TS2 = datetime.datetime(2021, 6, 1)

BANNER = "subscribe to our newsletter for the best updates every week"
BODY_A = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while the sun sets slowly behind old hills"
)
BODY_B = (
    "a completely different story about the sea and the ships that "
    "sailed beyond the horizon during the long calm summer evenings"
)
BODY_C = (
    "yet another page where the author describes the mountain trail "
    "and the small wooden cabin they found after the storm passed"
)
PII_BODY = (
    "please contact the editor at john.doe@example.com with the "
    "corrections before the deadline set for the next weekly issue"
)


def _docs(spark):
    rows = [
        # u1 recrawled: tracking-param variant, OLDER ts — must collapse
        # into u1's latest crawl.
        ("https://a.com/p1?utm_source=x", TS, "web", BANNER + "\n" + BODY_A),
        ("https://a.com/p1", TS2, "web", BANNER + "\n" + BODY_A),
        # u2 shares the banner line (boilerplate df = 3 with u1 + u6).
        ("https://a.com/p2", TS, "web", BANNER + "\n" + BODY_B),
        # u3: exact duplicate of u2's post-strip body -> exact dedup.
        ("https://a.com/p3", TS, "web", BODY_B),
        # u4: unique body with an email (PII).
        ("https://b.com/p4", TS, "wiki", PII_BODY),
        # u5: too short -> quality reject.
        ("https://b.com/p5", TS, "wiki", "tiny page"),
        # u6: unique clean body, also carrying the banner (so the
        # banner's doc freq is 3: u1 + u2 + u6 — min_docs=3 strips it
        # while the u2/u3 shared body at df=2 survives the strip and
        # feeds exact dedup instead).
        ("https://c.com/p6", TS, "forum", BANNER + "\n" + BODY_C),
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, source string, text string"
    )


@pytest.fixture()
def result(spark, tmp_path):
    return clean_corpus(
        spark,
        _docs(spark),
        workdir=str(tmp_path / "wd"),
        boilerplate_min_docs=3,
        sample_rates={"web": 1.0, "wiki": 1.0, "forum": 1.0},
        tokens_per_shard=30,
    )


def test_every_stage_planted_effect(result):
    # collapse: 7 rows -> 6 (the utm recrawl folds into the newer u1).
    assert result["collapsed"].count() == 6
    kept_u1 = result["collapsed"].where("url = 'https://a.com/p1'").collect()
    assert len(kept_u1) == 1 and kept_u1[0]["warc_ts"] == TS2

    # boilerplate: the banner line (df=3 via u1+u2+u6) is stripped.
    texts = {
        r.url: r.text for r in result["stripped"].select("url", "text").collect()
    }
    assert texts["https://a.com/p1"] == BODY_A
    assert texts["https://a.com/p2"] == BODY_B
    assert texts["https://c.com/p6"] == BODY_C  # banner gone, body kept

    # quality: the too-short page is gone, everything else kept.
    kept_urls = {r.url for r in result["kept"].select("url").collect()}
    assert "https://b.com/p5" not in kept_urls and len(kept_urls) == 5

    # pii: the email is tokenized, surrounding text intact.
    red = {
        r.url: r.text for r in result["redacted"].select("url", "text").collect()
    }
    assert "<EMAIL>" in red["https://b.com/p4"]
    assert "@" not in red["https://b.com/p4"]

    # dedup (exact, post-strip): u2 and u3 now carry identical BODY_B;
    # the min-url representative u2 survives.
    final_urls = {r.url for r in result["deduped"].select("url").collect()}
    assert "https://a.com/p3" not in final_urls
    assert "https://a.com/p2" in final_urls and len(final_urls) == 4

    # sample: all-1.0 rates keep everything (deterministic, no fate col).
    assert result["sampled"].count() == 4
    assert "sample_fate" not in result["sampled"].columns

    # pack: every doc sharded; per-shard token load <= budget + one doc.
    packed = result["corpus"].select("url", "n_tokens", "shard_id").collect()
    assert len(packed) == 4 and all(r.shard_id >= 0 for r in packed)
    loads: dict[int, int] = {}
    for r in packed:
        loads[r.shard_id] = loads.get(r.shard_id, 0) + r.n_tokens
    # exclusive-prefix packing: a shard only overshoots by its last doc
    assert all(
        load < 30 + max(r.n_tokens for r in packed) for load in loads.values()
    )


def test_metrics_rows_per_stage(result):
    m = result["metrics"]
    stages = {
        r.stage
        for r in m.where("partition_id = -1").select("stage").collect()
    }
    assert {"collapse", "boilerplate", "quality", "pii", "dedup",
            "sample", "pack"} <= stages
    # per-partition lineage exists for at least the final stage
    assert m.where("stage = 'pack' AND partition_id >= 0").count() >= 1


def test_resume_skips_and_reproduces(spark, tmp_path, monkeypatch):
    wd = str(tmp_path / "wd2")
    kw = dict(
        boilerplate_min_docs=3,
        sample_rates={"web": 1.0, "wiki": 1.0, "forum": 1.0},
        tokens_per_shard=30,
    )
    first = clean_corpus(spark, _docs(spark), workdir=wd, **kw)
    rows1 = sorted(
        (r.url, r.text, r.shard_id)
        for r in first["corpus"].select("url", "text", "shard_id").collect()
    )
    metrics1 = first["metrics"].collect()
    # quality/dedup record their input size on the completion row
    rows_in = {r.stage: r.rows_in for r in metrics1 if r.partition_id == -1}
    assert rows_in["quality"] == first["stripped"].count()
    assert rows_in["dedup"] == first["redacted"].count()

    # a resumed stage is only read back: the pipeline starts no count
    # job of its own (rows_in is computed when a stage is built)
    pipeline_counts = []
    df_cls = type(first["corpus"])
    real_count = df_cls.count

    def spy_count(self):
        caller = sys._getframe(1).f_code.co_filename
        if caller.endswith("corpus_pipeline.py"):
            pipeline_counts.append(caller)
        return real_count(self)

    monkeypatch.setattr(df_cls, "count", spy_count)
    second = clean_corpus(
        spark, _docs(spark), workdir=wd, resume=True, **kw
    )
    monkeypatch.undo()
    assert pipeline_counts == []
    rows2 = sorted(
        (r.url, r.text, r.shard_id)
        for r in second["corpus"].select("url", "text", "shard_id").collect()
    )
    assert rows1 == rows2
    # every stage was skipped: no new completion/lineage rows appended,
    # and the rows already there are unchanged
    assert sorted(second["metrics"].collect()) == sorted(metrics1)


def test_minhash_mode_collapses_near_dups(spark, tmp_path):
    near_a = BODY_A
    near_b = BODY_A.replace("slowly", "gently")  # near-dup of near_a
    rows = [
        ("u1", TS, "web", near_a),
        ("u2", TS, "web", near_b),
        ("u3", TS, "web", BODY_B),
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, source string, text string"
    )
    res = clean_corpus(
        spark,
        docs,
        workdir=str(tmp_path / "wd3"),
        collapse_recrawls=False,
        redact_pii=False,
        quality_filter=False,
        dedup="minhash",
        minhash_kwargs={"threshold": 0.5},
    )
    urls = {r.url for r in res["corpus"].select("url").collect()}
    assert urls == {"u1", "u3"}  # u2 folded into min-id rep u1


def test_bad_dedup_mode_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="dedup"):
        clean_corpus(
            spark, _docs(spark), workdir=str(tmp_path / "x"), dedup="fuzzy"
        )
