"""TF-IDF cosine (C7) vs a direct numpy computation; streaming ingest
parity with the batch plan."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators.term_vectors import tfidf_cosine_for_pairs


def _ref_tfidf_cosine(corpus: dict, id_l, id_r):
    """sklearn-convention tf-idf cosine (smooth idf, no l2 norm of idf)."""
    n = len(corpus)
    toks = {k: v.split() for k, v in corpus.items()}
    vocab = sorted({t for ts in toks.values() for t in ts})
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in vocab}
    idf = {t: math.log((n + 1) / (df[t] + 1)) + 1.0 for t in vocab}

    def vec(i):
        tf = {}
        for t in toks[i]:
            tf[t] = tf.get(t, 0) + 1
        return {t: c * idf[t] for t, c in tf.items()}

    a, b = vec(id_l), vec(id_r)
    dot = sum(a[t] * b.get(t, 0.0) for t in a)
    na = math.sqrt(sum(x * x for x in a.values()))
    nb = math.sqrt(sum(x * x for x in b.values()))
    return dot / (na * nb) if na and nb else 0.0


def test_tfidf_cosine_pairs(spark):
    corpus = {
        "a": "spark query engine for big data",
        "b": "spark query engine for small data",
        "c": "completely unrelated words here",
        "d": "spark spark spark",
    }
    # "e" is blank and "f" NULL: neither carries a term, so neither
    # counts toward df; "x" has no record at all
    records = spark.createDataFrame(
        [*corpus.items(), ("e", "   "), ("f", None)],
        "url string, text_clean string",
    )
    text_pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("c", "d")]
    edge_pairs = [("a", "e"), ("a", "f"), ("e", "f"), ("a", "x")]
    pairs = spark.createDataFrame(
        text_pairs + edge_pairs, "id_l string, id_r string"
    )
    got = {
        (r["id_l"], r["id_r"]): r["tfidf_cosine"]
        for r in tfidf_cosine_for_pairs(
            records, pairs, "url", "text_clean", n_docs=4
        ).collect()
    }
    assert set(got) == set(text_pairs + edge_pairs)
    for l, r in text_pairs:  # noqa: E741
        expect = _ref_tfidf_cosine(corpus, l, r)
        assert got[(l, r)] == pytest.approx(expect, abs=1e-9), (l, r)
    assert got[("a", "b")] > 0.5
    assert got[("c", "d")] == 0.0
    for p in edge_pairs:
        assert got[p] == 0.0, p


def test_streaming_ingest_matches_batch(spark, tmp_path):
    from idd_hw6_record_linkage_spark.sources.generator import generate_raw
    from idd_hw6_record_linkage_spark.plans.pipeline import normalize_plan
    from idd_hw6_record_linkage_spark.streaming import ingest

    raw = generate_raw(spark, 40, partitions=2)
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    stream = ingest.read_pages_stream(spark, src)
    q = ingest.run_to_parquet(
        ingest.normalized_stream(stream, watermark="10 minutes"), out, ckpt
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = normalize_plan(spark.read.parquet(src))
    assert got.count() == batch.count()
    assert set(got.columns) == set(batch.columns)
    # value parity on the invariant column
    g = got.select("url", "text_clean").exceptAll(batch.select("url", "text_clean"))
    assert g.count() == 0


def test_incremental_candidates_stream_batch_join(spark, tmp_path):
    """Stream-batch incremental linkage: new-file arrivals must produce
    EXACTLY the new-vs-historical cross candidates (same salted keys as
    a batch-side computation), and a checkpoint restart must be
    idempotent (no re-emitted pairs)."""
    from idd_hw6_record_linkage_spark.operators import blocking
    from idd_hw6_record_linkage_spark.plans.pipeline import (
        PipelineConfig,
        block_keys_plan,
        normalize_plan,
    )
    from idd_hw6_record_linkage_spark.sources.generator import generate_raw
    from idd_hw6_record_linkage_spark.streaming import ingest

    raw = generate_raw(spark, 60, partitions=2).cache()
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    hist = pages.where(F.xxhash64("url") % 3 != 0)
    new1 = pages.where((F.xxhash64("url") % 3 == 0) & (F.xxhash64("url") % 2 == 0))
    new2 = pages.where((F.xxhash64("url") % 3 == 0) & (F.xxhash64("url") % 2 != 0))
    cfg = PipelineConfig(workdir=str(tmp_path / "wd"), use_lsh=False)

    index_keys, big = ingest.build_key_index(normalize_plan(hist), cfg)
    index_keys = index_keys.cache()
    big = big.cache()

    def expected(new_pages):
        skeys = blocking.apply_cap(
            block_keys_plan(normalize_plan(new_pages), cfg), big, "salt_basis", "id",
        )
        out = (
            skeys.select(F.col("id").alias("id_new"), "block_key")
            .join(
                index_keys.select(F.col("id").alias("id_old"), "block_key"),
                "block_key",
            )
            .where(F.col("id_new") != F.col("id_old"))
            .select("id_new", "id_old")
            .distinct()
        )
        return {(r.id_new, r.id_old) for r in out.collect()}

    src = str(tmp_path / "new_src")
    out = str(tmp_path / "cand_out")
    ckpt = str(tmp_path / "ckpt")
    new1.coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = ingest.read_pages_stream(spark, src)
        cand = ingest.incremental_candidates(stream, index_keys, big, cfg)
        q = ingest.run_to_parquet(cand, out, ckpt)
        q.awaitTermination(120)
        return {(r.id_new, r.id_old) for r in spark.read.parquet(out).collect()}

    got1 = drain()
    exp1 = expected(new1)
    assert exp1, "fixture must produce cross candidates"
    assert got1 == exp1

    # restart with nothing new: idempotent, no re-emitted pairs
    assert drain() == exp1

    # second arrival: output grows by exactly new2's cross candidates
    new2.coalesce(1).write.mode("append").parquet(src)
    got2 = drain()
    assert got2 == exp1 | expected(new2)


def test_incremental_scored_matches_batch(spark, tmp_path):
    """The incremental path must end in SCORED edges equal to the
    batch path's scoring of the same new-vs-historical candidates:
    identical pairs AND identical feature-weighted scores."""
    from idd_hw6_record_linkage_spark.operators import blocking, scoring
    from idd_hw6_record_linkage_spark.plans.pipeline import (
        PipelineConfig,
        block_keys_plan,
        normalize_plan,
    )
    from idd_hw6_record_linkage_spark.sources.generator import generate_raw
    from idd_hw6_record_linkage_spark.streaming import ingest

    raw = generate_raw(spark, 60, partitions=2).cache()
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    hist = pages.where(F.xxhash64("url") % 3 != 0)
    new = pages.where(F.xxhash64("url") % 3 == 0)
    cfg = PipelineConfig(workdir=str(tmp_path / "wd"), use_lsh=False)

    hist_rec = normalize_plan(hist).cache()
    index_keys, big = ingest.build_key_index(hist_rec, cfg)
    index_keys = index_keys.cache()
    big = big.cache()

    # batch-side expectation: same salted keys -> cross pairs ->
    # compute_features_two (new side left, historical right) -> score
    skeys = blocking.apply_cap(
        block_keys_plan(normalize_plan(new), cfg), big, "salt_basis", "id",
    )
    pairs = (
        skeys.select(F.col("id").alias("id_l"), "block_key")
        .join(
            index_keys.select(F.col("id").alias("id_r"), "block_key"),
            "block_key",
        )
        .where(F.col("id_l") != F.col("id_r"))
        .select("id_l", "id_r")
        .distinct()
    )
    feats = scoring.compute_features_two(
        pairs, normalize_plan(new), hist_rec, cfg.comparator_config, "url"
    )
    exp = {
        (r.id_l, r.id_r): round(r.score, 9)
        for r in scoring.score(feats, cfg.comparator_config).collect()
    }
    assert exp, "fixture must produce scored cross pairs"

    src = str(tmp_path / "new_src")
    out = str(tmp_path / "scored_out")
    ckpt = str(tmp_path / "ckpt")
    new.coalesce(1).write.mode("append").parquet(src)
    stream = ingest.read_pages_stream(spark, src)
    scored = ingest.incremental_scored(stream, index_keys, big, hist_rec, cfg)
    q = ingest.run_to_parquet(
        scored.select("id_l", "id_r", "score"), out, ckpt
    )
    q.awaitTermination(120)
    got = {
        (r.id_l, r.id_r): round(r.score, 9)
        for r in spark.read.parquet(out).collect()
    }
    assert got == exp


def test_incremental_candidates_watermark_bounds_state(spark, tmp_path):
    """Watermarked pair-dedup mode: exact candidates for a bounded
    drain (in-window arrivals), with state scoped by the new-side
    event-time watermark instead of growing with pairs-ever (the
    documented contract for always-on queries)."""
    from idd_hw6_record_linkage_spark.operators import blocking
    from idd_hw6_record_linkage_spark.plans.pipeline import (
        PipelineConfig,
        block_keys_plan,
        normalize_plan,
    )
    from idd_hw6_record_linkage_spark.sources.generator import generate_raw
    from idd_hw6_record_linkage_spark.streaming import ingest

    raw = generate_raw(spark, 40, partitions=2).cache()
    pages = raw.select("url", "warc_ts", "html", "text", "lang")
    hist = pages.where(F.xxhash64("url") % 3 != 0)
    new = pages.where(F.xxhash64("url") % 3 == 0)
    cfg = PipelineConfig(workdir=str(tmp_path / "wd"), use_lsh=False)
    index_keys, big = ingest.build_key_index(normalize_plan(hist), cfg)
    index_keys = index_keys.cache()
    big = big.cache()

    skeys = blocking.apply_cap(
        block_keys_plan(normalize_plan(new), cfg), big, "salt_basis", "id",
    )
    exp_df = (
        skeys.select(F.col("id").alias("id_new"), "block_key")
        .join(
            index_keys.select(F.col("id").alias("id_old"), "block_key"),
            "block_key",
        )
        .where(F.col("id_new") != F.col("id_old"))
        .select("id_new", "id_old")
        .distinct()
    )
    exp = {(r.id_new, r.id_old) for r in exp_df.collect()}
    assert exp

    src = str(tmp_path / "new_src")
    out = str(tmp_path / "cand_out")
    ckpt = str(tmp_path / "ckpt")
    new.coalesce(1).write.mode("append").parquet(src)
    stream = ingest.read_pages_stream(spark, src)
    cand = ingest.incremental_candidates(
        stream, index_keys, big, cfg, watermark="48 hours"
    )
    q = ingest.run_to_parquet(cand, out, ckpt)
    q.awaitTermination(120)
    got = {(r.id_new, r.id_old) for r in spark.read.parquet(out).collect()}
    assert got == exp


def test_streaming_canonical_dedup(spark, tmp_path):
    """dedup_on='canonical': canonical-equal re-crawl variants inside
    the watermark collapse to one arrival; dedup_on='url' keeps both."""
    import datetime as dt

    from idd_hw6_record_linkage_spark.streaming import ingest

    T = dt.datetime
    rows = [
        ("https://a.com/p?utm_source=x", T(2024, 1, 1, 10, 0), b"<title>t</title>", "body one", "en"),
        ("https://a.com/p#frag", T(2024, 1, 1, 10, 1), b"<title>t</title>", "body one", "en"),
        ("https://a.com/q", T(2024, 1, 1, 10, 2), b"<title>u</title>", "body two", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    src = str(tmp_path / "src")
    pages.write.mode("overwrite").parquet(src)

    for mode, want in [("canonical", 2), ("url", 3)]:
        out = str(tmp_path / f"out_{mode}")
        ckpt = str(tmp_path / f"ckpt_{mode}")
        stream = ingest.read_pages_stream(spark, src)
        q = ingest.run_to_parquet(
            ingest.normalized_stream(stream, watermark="1 hour", dedup_on=mode),
            out, ckpt,
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() == want, mode
        if mode == "canonical":
            assert "url_canonical" in got.columns


def test_incremental_index_bounds_collapsed_hot_block(spark, tmp_path):
    """One mega-block whose 1,200 historical records share one salt
    basis (same domain, same title): content salting alone leaves it in
    one sub-block, so the index must take the cap's id tier too —
    largest block <= 4x cap — and the stream side must salt arrivals
    exactly as the batch applier does, so candidates stay exact."""
    import datetime as dt

    from idd_hw6_record_linkage_spark.operators import blocking
    from idd_hw6_record_linkage_spark.plans.pipeline import (
        PipelineConfig,
        block_keys_plan,
        normalize_plan,
    )
    from idd_hw6_record_linkage_spark.schema import PAGES_SCHEMA
    from idd_hw6_record_linkage_spark.streaming import ingest

    cap = 50
    ts = dt.datetime(2024, 1, 1)

    def pages(lo, hi):
        return spark.createDataFrame(
            [(f"https://hot.example/p{i}", ts, b"<title>Same Title</title>",
              f"body {i}", "en") for i in range(lo, hi)],
            PAGES_SCHEMA,
        )

    cfg = PipelineConfig(workdir=str(tmp_path / "wd"), use_lsh=False,
                         max_block_size=cap)
    index_keys, plan = ingest.build_key_index(normalize_plan(pages(0, 1200)), cfg)
    index_keys = index_keys.cache()
    plan = plan.cache()
    sizes = index_keys.groupBy("block_key").count()
    assert sizes.agg(F.sum("count")).first()[0] == 2 * 1200  # b1 + b2, no row lost
    assert sizes.agg(F.max("count")).first()[0] <= 4 * cap

    new = pages(1200, 1230)
    batch = blocking.apply_cap(block_keys_plan(normalize_plan(new), cfg), plan,
                               "salt_basis", "id")
    src = str(tmp_path / "new_src")
    new.coalesce(1).write.parquet(src)

    # stream-side salted keys == the batch applier's, row for row
    keys_out = str(tmp_path / "keys_out")
    stream_keys = blocking.apply_cap(
        ingest.block_keys_stream(ingest.read_pages_stream(spark, src), cfg),
        plan, "salt_basis", "id",
    )
    q = ingest.run_to_parquet(stream_keys.select("id", "block_key", "pass"),
                              keys_out, str(tmp_path / "ckpt_keys"))
    assert q.awaitTermination(120)
    got_keys = sorted(tuple(r) for r in spark.read.parquet(keys_out).collect())
    assert got_keys == sorted(tuple(r) for r in batch.select("id", "block_key", "pass").collect())
    assert all("#" in k for _, k, _ in got_keys)

    # candidates: exactly the batch-salted keys joined to the index
    exp = {
        (r.id_l, r.id_r)
        for r in blocking.cross_pair_join(batch, index_keys, "id")
        .select("id_l", "id_r").distinct().collect()
    }
    assert exp
    out = str(tmp_path / "cand_out")
    cand = ingest.incremental_candidates(ingest.read_pages_stream(spark, src),
                                         index_keys, plan, cfg)
    q = ingest.run_to_parquet(cand, out, str(tmp_path / "ckpt_cand"))
    assert q.awaitTermination(120)
    got = {(r.id_new, r.id_old) for r in spark.read.parquet(out).collect()}
    assert got == exp
    # each arrival meets at most one capped block per pass
    per_new = spark.read.parquet(out).groupBy("id_new").count()
    assert per_new.agg(F.max("count")).first()[0] <= 2 * 4 * cap
