"""Deterministic corpus sampling / mixing and token-budget shard
packing — the last mile of a training-data pipeline: decide *which*
cleaned documents enter the mix (per-source rates) and *where* each
lands (fixed-token-budget shards), reproducibly across reruns and
engines.

Why not ``DataFrame.sample``: its Bernoulli draw depends on partition
layout and seed plumbing, so adding one input file changes everyone's
fate. Hashing the document key instead gives a sample that is (a)
stable row-by-row under repartitioning, scale-out, and incremental
appends, (b) recomputable by any engine (md5 basis), and (c) nestable —
a 10% sample of a 50% sample is the same set as sampling at 5% with
the same key, because fate = hash(key) is fixed per row.

Scale shape: ``sample_corpus`` is map-only (no shuffle — the rate
lookup broadcasts). ``pack_shards`` needs a global order; it windows a
running token sum per mix source (one shuffle, ordered by the hash
fate so shard fill is key-uniform) and floor-divides by the budget —
no driver-side loop, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hash_fate",
    "sample_corpus",
    "pack_shards",
    "temperature_rates",
    "sample_temperature",
]

def hash_fate(key: F.Column, salt: str = "") -> F.Column:
    """Uniform fate in [0, 1): first 60 bits of md5(salt || key) over
    2^60 — engine-reproducible (DuckDB:
    ``('0x' || substr(md5(salt || key), 1, 15))::BIGINT / 2^60``).
    ``salt`` decorrelates independent sampling decisions on the same
    key (e.g. the eval holdout draw vs the mix draw)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h / F.lit(float(2**60))


def sample_corpus(
    df: DataFrame,
    key_col: str,
    rates: dict[str, float],
    source_col: str = "source",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Keep each row iff hash_fate(key) < rate(source): a deterministic
    per-source mix (e.g. {"web": 0.5, "wiki": 1.0, "forum": 0.1}).
    Unlisted sources get ``default_rate``; so does a NULL source.
    NULL-key rows are dropped (a NULL identity has no stable fate)."""
    for s, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for {s!r} out of [0,1]: {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate out of [0,1]: {default_rate}")
    rate = F.lit(float(default_rate))
    for s, r in rates.items():
        rate = F.when(F.col(source_col) == s, F.lit(float(r))).otherwise(rate)
    fate = hash_fate(F.col(key_col), salt=salt)
    out = df.where(F.col(key_col).isNotNull()).withColumn(
        "sample_fate", fate
    )
    return out.where(F.col("sample_fate") < rate)


def pack_shards(
    df: DataFrame,
    key_col: str,
    token_count_col: str,
    tokens_per_shard: int,
    salt: str = "",
) -> DataFrame:
    """Assign every document a shard id such that each shard holds
    ~``tokens_per_shard`` tokens: order documents by their hash fate
    (uniform, deterministic — no hot leading shard), take a running
    token sum, floor-divide the *exclusive* prefix by the budget. A
    document never splits; a shard overshoots by at most one document.

    Output adds (shard_id, shard_pos): shard_pos is the document's
    token offset within its shard.

    The global running sum is NOT a single unpartitioned window (that
    serializes the corpus through one task). Two-pass distributed
    prefix sum instead: (1) bucket rows by the leading bits of their
    fate (``n_buckets`` ranges of the uniform fate space); per-bucket
    token totals — ``n_buckets`` rows — come to the driver once,
    cumulate into per-bucket start offsets, and broadcast back;
    (2) a window partitioned BY bucket (parallel, skew-free because
    fate is uniform) adds the within-bucket prefix. Identical result
    to the global window, provably: (bucket, fate, key) ordering is
    the global (fate, key) ordering."""
    if tokens_per_shard <= 0:
        raise ValueError(f"tokens_per_shard must be positive: {tokens_per_shard}")
    n_buckets = 1024
    fate = hash_fate(F.col(key_col), salt=salt)
    base = (
        df.where(F.col(key_col).isNotNull())
        .withColumn("__fate", fate)
        .withColumn(
            "__bucket",
            F.least(
                F.floor(F.col("__fate") * n_buckets).cast("long"),
                F.lit(n_buckets - 1),
            ),
        )
    )
    totals = (
        base.groupBy("__bucket")
        .agg(F.sum(F.col(token_count_col).cast("long")).alias("__btok"))
        .orderBy("__bucket")
        .collect()
    )
    offsets, run = {}, 0
    for r in totals:
        offsets[r["__bucket"]] = run
        run += r["__btok"]
    off_df = base.sparkSession.createDataFrame(
        [(b, o) for b, o in offsets.items()], "__bucket long, __boff long"
    )
    w = Window.partitionBy("__bucket").orderBy("__fate", key_col)
    out = (
        base.join(F.broadcast(off_df), "__bucket")
        .withColumn(
            "__cum",
            F.col("__boff")
            + F.sum(F.col(token_count_col).cast("long")).over(w),
        )
        .withColumn(
            "__before", F.col("__cum") - F.col(token_count_col).cast("long")
        )
        .withColumn(
            "shard_id",
            F.floor(F.col("__before") / F.lit(int(tokens_per_shard))).cast(
                "long"
            ),
        )
        .withColumn(
            "shard_pos",
            (
                F.col("__before")
                - F.col("shard_id") * F.lit(int(tokens_per_shard))
            ).cast("long"),
        )
    )
    return out.drop("__fate", "__bucket", "__boff", "__cum", "__before")


def temperature_rates(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.5,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-source temperature-mixing rates: (source, w, p, rate).

    The multilingual / data-mixing standard (temperature sampling, as
    in mT5 / massively-multilingual NMT): flatten the natural source
    distribution p_s toward uniform by sampling proportionally to
    p_s^alpha (alpha is the exponent — often written 1/T or tau;
    alpha=1 keeps the natural mix, alpha=0 is uniform-over-sources).
    The target share is q_s = p_s^alpha / sum p^alpha; the per-row
    keep-rate is the share lift m_s = q_s / p_s scaled so the most
    up-weighted source keeps everything: rate_s = m_s / max m — i.e.
    temperature mixing by pure DOWN-sampling, never duplication.

    ``weight_col`` weights sources by a column sum (e.g. token
    counts) instead of row counts. NULL sources are excluded (no
    stable identity to mix on). All the heavy lifting is one hash
    aggregate on the source key; the rate table is sources-sized and
    every subsequent normalization is an aggregate over it — the
    division ORDER ((q/qsum)/p, then m/maxm) is pinned so any SQL
    engine replays the identical IEEE values.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0: {alpha}")
    d = df.where(F.col(source_col).isNotNull())
    wexpr = (
        F.count(F.lit(1)).cast("long")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )
    w = d.groupBy(F.col(source_col).alias("source")).agg(wexpr.alias("w"))
    # A zero/NULL-weight source (possible with weight_col, e.g. all-NULL
    # token counts) would make p=0, qr=0, m = (0/qsum)/0 = NaN — and
    # Spark's max() sorts NaN above every double, so mmax would be NaN
    # and every rate NaN; the downstream fate < rate filter then keeps
    # EVERYTHING (NaN comparisons), silently turning the temperature
    # sample into a no-op. Drop degenerate sources up front: a source
    # with no measurable weight has no defined share in the mix.
    w = w.where(F.col("w") > 0)
    tot = w.agg(F.sum("w").cast("long").alias("tot"))
    p = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        (F.col("w").cast("double") / F.col("tot").cast("double")).alias("p"),
    )
    q = p.withColumn("qr", F.pow(F.col("p"), F.lit(float(alpha))))
    qsum = q.agg(F.sum("qr").alias("qsum"))
    m = q.crossJoin(F.broadcast(qsum)).select(
        "source",
        "w",
        "p",
        ((F.col("qr") / F.col("qsum")) / F.col("p")).alias("m"),
    )
    mm = m.agg(F.max("m").alias("mmax"))
    return m.crossJoin(F.broadcast(mm)).select(
        "source",
        "w",
        "p",
        (F.col("m") / F.col("mmax")).alias("rate"),
    )


def sample_temperature(
    df: DataFrame,
    key_col: str,
    source_col: str = "source",
    alpha: float = 0.5,
    weight_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministically keep each row iff hash_fate(key) < the
    temperature rate of its source (:func:`temperature_rates`): the
    row-level temperature-mixing sample, with the same md5-fate
    stability guarantees as :func:`sample_corpus` (repartition-proof,
    engine-reproducible, nestable). Adds (n_src, p_src, rate) for
    audit. NULL keys and NULL sources are dropped."""
    rates = temperature_rates(df, source_col, alpha, weight_col)
    fate = hash_fate(F.col(key_col), salt=salt)
    return (
        df.where(F.col(key_col).isNotNull())
        .join(
            F.broadcast(
                rates.select(
                    F.col("source").alias(source_col),
                    F.col("w").alias("n_src"),
                    F.col("p").alias("p_src"),
                    "rate",
                )
            ),
            source_col,
        )
        .where(fate < F.col("rate"))
    )
