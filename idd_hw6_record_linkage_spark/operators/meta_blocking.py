"""Meta-blocking (Papadakis et al., TKDE 2014): restructure a redundant
blocking (schema-agnostic token blocking, where every record lands in
many blocks) into a *blocking graph* — one weighted edge per
co-occurring record pair — and prune low-weight edges before the
expensive comparison stage. On dirty web data this is the standard way
to keep token blocking's recall while discarding most of its
superfluous comparisons; the reference's equality blocking
(blocking_B1.py / blocking_B2.py) has no analogue, so this extends the
engine beyond it.

Pipeline shape and scale reasoning (everything is hash shuffles on
record ids / 8-byte-able keys; no step is quadratic in the corpus):

1. :func:`token_blocking` — explode distinct tokens; map-side only.
2. :func:`purge_blocks` — drop singleton blocks (no pairs) and blocks
   above ``max_block_size`` (block purging). This is the step that
   bounds the within-block self-join: after purging, the pair count is
   at most ``sum_b n_b^2 <= max_block_size * sum_b n_b``, i.e. linear
   in the key table with a constant-factor cap — the same role
   ``blocking.cap_blocks`` plays for equality blocking, except purging
   *drops* oversized blocks (meta-blocking's recall lives in the
   redundancy of the many remaining blocks) instead of splitting them.
3. :func:`blocking_graph` — within-block self-join (one shuffle on
   block_key) then a groupBy on the (id_l, id_r) pair (one shuffle).
   Weight schemes: CBS (#common blocks — integer, so every downstream
   mean is an exact sum of ints and engine-reproducible) and JS
   (Jaccard of the two records' block sets).
4. :func:`prune_wep` / :func:`prune_wnp` — weighted edge pruning
   (global mean threshold; one scalar aggregate, broadcast back) and
   weighted node pruning (per-node mean; the node-average table is
   corpus-sized, so it joins back by shuffle, never broadcast). WNP
   keeps an edge if at least one endpoint would keep it
   (w >= min(avg_l, avg_r)) — the original OR semantics.

Float determinism: CBS weights are exact ints, so avg() is an exact
integer sum divided by a count — bit-identical across engines; the
``rl_meta_blocking`` contract query therefore prunes on CBS and is
value-exact vs DuckDB. JS weights are ratios of exact ints (one exact
division) — also reproducible — but a *mean of many JS doubles* is
summation-order-dependent, so WEP/WNP over JS is covered by pytest
against a naive in-Python recomputation rather than a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking

__all__ = [
    "token_blocking",
    "purge_blocks",
    "rare_token_keys",
    "blocking_graph",
    "prune_wep",
    "prune_wnp",
]


def token_blocking(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_token_len: int = 4,
    max_chars: int | None = None,
) -> DataFrame:
    """Schema-agnostic token blocking: (id, block_key) with one row per
    DISTINCT whitespace token of ``text_col`` (optionally truncated to
    its first ``max_chars`` characters) of length >= ``min_token_len``.
    Tokens are taken verbatim (no case folding — callers wanting
    case-insensitive blocks lower the column first). NULL text yields
    no keys."""
    txt = F.col(text_col)
    if max_chars is not None:
        txt = F.substring(txt, 1, max_chars)
    tok = F.explode(
        F.array_distinct(F.split(F.trim(txt), r"\s+"))
    ).alias("block_key")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), tok)
        .where(F.length("block_key") >= min_token_len)
    )


def purge_blocks(
    keys: DataFrame,
    min_block_size: int = 2,
    max_block_size: int = 1000,
) -> DataFrame:
    """Block purging: keep only blocks whose size lies in
    [min_block_size, max_block_size]. Singletons generate no pairs;
    oversized blocks (stopword-like tokens at web scale) would
    dominate the quadratic self-join while contributing almost no
    matching evidence — meta-blocking drops them and relies on the
    remaining redundancy for recall."""
    sizes = keys.groupBy("block_key").agg(F.count("*").alias("__n"))
    return (
        keys.join(
            sizes.where(
                (F.col("__n") >= min_block_size)
                & (F.col("__n") <= max_block_size)
            ),
            "block_key",
        )
        .drop("__n")
    )


def rare_token_keys(keys: DataFrame, k: int = 2) -> DataFrame:
    """Rare-token blocking: keep each record's ``k`` rarest tokens (by
    corpus doc-frequency; token value breaks ties, so the selection is
    deterministic — tokens are distinct within a record). Returns
    (id, block_key, df).

    The alternative to :func:`purge_blocks` when recall must not
    depend on a hand-picked size cap: a stopword-like token has a huge
    df and is never among any record's k rarest, so it simply never
    becomes a key — and a surviving block on token t can hold at most
    df(t) records, which is small *by construction* (t was selected
    because its df is small). Block sizes are therefore self-bounding
    without dropping any record from the blocking entirely (purging
    can orphan a record whose every token is purged; here every record
    with >= 1 token keeps >= 1 key).

    Shuffles: one token-key aggregate (df), one token-keyed join of
    the key table against the df table (both sides sharded on the
    token — no broadcast of a vocab-sized side), one id-partitioned
    window whose groups are per-record distinct-token lists (bounded
    by document length, never corpus-sized)."""
    from pyspark.sql.window import Window

    freq = keys.groupBy("block_key").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy(
        F.col("df").asc(), F.col("block_key").asc()
    )
    return (
        keys.join(freq, "block_key")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select("id", "block_key", "df")
    )


def blocking_graph(keys: DataFrame, scheme: str = "cbs") -> DataFrame:
    """Weighted blocking graph (id_l, id_r, weight), id_l < id_r, one
    row per record pair co-occurring in >= 1 block.

    ``scheme="cbs"``: weight = number of common blocks (long).
    ``scheme="js"``:  weight = |Bl ∩ Br| / (|Bl| + |Br| - |Bl ∩ Br|)
    (double), where |Bi| is the record's block count *after purging*.
    """
    if scheme not in ("cbs", "js"):
        raise ValueError(f"unknown weight scheme: {scheme!r}")
    common = (
        blocking.self_pair_join(keys, "id")
        .groupBy("id_l", "id_r")
        .agg(F.count("*").cast("long").alias("__common"))
    )
    if scheme == "cbs":
        return common.select(
            "id_l", "id_r", F.col("__common").alias("weight")
        )
    per = keys.groupBy("id").agg(F.count("*").cast("long").alias("__nb"))
    return (
        blocking.attach_pair_attributes(common, per, ["__nb"], "id")
        .select(
            "id_l",
            "id_r",
            (
                F.col("__common")
                / (F.col("__nb_l") + F.col("__nb_r") - F.col("__common"))
                .cast("double")
            ).alias("weight"),
        )
    )


def prune_wep(edges: DataFrame) -> DataFrame:
    """Weighted edge pruning: keep edges with weight >= the global mean
    weight. The mean is a one-row aggregate crossed back in (broadcast
    of a scalar — never a corpus-sized build side)."""
    mean = edges.agg(F.avg("weight").alias("__mean"))
    return (
        edges.crossJoin(F.broadcast(mean))
        .where(F.col("weight") >= F.col("__mean"))
        .drop("__mean")
    )


def prune_wnp(edges: DataFrame) -> DataFrame:
    """Weighted node pruning (OR semantics): node i's local threshold
    is the mean weight of its incident edges; an edge survives if at
    least one endpoint keeps it, i.e. weight >= min(avg_l, avg_r).
    The per-node average table has one row per record — corpus-sized —
    so it joins back by shuffle on the id, deliberately NOT broadcast.

    ``edges`` is consumed three times (twice under the incidence union,
    once as the join probe), but its subtree ends in an identical
    aggregate Exchange, so Spark's exchange reuse executes the
    expensive within-block self-join ONCE (verified: the executed plan
    carries ReusedExchange nodes for every repeat). Callers composing
    further multi-consumer stages on top should still persist the
    pruned output rather than lean on reuse across *jobs*."""
    incid = edges.select(
        F.col("id_l").alias("node"), "weight"
    ).unionAll(edges.select(F.col("id_r").alias("node"), "weight"))
    avgs = incid.groupBy("node").agg(F.avg("weight").alias("__avg"))
    return (
        edges.join(
            avgs.withColumnsRenamed({"node": "id_l", "__avg": "__avg_l"}),
            "id_l",
        )
        .join(
            avgs.withColumnsRenamed({"node": "id_r", "__avg": "__avg_r"}),
            "id_r",
        )
        .where(
            F.col("weight") >= F.least(F.col("__avg_l"), F.col("__avg_r"))
        )
        .select("id_l", "id_r", "weight")
    )
