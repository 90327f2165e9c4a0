"""Blocking: key tables, skew-safe candidate-pair generation, stats.

The reference builds ``dict {block_key: [row indices]}`` in Python
loops and takes within-key Cartesian products (blocking_B1.py:79-89,
130-154). Here a blocking pass is a :func:`key_table` — ``(id,
block_key[, salt_basis][, extras], pass)`` rows, the one layout the cap
and the pair join read. Its builders are the flagship's b1/b2 passes
(``plans.pipeline``, which the streaming key index reuses), the MinHash
band keys (``minhash.lsh_key_table``, also the flagship's LSH pass), the
n-gram, SimHash and hyperplane near-dup keys (``operators.dedup``), the
reference pipeline's strategies and the contract queries' b1 keys;
meta-blocking's token blocks keep their own
``(id, block_key)`` table, read by meta-blocking only. Candidate
generation is an equi-join on ``block_key``
(:func:`self_pair_join` / :func:`cross_pair_join`, the one pair join
every blocked comparator uses) — the within-block Cartesian product is
exactly the join output, shuffle-partitioned with AQE skew splitting.
Pair attributes come back by id through :func:`attach_pair_attributes`,
so this module alone knows the pair layout ``id_l, {c}_l…, id_r,
{c}_r…``. Beyond the blocked comparators, its users are canopy's
record ↔ center token overlap (``operators.canopy``), the corpus-weighted
comparators' shared-term join and per-record totals
(``operators.term_vectors``, sides from :func:`pair_side`) and the
streaming stream-static key join (``streaming.ingest``).

Skew controls (SURVEY §4 — absent in the reference, mandatory at web
scale where mega-domains create hot keys):

- **block-size cap**: blocks larger than ``max_block_size`` are split
  deterministically into sub-blocks by ``pmod(xxhash64(basis), n_sub)``
  — a content basis first, then the record id for sub-blocks still over
  4x the cap. This bounds the quadratic pair blowup per key. The cap
  changes the candidate set (documented, deterministic, recorded in
  stats). This module alone owns it: :func:`cap_plan` sizes the blocks
  into one ``(block_key, n_sub, tier)`` plan and :func:`apply_cap`
  salts any key table with it, given that table's content and id
  basis. Its three users are the linkage/dedup key tables
  (:func:`cap_blocks`, ``plans.pipeline``), the ANN corpus and query
  buckets (``operators.ann``) and the streaming key index and its
  arrivals (``streaming.ingest``).
- **block purge**: :func:`purge_blocks` drops every block whose size
  lies outside ``[min_size, max_size]`` — the cap's other policy, for
  redundant key families where a hot key (a stopword token, a common
  q-gram or suffix) carries no blocking information and other keys
  keep the recall. Its users are q-gram and suffix blocking, canopy
  tokens and meta-blocking's token blocks.
- **AQE skew-join** handles residual imbalance at runtime.

Both policies size blocks through :func:`block_sizes`, the one
``(key, n)`` aggregate (also behind :func:`block_size_stats`) — the
reference's block-size logging (blocking_B1.py:92-127) as a table.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_table(df: DataFrame, id_col: str, key_expr: Column, pass_name: str,
              salt_basis: Column | None = None,
              extra_cols: list[str] | None = None) -> DataFrame:
    """(id, block_key, pass[, salt_basis][, *extra_cols]) rows; null
    keys dropped (blocking_B1.py:85). ``salt_basis`` is an optional
    content-derived column consumed by :func:`cap_blocks`.
    ``extra_cols`` are passed through verbatim — the streaming
    incremental path uses this to carry the event-time column (for the
    watermarked pair dedup) and the new-side comparator attributes
    (joining them back later would be a stream-stream join)."""
    cols = [F.col(id_col).alias("id"), key_expr.alias("block_key")]
    if salt_basis is not None:
        cols.append(salt_basis.alias("salt_basis"))
    cols.extend(F.col(c) for c in (extra_cols or []))
    keys = df.select(*cols).where(F.col("block_key").isNotNull())
    return keys.withColumn("pass", F.lit(pass_name))


def block_sizes(keys: DataFrame, on: str) -> DataFrame:
    """``(on, n)``: one row per block key of ``keys`` with its size."""
    return keys.groupBy(on).agg(F.count("*").alias("n"))


def purge_blocks(keys: DataFrame, on: str, *, max_size: int,
                 min_size: int | None = None) -> DataFrame:
    """``keys`` without the blocks (keyed by ``on``) over ``max_size``
    rows or, given ``min_size``, under it; ``on`` leads the output. A
    kept block self-joins to at most C(max_size, 2) pairs; pairs of a
    dropped key survive only through another shared key."""
    n = F.col("n")
    keep = n <= max_size if min_size is None else n.between(min_size, max_size)
    return keys.join(block_sizes(keys, on).where(keep).select(on), on)


def _oversized(tables: Sequence[DataFrame], threshold: int, target: int) -> DataFrame:
    """Blocks of the union of the key tables with n > threshold, each
    with n_sub = ceil(n / target)."""
    keys = reduce(DataFrame.unionAll, [t.select("block_key") for t in tables])
    return block_sizes(keys, "block_key").where(F.col("n") > threshold).select(
        "block_key", F.ceil(F.col("n") / target).cast("int").alias("n_sub"),
    )


def _salted_key(basis: Column | str) -> Column:
    """key#pmod(xxhash64(basis), n_sub) where a plan row matched, else key."""
    return F.when(
        F.col("n_sub").isNotNull(),
        F.concat_ws("#", "block_key", F.pmod(F.xxhash64(basis), F.col("n_sub")).cast("string")),
    ).otherwise(F.col("block_key"))


def cap_plan(tables: Sequence[DataFrame], max_block_size: int,
             basis: Column | str | None) -> DataFrame:
    """The block-size cap plan ``(block_key, n_sub, tier)``, sized over
    ``tables`` only: tier 1 lists the blocks over ``max_block_size``;
    tier 2 lists the tier-1 sub-blocks (salted by ``basis``, a content
    column of the sizing tables) still over 4x the cap. ``basis=None``
    salts by record id in one tier (id is already max-entropy).

    One plan serves every key table whose keys must meet in a join —
    both linkage sources, ANN corpus and queries, the streaming index
    and its arrivals: capping them from different lists would salt a
    hot key on one side only and silently drop its candidates. See
    :func:`cap_blocks` for why two tiers."""
    tier1 = _oversized(tables, max_block_size, max_block_size)
    plan = tier1.withColumn("tier", F.lit(1))
    if basis is None:
        return plan
    salted = [t.join(F.broadcast(tier1), "block_key")
              .withColumn("block_key", _salted_key(basis)) for t in tables]
    tier2 = _oversized(salted, 4 * max_block_size, max_block_size)
    return plan.unionByName(tier2.withColumn("tier", F.lit(2)))


def apply_cap(keys: DataFrame, plan: DataFrame, basis: Column | str,
              id_basis: Column | str) -> DataFrame:
    """Salt ``keys`` with a :func:`cap_plan`: tier-1 blocks become
    ``key#pmod(xxhash64(basis), n_sub)``, then tier-2 sub-blocks
    ``…#pmod(xxhash64(id_basis), n_sub)``. ``basis``/``id_basis`` are
    this table's content and id columns (the sizing tables' own, or the
    matching columns of a table probed against them). Across tables,
    ids land in arbitrary tier-2 sub-blocks: a collapsed block trades
    cross-table recall for the hard quadratic bound. Each tier is a
    left join against the broadcast plan rows, so keys outside the plan
    take the fast path untouched."""
    for tier, b in ((1, basis), (2, id_basis)):
        subs = plan.where(F.col("tier") == tier).drop("tier")
        keys = (keys.join(F.broadcast(subs), "block_key", "left")
                .withColumn("block_key", _salted_key(b)).drop("n_sub"))
    return keys


def cap_blocks(keys: DataFrame, max_block_size: int,
               salt_col: str | None = None) -> DataFrame:
    """Deterministically split oversized blocks into ~max_block_size
    sub-blocks: key -> key#salt with salt = pmod(xxhash64(basis), n_sub)
    (:func:`cap_plan` over ``keys``, then :func:`apply_cap`).

    ``salt_col`` is the *salt basis*: when it is a content-derived
    column (e.g. a title-prefix), records with similar content land in
    the same sub-block, so the cap costs almost no recall — true
    duplicate pairs stay co-located. Without it the basis falls back to
    the record id, which splits duplicate pairs across sub-blocks
    (recall loss inside oversized blocks; other blocking passes must
    recover those pairs).

    Content-derived salting has a failure mode: if every record in an
    oversized block shares one basis value (empty titles coalescing to
    the same prefix), the whole block lands in a single sub-block and
    the cap is defeated. A second, id-based tier catches that: sizes of
    the *salted* sub-blocks are re-checked, and any at more than 4x the
    cap are split by record id — a guaranteed-entropy basis — accepting
    the documented recall loss inside those blocks in exchange for a
    hard quadratic bound. The 4x slack separates ordinary content
    clustering (a slot collecting a few coarse bases) from genuine
    collapse (the whole block in one slot overshoots by ~n_sub x):
    residual sub-blocks are bounded by 4x cap, never by the data.
    """
    plan = cap_plan([keys], max_block_size, salt_col)
    return apply_cap(keys, plan, salt_col or "id", "id")


def pair_side(df: DataFrame, id_col: str, cols, on, sfx: str) -> DataFrame:
    """One side of a pair table: ``id{sfx}``, ``{c}{sfx}`` per carried
    column, then the key(s) — for joins the builders below do not cover
    (a pair table joined to per-record terms, the streaming
    stream-static key join)."""
    return df.select(F.col(id_col).alias("id" + sfx),
                     *(F.col(c).alias(c + sfx) for c in cols), *on)


def cross_pair_join(left: DataFrame, right: DataFrame, id_col: str,
                    cols: Sequence[str] = (),
                    on: str | list[str] = "block_key") -> DataFrame:
    """Equi-join on ``on`` (a column or a list) → ``on``, ``id_l, {c}_l…, id_r,
    {c}_r…``: NULL keys never match, one row per shared key, no id order."""
    on = [on] if isinstance(on, str) else list(on)
    return pair_side(left, id_col, cols, on, "_l").join(
        pair_side(right, id_col, cols, on, "_r"), on)


def self_pair_join(df: DataFrame, id_col: str, cols: Sequence[str] = (),
                   on: str | list[str] = "block_key") -> DataFrame:
    """Within-block pairs (J3 in SURVEY §2.4): :func:`cross_pair_join`
    of ``df`` with itself in canonical order id_l < id_r."""
    return cross_pair_join(df, df, id_col, cols, on).where(F.col("id_l") < F.col("id_r"))


def attach_pair_attributes(pairs: DataFrame, records: DataFrame,
                           cols: Sequence[str], id_col: str = "url",
                           records_r: DataFrame | None = None,
                           how: str = "inner") -> DataFrame:
    """pairs(id_l, id_r, …) ⋈ records twice (J5 lookup join in SURVEY
    §2.4) → the pair rows plus ``{c}_l…`` then ``{c}_r…``: left ids
    resolve against ``records``, right ids against ``records_r``
    (default ``records``). ``how="inner"`` drops a pair whose id has no
    record row; ``how="left"`` keeps it with NULL attributes."""
    left = pair_side(records, id_col, cols, (), "_l")
    right = pair_side(records if records_r is None else records_r, id_col, cols, (), "_r")
    return pairs.join(left, "id_l", how).join(right, "id_r", how)


def candidate_pairs_self(keys: DataFrame) -> DataFrame:
    """Self-linkage candidates: within-block pairs, canonical order
    id_l < id_r, deduped across blocks/passes (J3+J4 in SURVEY §2.4)."""
    return self_pair_join(keys, "id").select("id_l", "id_r").dropDuplicates()


def candidate_pairs_cross(keys_l: DataFrame, keys_r: DataFrame) -> DataFrame:
    """Two-source candidates (reference main case: Craigslist × US)."""
    return cross_pair_join(keys_l, keys_r, "id").select("id_l", "id_r").dropDuplicates()


# --- statistics (A2-A4 in SURVEY §2.5) --------------------------------------


def block_size_stats(keys: DataFrame) -> DataFrame:
    """Per-strategy block stats: count/mean/median/min/max + histogram
    buckets (blocking_B1.py:92-127). Count-shaped fields coalesce to 0
    so an EMPTY key table (e.g. a filtered-to-nothing input) yields a
    well-typed zero row instead of NULLs that crash int() at the
    metrics sink; mean/median/min/max stay NULL — honestly undefined
    over zero blocks."""
    n = F.col("n")

    def z(col: F.Column) -> F.Column:
        return F.coalesce(col, F.lit(0)).cast("long")

    return block_sizes(keys, "block_key").agg(
        F.count("*").alias("n_blocks"),
        z(F.sum(n)).alias("records_in_blocks"),
        F.avg(n).alias("mean_size"),
        F.expr("percentile_approx(n, 0.5)").alias("median_size"),
        F.min(n).alias("min_size"),
        F.max(n).alias("max_size"),
        z(F.sum((n == 1).cast("long"))).alias("blocks_1"),
        z(F.sum(n.between(2, 5).cast("long"))).alias("blocks_2_5"),
        z(F.sum(n.between(6, 10).cast("long"))).alias("blocks_6_10"),
        z(F.sum(n.between(11, 50).cast("long"))).alias("blocks_11_50"),
        z(F.sum((n > 50).cast("long"))).alias("blocks_50_plus"),
        z(F.sum(n * (n - 1) / 2)).alias("candidate_pairs"),
    )


def reduction_ratio(keys: DataFrame, total_records: int) -> float:
    """A3: 1 - within-block pairs / all pairs (blocking_B1.py:119-127)."""
    cand = block_size_stats(keys).first()["candidate_pairs"]
    total = total_records * (total_records - 1) / 2
    return 1.0 - cand / total if total > 0 else 0.0


def pairs_completeness(pairs: DataFrame, truth: DataFrame) -> float:
    """A4: fraction of true pairs surviving blocking
    (record_linkage.py:242-246). `truth` has (id_l, id_r) canonical."""
    total = truth.count()
    if total == 0:
        return 0.0
    surviving = truth.join(pairs, ["id_l", "id_r"], "leftsemi").count()
    return surviving / total
