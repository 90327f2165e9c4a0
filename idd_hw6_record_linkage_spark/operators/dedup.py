"""Deduplication operators for training-data pipelines.

Five strategies, all over a generic (id, text) document table:

- exact:     hash-groupBy on md5(text) — one shuffle, maximal pushdown
- ngram:     word n-gram shingle Jaccard within candidate blocks
- minhash:   banded MinHash-LSH candidates → exact Jaccard verify
- simhash:   64-bit simhash fingerprints (vectorized pandas UDF) +
             bucket-join on rotated prefixes for hamming-≤k candidates
- embedding: cosine near-dup over an array<float> column, brute or
             random-hyperplane-bucketed

The four near-dup detectors (n-gram, MinHash, SimHash, embedding) are
one filter-and-verify shape. Filter: each builds a
``blocking.key_table`` (one per MinHash band set, SimHash rotation or
hyperplane table, unioned); :func:`_capped_keys` checkpoints the three
LSH tables and caps them with ``blocking.cap_blocks``.
Verify: :func:`_verify` self-joins the keys into candidate pairs,
attaches one attribute per side, scores it natively and keeps the pairs
that pass — candidates never blow up beyond key collisions.
Everything returns DataFrames; nothing collects.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from idd_hw6_record_linkage_spark.functions.similarity import (
    sim_cosine_arrays,
    sim_jaccard_token_arrays,
)
from idd_hw6_record_linkage_spark.operators import blocking
from idd_hw6_record_linkage_spark.operators.ann import hyperplane_key, quantized_vec_basis
from idd_hw6_record_linkage_spark.operators.minhash import lsh_key_table, word_shingles


# --- exact -------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(text_hash, n_dups, keep_id): canonical representative = min id
    per exact-content group. Pure hash aggregation."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per exact text: the min-id representative."""
    w = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(w, id_col, "leftsemi")


def collapse_recrawls(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Url-identity dedup — the FIRST dedup stage of a Common-Crawl
    pipeline, before any content hashing: re-crawls of one page (same
    canonical url, differing by tracking params / fragments / case /
    default ports / crawl time) collapse to the LATEST crawl.

    Output = the kept rows with two extra columns: ``url_canonical``
    (functions.normalize.canonical_url_expr) and ``n_versions`` (how
    many raw rows collapsed into this one).

    Scale shape: one shuffle, partitioned by the full canonical url —
    NOT the domain — so mega-domains do not skew; a partition key only
    repeats as often as that exact page was re-crawled (bounded by
    crawl frequency). Window row_number + count over the same
    partitioning reuse one Exchange. Deterministic ties: ts desc, then
    ``tiebreak_cols`` asc (default: the raw url).

    NULL urls all canonicalize to NULL and therefore collapse to ONE
    surviving row (SQL window semantics: NULL is one partition) —
    filter degenerate NULL-url rows out beforehand if they must all
    survive."""
    from idd_hw6_record_linkage_spark.functions.normalize import (
        canonical_url_expr,
    )
    from pyspark.sql.window import Window

    df = pages.withColumn("url_canonical", canonical_url_expr(url_col))
    ties = [F.col(c).asc() for c in (tiebreak_cols or [url_col])]
    w = Window.partitionBy("url_canonical").orderBy(
        F.col(ts_col).desc(), *ties
    )
    wc = Window.partitionBy("url_canonical")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_versions", F.count("*").over(wc))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- n-gram Jaccard ----------------------------------------------------------


def ngram_jaccard_expr(l: Column | str, r: Column | str, n: int = 3) -> Column:  # noqa: E741
    """Jaccard over distinct word n-gram shingles, fully native."""
    ls = word_shingles(l, n)
    rs = word_shingles(r, n)
    inter = F.size(F.array_intersect(ls, rs)).cast("double")
    union = F.size(F.array_union(ls, rs)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _nonblank(df: DataFrame, text_col: str) -> DataFrame:
    """Drop NULL/blank-text rows before near-dup keying: a blank doc
    has no content to be 'near' anything — without this filter two
    NULL-text docs degenerate-shingle to [hash('')] and emit a
    jaccard=1.0 pair that no SQL oracle (which strips the NULL
    shingle) reproduces. Blank docs belong to exact dedup, where
    identical-empty IS the right answer."""
    c = F.col(text_col)
    return df.where(c.isNotNull() & (F.length(F.trim(c)) > 0))


def hashed_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles hashed to int64. Set Jaccard is
    hash-invariant (collisions ~n²/2⁻⁶⁴), and computing this ONCE per
    document beats re-shingling both texts per candidate pair — the
    verify join then ships compact long arrays, not strings.
    NULL/blank text yields NULL (missing semantics), not [hash('')]."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull() & (F.length(F.trim(c)) > 0),
        F.array_distinct(
            F.transform(word_shingles(c, n), lambda s: F.xxhash64(s))
        ),
    )


def _capped_keys(keys: DataFrame, max_block_size: int | None) -> DataFrame:
    """``keys`` checkpointed, then capped by ``blocking.cap_blocks``
    on its ``salt_basis`` unless ``max_block_size`` is None — the one
    materialization rule of the near-dup key tables."""
    # localCheckpoint (eager, not persist): the key is the expensive
    # part (MinHash signatures, the simhash UDF, hyperplane buckets),
    # and the cap plus the candidate self-join scan the table several
    # times — uncapped too, where the self-join reads it twice. A
    # persist() would leak a CacheManager entry the caller cannot
    # release; checkpointed RDD blocks are reference-tracked and freed
    # by the ContextCleaner when the result goes out of scope.
    keys = keys.localCheckpoint(eager=True)
    if max_block_size is None:
        return keys
    return blocking.cap_blocks(keys, max_block_size, salt_col="salt_basis")


def _verify(keys: DataFrame, df: DataFrame, id_col: str, attr: Column,
            score: Callable[[Column, Column], Column], name: str,
            keep: Callable[[Column], Column]) -> DataFrame:
    """The verify half of every near-dup detector: the candidate pairs
    of ``keys``, ``attr`` of ``df`` attached to both sides by
    ``id_col``, the ``name`` score column ``score(attr_l, attr_r)``,
    and only the pairs where ``keep(score)`` holds → (id_l, id_r,
    name)."""
    pairs = blocking.candidate_pairs_self(keys)
    attrs = df.select(id_col, attr.alias("a"))
    return (
        blocking.attach_pair_attributes(pairs, attrs, ["a"], id_col)
        .withColumn(name, score(F.col("a_l"), F.col("a_r")))
        .where(keep(F.col(name)))
        .select("id_l", "id_r", name)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_key: Column,
    threshold: float = 0.4,
    n: int = 3,
) -> DataFrame:
    """Near-dup pairs: candidates from a blocking key, verified by
    exact shingle Jaccard ≥ threshold. NULL/blank-text rows are
    excluded (see :func:`_nonblank`)."""
    df = _nonblank(df, text_col)
    keys = blocking.key_table(df, id_col, block_key, "ngram")
    return _verify(keys, df, id_col, hashed_shingles(text_col, n),
                   sim_jaccard_token_arrays, "jaccard", lambda j: j >= threshold)


# --- MinHash-LSH -------------------------------------------------------------


def minhash_lsh_keys(df: DataFrame, id_col: str, text_col: str,
                     num_bands: int = 8, rows_per_band: int = 4,
                     shingle_n: int = 3, max_block_size: int | None = 500,
                     base: str = "md5") -> DataFrame:
    """The key table :func:`minhash_dedup_pairs` self-joins, over a
    non-blank ``df``: banded-LSH keys salted by the text prefix, capped
    by ``blocking.cap_blocks`` unless ``max_block_size`` is None. The
    capped-recall gate checks this very table."""
    return _capped_keys(lsh_key_table(
        df, id_col, text_col, shingle_n, num_bands, rows_per_band,
        salt_basis=(
            None if max_block_size is None
            else F.substring(F.trim(F.col(text_col)), 1, 24)
        ),
        base=base,
    ), max_block_size)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_bands: int = 8,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    max_block_size: int | None = 500,
    base: str = "md5",
) -> DataFrame:
    """Banded-LSH candidates verified with exact shingle Jaccard —
    the scale path for unknown-key near-dup discovery. NULL/blank-text
    rows are excluded (see :func:`_nonblank`).

    Band buckets are size-capped: boilerplate-heavy corpora (template
    pages sharing one shingle set) produce hot bands that are quadratic
    bombs at scale. Oversized bands are split by a content-derived salt
    (text prefix) so true near-dups stay co-located; a residual id-salt
    tier hard-bounds the worst case (see blocking.cap_blocks).
    ``max_block_size=None`` disables the cap — exact banded-LSH
    semantics, SQL-reproducible when ``base='md5'`` (the contract
    queries use that mode; production keeps the cap).

    ``base='md5'`` (default) makes every signature/band/candidate
    reproducible in DuckDB (md5_number_upper); ``'xxhash64'`` is ~3x
    cheaper per shingle where no SQL oracle is needed."""
    df = _nonblank(df, text_col)
    keys = minhash_lsh_keys(df, id_col, text_col, num_bands, rows_per_band,
                            shingle_n, max_block_size, base)
    return _verify(keys, df, id_col, hashed_shingles(text_col, shingle_n),
                   sim_jaccard_token_arrays, "jaccard", lambda j: j >= threshold)


# --- SimHash -----------------------------------------------------------------


@pandas_udf(LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit simhash over whitespace tokens, Arrow-batched numpy.

    Token hashes are stable 64-bit values from md5 (C-speed, seed-free
    → deterministic across workers/runs), memoized per batch — web
    vocabulary repeats heavily, so the memo turns hashing into dict
    lookups. Bit votes run as one numpy matmul-shaped reduction per
    document.

    Deliberately NOT a flat whole-batch formulation: a measured
    variant (factorize all tokens, one (total_tokens, 64) sign matrix,
    np.add.reduceat per doc) was bit-identical but ~8x SLOWER — the
    giant sign matrix is memory-bandwidth-bound, while the per-doc
    (n_tokens, 64) reductions stay L1/L2-cache-hot. The interpreter
    overhead of the loop is noise by comparison (~31 µs/doc total).

    Little-endian first-8-bytes is DuckDB's md5_number_upper(), which
    makes the fingerprint reproducible in plain SQL — the driver's
    dedup_simhash check is value-exact, not rows-only, because of this
    byte-order choice (any fixed order has identical hash quality).
    """
    import hashlib

    memo: dict[str, int] = {}

    def tok_hash(tok: str) -> int:
        h = memo.get(tok)
        if h is None:
            h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "little")
            memo[tok] = h
        return h

    powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts.tolist()):
        toks = t.split() if t else []
        if not toks:
            out[i] = 0
            continue
        hs = np.fromiter((tok_hash(tok) for tok in toks), dtype=np.uint64,
                         count=len(toks))
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
        votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
        out[i] = np.int64((powers[votes > 0]).sum(dtype=np.uint64).astype(np.int64))
    return pd.Series(out)


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), simhash64_udf(F.col(text_col)).alias("simhash")
    )


def simhash_candidate_pairs(
    sim_df: DataFrame, prefix_bits: int = 16, max_block_size: int | None = 500
) -> DataFrame:
    """Hamming-near candidates: bucket on 4 rotated 16-bit prefixes —
    any pair within hamming distance 3 of each other shares at least
    one exact 16-bit block (pigeonhole), so block-equality buckets are
    a complete candidate set for d ≤ 3.

    There are only 4 × 2¹⁶ buckets, so at ≥10⁸ docs the buckets go
    quadratic; oversized buckets are split with the full simhash as the
    salt basis — exact fingerprint duplicates always stay co-located,
    hamming-1..3 pairs inside a hot bucket may split (bounded,
    documented recall loss in exchange for the hard quadratic cap).
    ``max_block_size=None`` disables the cap — complete hamming-≤3
    semantics; the gated contract query uses that mode so the
    uncapped brute-force oracle stays exact at every scale factor."""
    return blocking.candidate_pairs_self(_simhash_keys(sim_df, prefix_bits, max_block_size))


def _simhash_keys(sim_df: DataFrame, prefix_bits: int,
                  max_block_size: int | None) -> DataFrame:
    """The capped key table of :func:`simhash_candidate_pairs`: one
    ``blocking.key_table`` per rotated ``prefix_bits`` block of the
    fingerprint, salted by the full fingerprint."""
    mask = F.lit((1 << prefix_bits) - 1)
    return _capped_keys(reduce(DataFrame.unionByName, [
        blocking.key_table(
            sim_df, "id",
            F.concat_ws(":", F.lit(f"sh{blk}"), F.shiftrightunsigned(
                F.col("simhash"), blk * prefix_bits).bitwiseAND(mask).cast("string")),
            "simhash", F.col("simhash").cast("string"),
        )
        for blk in range(64 // prefix_bits)
    ]), max_block_size)


def hamming64_expr(l: Column | str, r: Column | str) -> Column:  # noqa: E741
    lc = F.col(l) if isinstance(l, str) else l
    rc = F.col(r) if isinstance(r, str) else r
    return F.bit_count(lc.bitwiseXOR(rc))


def simhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    max_block_size: int | None = 500,
) -> DataFrame:
    """SimHash near-dup pairs: bucket candidates → hamming verify.
    The fingerprint table is localCheckpointed — it feeds 4 rotated key
    scans plus both sides of the verify join, and checkpointed blocks
    are GC-released (a persist() would leak a CacheManager entry)."""
    sim = simhash_table(df, id_col, text_col).localCheckpoint(eager=True)
    return _verify(_simhash_keys(sim, 16, max_block_size), sim, "id", F.col("simhash"),
                   hamming64_expr, "hamming", lambda h: h <= max_hamming)


# --- embedding cosine --------------------------------------------------------


def embedding_dup_pairs_brute(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """All-pairs cosine ≥ t. O(n²) — baseline/oracle path only."""
    a = df.select(F.col(id_col).alias("id_l"), F.col(vec_col).alias("v_l"))
    b = df.select(F.col(id_col).alias("id_r"), F.col(vec_col).alias("v_r"))
    return (
        a.join(b, F.col("id_l") < F.col("id_r"))
        .withColumn("cosine", sim_cosine_arrays("v_l", "v_r"))
        .where(F.col("cosine") >= threshold)
        .select("id_l", "id_r", "cosine")
    )


def embedding_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_planes: int = 16,
    num_tables: int = 4,
    seed: int = 42,
    max_block_size: int | None = 500,
) -> DataFrame:
    """Scale path: random-hyperplane (sign) LSH buckets per table →
    within-bucket candidates → exact cosine verify.

    Buckets are size-capped like the minhash/simhash paths: real
    embedding corpora cluster hard (boilerplate pages, near-constant
    embeddings), and with only 2^num_planes buckets per table a hot
    hyperplane bucket is a quadratic bomb at 100x scale. Oversized
    buckets split on the quantized-vector basis (true near-dups stay
    co-located); the id-salt second tier hard-bounds collapse."""
    keys = _capped_keys(reduce(DataFrame.unionByName, [
        blocking.key_table(df, id_col, hyperplane_key(vec_col, t, num_planes, seed, 1),
                           "hplsh", quantized_vec_basis(vec_col))
        for t in range(num_tables)
    ]), max_block_size)
    return _verify(keys, df, id_col, F.col(vec_col), sim_cosine_arrays, "cosine",
                   lambda c: c >= threshold)


def source_overlap_matrix(
    assign: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplicate-overlap matrix: for a resolved dedup
    assignment (``assign``: id → cluster) and a source label per
    document, count the duplicate PAIRS each unordered source pair
    contributes — the corpus-curation artifact every multi-source mix
    needs ("how much does the crawl duplicate the wiki dump"), and
    the direct input to per-source dedup-rate accounting. The
    diagonal counts within-source pairs (C(n,2) per cluster), the
    off-diagonal cross-source pairs (n_a·n_b per cluster); a
    duplicate-free source pair emits no row.

    NULL sources are excluded (no stable mix identity — same
    convention as the temperature sampler). Scale shape: one
    groupBy to per-(cluster, source) counts, one self-equi-join on
    the cluster id whose fan-out per cluster is bounded by the
    DISTINCT SOURCE COUNT (not the cluster size — a 10k-member
    mega-cluster over 20 sources joins 20×20, not 10k×10k), then one
    bounded aggregate. Exact BIGINT arithmetic end to end."""
    j = assign.select(
        F.col(id_col).alias("__id"), F.col(cluster_col).alias("__c")
    ).join(
        docs.select(
            F.col(id_col).alias("__id"), F.col(source_col).alias("__s")
        ).where(F.col(source_col).isNotNull()),
        "__id",
    )
    per = j.groupBy("__c", "__s").agg(F.count(F.lit(1)).alias("n"))
    l = per.select(  # noqa: E741
        "__c", F.col("__s").alias("source_l"), F.col("n").alias("n_l")
    )
    r = per.select(
        "__c", F.col("__s").alias("source_r"), F.col("n").alias("n_r")
    )
    pairs = (
        l.join(r, "__c")
        .where(F.col("source_l") <= F.col("source_r"))
        .select(
            "source_l",
            "source_r",
            F.when(
                F.col("source_l") == F.col("source_r"),
                # Integer division (div), not float `/`-then-cast: the
                # DuckDB oracle uses `//` and the docstring promises
                # exact BIGINT arithmetic end to end — the float path
                # diverges once n*(n-1) exceeds 2^53.
                F.expr("n_l * (n_l - 1) div 2"),
            )
            .otherwise(F.col("n_l") * F.col("n_r"))
            .alias("np"),
        )
    )
    return (
        pairs.groupBy("source_l", "source_r")
        .agg(F.sum("np").cast("long").alias("n_dup_pairs"))
        .where(F.col("n_dup_pairs") > 0)
    )
