"""Approximate nearest-neighbor search over an embedding column.

- brute_force_topk: exact cosine top-k via broadcast join + window —
  the correctness baseline (and fine whenever |queries| is small).
- lsh_topk: random-hyperplane bucket candidates (multi-table) →
  exact cosine only within buckets → top-k; recall tested against the
  brute-force baseline.
- ivf_topk: data-adaptive centroid partitions (spherical k-means) —
  the classic IVF scale path. Corpus rows key to their nearest
  centroid; queries probe the ``nprobe`` nearest lists. Unlike the
  data-oblivious hyperplanes, centroids follow the corpus density, so
  balanced candidate lists need no multi-table union.

The dot products are native (`zip_with` + `aggregate`); only the
bucketing/assignment uses vectorized pandas UDFs (numpy matmul over
the whole Arrow batch at once).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.window import Window

from idd_hw6_record_linkage_spark.functions.similarity import sim_cosine_arrays
from idd_hw6_record_linkage_spark.operators import blocking
from idd_hw6_record_linkage_spark.operators.dedup import quantized_vec_basis

_PLANE_CACHE: dict[tuple[int, int, int, int], np.ndarray] = {}


def _planes(table: int, num_planes: int, dim: int, seed: int) -> np.ndarray:
    key = (table, num_planes, dim, seed)
    if key not in _PLANE_CACHE:
        rng = np.random.RandomState(seed * 7919 + table)
        _PLANE_CACHE[key] = rng.standard_normal((dim, num_planes))
    return _PLANE_CACHE[key]


@pandas_udf(StringType())
def hyperplane_bucket_udf(
    vecs: pd.Series, table: pd.Series, num_planes: pd.Series, seed: pd.Series
) -> pd.Series:
    """Sign-pattern bucket id per vector: one numpy matmul per batch."""
    if len(vecs) == 0:
        return pd.Series([], dtype="object")
    t = int(table.iloc[0])
    k = int(num_planes.iloc[0])
    s = int(seed.iloc[0])
    mat = np.vstack(vecs.to_numpy())
    planes = _planes(t, k, mat.shape[1], s)
    signs = (mat @ planes) >= 0
    weights = 1 << np.arange(k)
    buckets = (signs * weights).sum(axis=1)
    return pd.Series(buckets.astype(str))


@pandas_udf(ArrayType(StringType()))
def hyperplane_probe_buckets_udf(
    vecs: pd.Series,
    table: pd.Series,
    num_planes: pd.Series,
    seed: pd.Series,
    num_probes: pd.Series,
) -> pd.Series:
    """Multi-probe bucket ids per vector: the base sign-pattern bucket
    plus single-bit flips of the (num_probes - 1) lowest-|projection|
    hyperplanes — the planes the vector sits closest to, i.e. where a
    true neighbor most likely landed on the other side (multi-probe
    LSH, Lv et al., VLDB'07). One matmul + one argsort per batch."""
    if len(vecs) == 0:
        return pd.Series([], dtype="object")
    t = int(table.iloc[0])
    k = int(num_planes.iloc[0])
    s = int(seed.iloc[0])
    p = max(1, int(num_probes.iloc[0]))
    mat = np.vstack(vecs.to_numpy())
    planes = _planes(t, k, mat.shape[1], s)
    proj = mat @ planes
    weights = 1 << np.arange(k)
    base = ((proj >= 0) * weights).sum(axis=1).astype(np.int64)
    # per-row plane order by |margin| ascending
    order = np.argsort(np.abs(proj), axis=1)
    out = []
    for i in range(mat.shape[0]):
        bs = [base[i]]
        for j in range(min(p - 1, k)):
            bs.append(base[i] ^ (1 << int(order[i, j])))
        out.append([str(b) for b in bs])
    return pd.Series(out)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the corpus,
    native cosine, window rank. Deterministic ties (sim desc, id asc)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("c_vec"))
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", sim_cosine_arrays("q_vec", "c_vec")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _bucket_topk(
    ck: DataFrame,
    qk: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """Corpus ``(id_col, c_vec, bucket)`` ⋈ queries ``(query_id_col,
    q_vec, bucket)`` on bucket → exact cosine → top-k per query
    (deterministic ties: sim desc, id asc).

    ``max_bucket_size`` splits oversized CORPUS buckets with one
    :func:`blocking.cap_plan` applied to both sides, so the bucket
    equi-join stays consistent. Tier 1 splits on the quantized-vector
    basis — a query and its true near neighbors share the basis, so
    they land in the same sub-bucket and the cap costs almost no
    recall. Tier 2 catches basis collapse (a hot bucket of
    near-identical vectors): corpus rows re-split by record id, queries
    by query id, so each query probes a 1/n_sub uniform sample of the
    hot bucket — bounded candidates, documented recall trade."""
    if max_bucket_size is not None:
        # localCheckpoint: the size count + salt join + candidate join
        # rescan the corpus key table (bucketing UDF) several times.
        ck = ck.localCheckpoint(eager=True).withColumnRenamed("bucket", "block_key")
        qk = qk.withColumnRenamed("bucket", "block_key")
        c_basis = quantized_vec_basis("c_vec")
        plan = blocking.cap_plan([ck], max_bucket_size, c_basis)
        ck = blocking.apply_cap(ck, plan, c_basis, id_col).withColumnRenamed(
            "block_key", "bucket")
        qk = blocking.apply_cap(
            qk, plan, quantized_vec_basis("q_vec"), query_id_col
        ).withColumnRenamed("block_key", "bucket")
    cands = ck.join(qk, "bucket").dropDuplicates([query_id_col, id_col])
    scored = cands.withColumn("cosine", sim_cosine_arrays("q_vec", "c_vec"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means (Lloyd iterations on the unit sphere) for IVF
    coarse quantization, expressed as DataFrame ops.

    Scale shape: the centroid set is the ONLY thing that ever reaches
    the driver — k × dim floats per iteration (posexplode → per-
    (centroid, position) mean, a map-side-combined agg), the classic
    IVF contract where the coarse codebook is small enough to
    broadcast. Assignment is one Arrow-batched matmul per partition.
    At 100 TB train on a sample (``train_fraction``); assignment of
    the full corpus happens once, inside :func:`ivf_topk`.

    Init is deterministic: the ``n_centroids`` corpus vectors with the
    smallest ``xxhash64(id)`` (a seeded uniform draw that needs no
    driver-side randomness). Float means are partition-order sensitive
    in the last bits, so centroids are reproducible to float noise,
    not bitwise — callers gate on recall, never on exact buckets.
    """
    df = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if train_fraction is not None:
        df = df.sample(False, train_fraction, seed)
    # Spherical k-means updates centroids as the mean of UNIT vectors:
    # assignment normalizes, so the update must too, or large-magnitude
    # raw vectors dominate the mean. __vn is the row-normalized vector,
    # computed natively (zero-norm rows contribute all-zero components,
    # matching _normalize_rows' convention of leaving them untouched).
    _norm = F.sqrt(
        F.aggregate(
            "__v", F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    df = df.withColumn(
        "__vn",
        F.when(
            _norm > 0, F.transform("__v", lambda x: x.cast("double") / _norm)
        ).otherwise(F.transform("__v", lambda x: x.cast("double") * 0)),
    )
    seeds = (
        df.withColumn("__h", F.xxhash64(F.col("__id"), F.lit(seed)))
        .orderBy("__h", "__id")
        .limit(n_centroids)
        .select("__v")
        .collect()
    )
    if not seeds:
        raise ValueError(
            "train_ivf_centroids: corpus (after train_fraction sampling) "
            "is empty — no seed vectors to initialize centroids"
        )
    cents = _normalize_rows(
        np.array([r["__v"] for r in seeds], dtype=np.float64)
    )
    spark = corpus.sparkSession
    dim = cents.shape[1]
    for _ in range(max(0, iters)):
        bc = spark.sparkContext.broadcast(cents)

        @pandas_udf("int")
        def _nearest(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series([], dtype="int32")
            m = _normalize_rows(np.vstack(vs.to_numpy()).astype(np.float64))
            return pd.Series(np.argmax(m @ bc.value.T, axis=1).astype("int32"))

        means = (
            df.withColumn("__c", _nearest("__v"))
            .select("__c", F.posexplode("__vn").alias("__p", "__x"))
            .groupBy("__c", "__p")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        new = cents.copy()  # empty clusters keep their old centroid
        touched = set()
        for r in means:
            new[r["__c"], r["__p"]] = r["__m"]
            touched.add(r["__c"])
        for c in touched:
            if np.linalg.norm(new[c]) == 0:
                new[c] = cents[c]
        cents = _normalize_rows(new)
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    train_fraction: float | None = None,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """IVF ANN: corpus rows key to their nearest spherical-k-means
    centroid (inverted lists); each query probes its ``nprobe``
    nearest lists; exact cosine + window top-k within candidates.

    vs :func:`lsh_topk`: hyperplanes are data-oblivious, so clustered
    corpora concentrate in few buckets and recall leans on multi-table
    unions (each table re-keys the corpus). IVF centroids adapt to the
    density — one corpus keying pass, balanced lists, and ``nprobe``
    is the recall dial with query-side-only cost. The trade is a
    training scan (sample it at scale via ``train_fraction``).

    Pass precomputed ``centroids`` to reuse a codebook across calls
    (the build-once / query-many production shape). ``max_bucket_size``
    caps hot lists exactly as in lsh_topk (opt-in, same
    _bucket_topk recall trade).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids, iters, id_col, vec_col, train_fraction, seed
        )
    cmat = np.asarray(centroids, dtype=np.float64)
    bc = corpus.sparkSession.sparkContext.broadcast(cmat)

    @pandas_udf(ArrayType(StringType()))
    def _probes(vs: pd.Series, n: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        p = min(max(1, int(n.iloc[0])), bc.value.shape[0])
        m = _normalize_rows(np.vstack(vs.to_numpy()).astype(np.float64))
        sims = m @ bc.value.T
        top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
        # order within the probe set doesn't matter (bucket equi-join)
        return pd.Series([[str(c) for c in row] for row in top])

    ck = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("c_vec"),
        F.element_at(_probes(F.col(vec_col), F.lit(1)), 1).alias("bucket"),
    )
    qk = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("q_vec"),
        F.explode(_probes(F.col(vec_col), F.lit(nprobe))).alias("bucket"),
    )
    return _bucket_topk(ck, qk, k, id_col, query_id_col, max_bucket_size)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    num_probes: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Bucketed ANN: score only corpus vectors sharing a hyperplane
    bucket with the query in any table (IVF-style candidate pruning).

    Two recall dials, both cheap on the query side only:
    - ``num_tables``: independent hash tables (linear cost in corpus
      keying — each table re-keys the corpus);
    - ``num_probes``: multi-probe — each query additionally probes the
      buckets reached by flipping its lowest-margin hyperplane bits.
      Costs nothing on the corpus side, so it is the preferred dial at
      scale (corpus keying dominates when |corpus| >> |queries|).

    ``max_bucket_size`` caps corpus bucket sizes: with only
    2^num_planes buckets per table, a clustered corpus concentrates in
    a few hot buckets and per-query candidate cost degenerates to
    brute force. Oversized buckets split via _bucket_topk
    (quantized-vector basis, id-salt fallback — the tier-2 id-salt
    means a query probes a 1/n_sub sample of a collapsed hot bucket, a
    documented recall trade). The cap is OPT-IN (default ``None`` =
    exact bucketed semantics).

    .. versionchanged:: round 4
       ``max_bucket_size`` default changed from ``1000`` to ``None``.
       Exact-bucket semantics by default is intentional (an uncapped
       bucket changes recall silently; a cap should be an explicit
       scale decision) — but callers who relied on the old implicit
       cap must now pass ``max_bucket_size=1000`` themselves, or
       per-query candidate cost on clustered corpora can degenerate
       to brute force. Production call sites at scale should pass a
       cap — the driver-gated contract queries pass 1000."""

    def keyed(df: DataFrame, idc: str, probes: int) -> DataFrame:
        out = None
        for t in range(num_tables):
            if probes <= 1:
                part = df.select(
                    F.col(idc),
                    F.col(vec_col).alias("__v"),
                    F.concat_ws(
                        ":",
                        F.lit(f"t{t}"),
                        hyperplane_bucket_udf(
                            F.col(vec_col), F.lit(t), F.lit(num_planes),
                            F.lit(seed),
                        ),
                    ).alias("bucket"),
                )
            else:
                # explode is a generator — stage the probe array first
                part = df.select(
                    F.col(idc),
                    F.col(vec_col).alias("__v"),
                    F.explode(
                        hyperplane_probe_buckets_udf(
                            F.col(vec_col), F.lit(t), F.lit(num_planes),
                            F.lit(seed), F.lit(probes),
                        )
                    ).alias("__b"),
                ).select(
                    idc, "__v",
                    F.concat_ws(":", F.lit(f"t{t}"), "__b").alias("bucket"),
                )
            out = part if out is None else out.unionByName(part)
        return out

    ck = keyed(corpus, id_col, 1).withColumnRenamed("__v", "c_vec")
    qk = keyed(queries, query_id_col, num_probes).withColumnRenamed("__v", "q_vec")
    return _bucket_topk(ck, qk, k, id_col, query_id_col, max_bucket_size)
