"""Exact-threshold set-similarity self-join via prefix filtering
(beyond reference — SURVEY §2.12; Chaudhuri et al. 2006 SSJoin /
Xiao et al. 2008 PPJoin). Finds ALL record pairs whose token-set
Jaccard similarity >= a threshold, without the O(n^2) cross product
and without the false-negative risk of MinHash-LSH: this is the exact
counterpart to ``dedup_minhash_lsh`` (probabilistic recall) and
``dedup_ngram_jaccard`` (fixed-key blocked), and the standard
distributed shape for exact-Jaccard dedup (Vernica et al. 2010's
MapReduce set-similarity join is this algorithm).

How the pruning works: order every record's tokens by a single global
canon (ascending doc-frequency, token text as tiebreak — rarest
first). If jaccard(L, R) >= t, the pigeonhole principle says L and R
must share a token within each one's first ``n - ceil(t*n) + 1``
tokens (the *prefix*) — so candidates come from an equi-join on
exploded prefix tokens only, and a frequent token (which would fan
out the join) only enters a prefix when a record has almost nothing
rarer, which is exactly when it is informative. Two further
exactness-preserving prunes run before verification: a length filter
(``num*max(|L|,|R|) <= den*min(|L|,|R|)``), and PPJoin's positional
filter — both sides are sorted by the SAME global canon, so the
canon-minimal shared token sits at the minimum matched position in
BOTH prefixes, no common token can precede it, and the overlap is
bounded by ``1 + min(|L|-p_L, |R|-p_R)``; pairs whose bound can't
reach the required overlap ``t/(1+t)·(|L|+|R|)`` drop. Survivors are
verified with the exact Jaccard.

Numeric discipline: the threshold is a RATIONAL ``num/den`` and every
comparison is integer (``ceil(n*num/den)`` = ``(n*num + den - 1) div
den``; verify is ``n_common*den >= n_union*num``) — no float ever
decides membership, so the result is value-exact across engines
(the reported ``jac`` column is a display-only rounded quotient).

Scale shape: token doc-frequencies are ONE groupBy on the token; the
per-record ordered array is a bounded collect_list (callers pass a
bounded token basis — a sliced/sanitized key, same discipline as the
q-gram/suffix key slices; this is NOT for unbounded full-document
token sets). The prefix explode emits at most ``(1-t)*n + 1`` rows
per record — at t=0.6, 40% of the token rows — and the candidate
aggregate shuffles once on the id pair. Everything is native
Catalyst (sort_array/slice/transform/array_intersect — no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.operators import blocking


def jaccard_setsim_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """All pairs with jaccard(tokens_l, tokens_r) >= num/den over the
    DISTINCT elements of ``tokens_col`` (empty-string tokens dropped;
    records with no tokens emit no pairs). Output: (id_l, id_r,
    n_common, n_union, jac), id_l < id_r, jac rounded to 6 dp for
    display — the >= decision itself is integer-exact."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must satisfy 0 < num/den <= 1")

    # localCheckpoint (eager): tok feeds the df-count aggregate AND the
    # ordering join; ordered feeds the prefix explode AND both verify
    # sides. Without materialization each reference re-executes the
    # whole explode→distinct→join→collect_list chain (the r05 plan
    # held 16 parquet scans of the same table); filter/projection
    # differences pushed below the exchanges defeat ReuseExchange.
    # One row per record / one row per distinct (id, token) — both
    # bounded by the sliced key basis, so the materialization is small
    # at any scale.
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.col(tokens_col)).alias("token"),
        )
        .where(F.col("token").isNotNull() & (F.col("token") != ""))
        .distinct()
        .localCheckpoint(eager=True)
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tdf"))
    # one sorted (df, token) array per record: global rarest-first canon
    ordered = (
        tok.join(freq, "token")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("tdf"), F.col("token")))
            ).alias("__ord")
        )
        .select(
            "id",
            F.expr("transform(__ord, x -> x.token)").alias("toks"),
            F.size("__ord").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    # prefix length n - ceil(n*num/den) + 1, all integer
    pref_len = (
        F.col("n")
        - F.floor(
            (F.col("n") * threshold_num + threshold_den - 1) / threshold_den
        )
        + 1
    ).cast("int")
    pref = ordered.select(
        "id",
        "n",
        F.posexplode(F.slice("toks", F.lit(1), pref_len)).alias(
            "pos", "token"
        ),
    ).select("id", "n", (F.col("pos") + 1).alias("rn"), "token")
    # min matched positions: the canon-minimal shared token minimizes
    # rn on BOTH sides simultaneously (same token, same global order),
    # so (p_l, p_r) is a single token's position pair and the
    # positional overlap bound below is sound. Both the length filter
    # and the positional filter run on this slim (ids, sizes,
    # positions) aggregate — BEFORE the token arrays are joined back,
    # so pruned pairs never ship their payloads through the verify
    # join (the point of PPJoin's filter ordering).
    required_overlap = F.floor(
        (
            (F.col("n_l") + F.col("n_r")) * threshold_num
            + (threshold_num + threshold_den)
            - 1
        )
        / (threshold_num + threshold_den)
    )
    cand = (
        blocking.self_pair_join(pref, "id", ["n", "rn"], on="token")
        .groupBy("id_l", "id_r")
        .agg(
            F.first("n_l").alias("n_l"),
            F.first("n_r").alias("n_r"),
            F.min("rn_l").alias("p_l"),
            F.min("rn_r").alias("p_r"),
        )
        # length filter: num*max <= den*min, else jaccard < num/den
        .where(
            F.greatest("n_l", "n_r") * threshold_num
            <= F.least("n_l", "n_r") * threshold_den
        )
        # positional filter: overlap <= 1 + min(n_l - p_l, n_r - p_r);
        # jaccard >= num/den needs overlap >= ceil(num*(n_l+n_r) /
        # (num+den)) — all integer, so the prune is exact.
        .where(
            F.lit(1)
            + F.least(
                F.col("n_l") - F.col("p_l"), F.col("n_r") - F.col("p_r")
            )
            >= required_overlap
        )
        .drop("p_l", "p_r")
    )
    inter = F.size(F.array_intersect("toks_l", "toks_r"))
    union = F.col("n_l") + F.col("n_r") - F.col("n_common")
    return (
        blocking.attach_pair_attributes(cand, ordered, ["toks"], "id")
        .withColumn("n_common", inter.cast("long"))
        .withColumn("n_union", union.cast("long"))
        .where(
            F.col("n_common") * threshold_den
            >= F.col("n_union") * threshold_num
        )
        .select(
            "id_l",
            "id_r",
            "n_common",
            "n_union",
            F.round(F.col("n_common") / F.col("n_union"), 6).alias("jac"),
        )
    )
