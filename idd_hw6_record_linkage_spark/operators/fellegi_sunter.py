"""Fellegi-Sunter probabilistic record linkage with EM parameter
estimation — the classic unsupervised linkage model (Fellegi & Sunter
1969; Winkler 1988 EM; the model behind Splink and the Census record
linkage literature). Complements the engine's supervised LR scorer
(operators/scoring.py): FS needs NO labels — it fits match/non-match
agreement rates (m_i, u_i) and the match prior λ directly from the
comparison-vector distribution.

Scale shape: the E-step is a pure native column expression over the
pair table (the current parameters are ~2k+1 DRIVER-SIDE scalars baked
into the expression, so nothing joins or broadcasts); the M-step is a
single global aggregate — each EM iteration is therefore ONE map-only
pass plus one 2k+2-scalar aggregate row to the driver. The gamma
projection is persisted once up front so iterations don't recompute
the (possibly expensive) comparison join.

Missing comparisons (NULL gamma) follow the standard convention: the
pair contributes no evidence for that field — the factor is 1 in both
numerator and denominator, and the pair is excluded from that field's
M-step sums.
"""

from __future__ import annotations

import math
from typing import NamedTuple, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "FSParams",
    "em_fit",
    "match_weight",
    "match_posterior",
    "term_frequencies",
    "tf_adjusted_weight",
    "classify_bands",
]


class FSParams(NamedTuple):
    """λ = P(pair is a match); m[f] = P(γ_f = 1 | match);
    u[f] = P(γ_f = 1 | non-match). All clipped into
    [clip, 1 - clip] for numerical stability."""

    lam: float
    m: dict[str, float]
    u: dict[str, float]
    n_iter: int
    avg_log_likelihood: float


def _clip(x: float, clip: float) -> float:
    return max(clip, min(1.0 - clip, x))


def _posterior_expr(
    feature_cols: Sequence[str], lam: float, m: dict, u: dict
):
    """P(match | γ) as a native expression of the current scalars.
    Products run in log space to survive many features."""
    log_r = F.lit(math.log(lam))
    log_s = F.lit(math.log(1.0 - lam))
    for f in feature_cols:
        g = F.col(f).cast("double")
        log_r = log_r + F.when(g.isNull(), F.lit(0.0)).otherwise(
            g * math.log(m[f]) + (1.0 - g) * math.log(1.0 - m[f])
        )
        log_s = log_s + F.when(g.isNull(), F.lit(0.0)).otherwise(
            g * math.log(u[f]) + (1.0 - g) * math.log(1.0 - u[f])
        )
    # p = r / (r + s) = 1 / (1 + exp(log_s - log_r))
    return (
        F.lit(1.0) / (F.lit(1.0) + F.exp(log_s - log_r)),
        F.log(F.exp(log_r) + F.exp(log_s)),
    )


def em_fit(
    pairs: DataFrame,
    feature_cols: Sequence[str],
    lam0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
    max_iter: int = 25,
    tol: float = 1e-6,
    clip: float = 1e-6,
) -> FSParams:
    """Fit (λ, m, u) by EM over binary agreement columns (0/1/NULL).
    Stops when no parameter moves more than ``tol`` or after
    ``max_iter`` iterations, whichever first."""
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    for p0, name in ((lam0, "lam0"), (m0, "m0"), (u0, "u0")):
        if not 0.0 < p0 < 1.0:
            raise ValueError(f"{name} must be in (0, 1)")
    gam = pairs.select(
        *[F.col(f).cast("double").alias(f) for f in feature_cols]
    ).persist()
    lam = lam0
    m = {f: m0 for f in feature_cols}
    u = {f: u0 for f in feature_cols}
    n_iter, avg_ll = 0, float("nan")
    try:
        for n_iter in range(1, max_iter + 1):
            p_expr, ll_expr = _posterior_expr(feature_cols, lam, m, u)
            aggs = [
                F.count("*").alias("n"),
                F.sum(p_expr).alias("sp"),
                F.avg(ll_expr).alias("ll"),
            ]
            for f in feature_cols:
                g = F.col(f)
                nn = g.isNotNull().cast("double")
                aggs += [
                    F.sum(p_expr * nn).alias(f"spn_{f}"),
                    F.sum(p_expr * F.coalesce(g, F.lit(0.0))).alias(f"spg_{f}"),
                    F.sum((1.0 - p_expr) * nn).alias(f"sqn_{f}"),
                    F.sum(
                        (1.0 - p_expr) * F.coalesce(g, F.lit(0.0))
                    ).alias(f"sqg_{f}"),
                ]
            row = gam.agg(*aggs).collect()[0]
            if row["n"] == 0:
                raise ValueError("pairs is empty — nothing to fit")
            new_lam = _clip(row["sp"] / row["n"], clip)
            new_m = {
                f: _clip(row[f"spg_{f}"] / max(row[f"spn_{f}"], 1e-300), clip)
                for f in feature_cols
            }
            new_u = {
                f: _clip(row[f"sqg_{f}"] / max(row[f"sqn_{f}"], 1e-300), clip)
                for f in feature_cols
            }
            avg_ll = row["ll"]
            delta = max(
                abs(new_lam - lam),
                *(abs(new_m[f] - m[f]) for f in feature_cols),
                *(abs(new_u[f] - u[f]) for f in feature_cols),
            )
            lam, m, u = new_lam, new_m, new_u
            if delta < tol:
                break
    finally:
        gam.unpersist()
    return FSParams(lam=lam, m=m, u=u, n_iter=n_iter, avg_log_likelihood=avg_ll)


def match_weight(
    pairs: DataFrame,
    params: FSParams,
    feature_cols: Sequence[str],
    out_col: str = "match_weight",
) -> DataFrame:
    """Append the FS log2 match weight: prior log-odds plus per-field
    agreement/disagreement weights (log2 m/u and log2 (1-m)/(1-u));
    NULL gammas contribute 0 — map-only, no shuffle."""
    ln2 = math.log(2.0)
    w = F.lit(math.log(params.lam / (1.0 - params.lam)) / ln2)
    for f in feature_cols:
        g = F.col(f).cast("double")
        agree = math.log(params.m[f] / params.u[f]) / ln2
        disagree = math.log(
            (1.0 - params.m[f]) / (1.0 - params.u[f])
        ) / ln2
        w = w + F.when(g.isNull(), F.lit(0.0)).otherwise(
            g * agree + (1.0 - g) * disagree
        )
    return pairs.withColumn(out_col, w)


def match_posterior(
    pairs: DataFrame,
    params: FSParams,
    feature_cols: Sequence[str],
    out_col: str = "match_probability",
) -> DataFrame:
    """Append P(match | γ) under the fitted parameters — map-only."""
    p_expr, _ = _posterior_expr(
        feature_cols, params.lam, params.m, params.u
    )
    return pairs.withColumn(out_col, p_expr)


def term_frequencies(
    df: DataFrame, value_col: str, out_col: str = "tf"
) -> DataFrame:
    """(value_col, out_col): relative frequency of each non-null value
    of ``value_col`` — one groupBy plus a one-row total crossed back in
    (scalar broadcast). The TF table has one row per distinct value; at
    web scale that can itself be large, which is why consumers join it
    by shuffle on the value (see :func:`tf_adjusted_weight`)."""
    nn = df.where(F.col(value_col).isNotNull()).select(value_col)
    counts = nn.groupBy(value_col).agg(F.count("*").alias("__c"))
    total = nn.agg(F.count("*").alias("__t"))
    return counts.crossJoin(F.broadcast(total)).select(
        value_col,
        (F.col("__c") / F.col("__t").cast("double")).alias(out_col),
    )


def tf_adjusted_weight(
    pairs: DataFrame,
    params: FSParams,
    feature_cols: Sequence[str],
    tf_field: str,
    value_col: str,
    tf: DataFrame,
    tf_floor: float | None = None,
    out_col: str = "match_weight",
) -> DataFrame:
    """FS match weight with a Splink-style term-frequency adjustment on
    ``tf_field`` (one of ``feature_cols``): a pair that AGREES on value
    v trades the field's generic agreement evidence log2(m/u) for the
    value-specific log2(m / tf_v) — sharing a RARE value is much
    stronger evidence than sharing a ubiquitous one, which the global
    u-probability cannot express. Implemented as the base weight plus
    γ · log2(u / max(tf_v, tf_floor)); disagreeing or NULL-γ pairs and
    values missing from ``tf`` are unadjusted.

    ``pairs`` must carry the agreed value in ``value_col`` (same name
    as ``tf``'s value column); ``tf`` comes from
    :func:`term_frequencies` over the CORPUS (not over pairs — pair
    frequency is quadratically skewed toward big blocks). The tf table
    is joined by shuffle on the value: its cardinality is the field's
    value universe, corpus-scale in general, so it is deliberately NOT
    broadcast. ``tf_floor`` bounds the boost a near-unique value can
    contribute (Splink's adjustment cap)."""
    if tf_field not in feature_cols:
        raise ValueError(
            f"tf_field {tf_field!r} must be one of feature_cols"
        )
    tf_col = [c for c in tf.columns if c != value_col]
    if len(tf_col) != 1:
        raise ValueError(
            f"tf must have exactly (value, tf) columns, got {tf.columns}"
        )
    base = match_weight(pairs, params, feature_cols, out_col)
    joined = base.join(tf, value_col, "left")
    tf_v = F.col(tf_col[0])
    if tf_floor is not None:
        tf_v = F.greatest(tf_v, F.lit(float(tf_floor)))
    u_f = params.u[tf_field]
    g = F.col(tf_field).cast("double")
    adj = F.when(
        g.isNotNull() & (g == 1.0) & tf_v.isNotNull(),
        (F.lit(math.log(u_f)) - F.log(tf_v)) / math.log(2.0),
    ).otherwise(F.lit(0.0))
    return joined.withColumn(out_col, F.col(out_col) + adj).drop(
        tf_col[0]
    )


def classify_bands(
    scored: DataFrame,
    weight_col: str,
    upper: float,
    lower: float,
    out_col: str = "band",
) -> DataFrame:
    """The Fellegi-Sunter three-way decision rule: weight >= upper →
    'match', weight <= lower → 'non_match', between → 'possible'
    (clerical review). NULL weights classify as 'possible' — an
    unscorable pair is exactly what review queues exist for."""
    if lower > upper:
        raise ValueError(f"lower {lower} > upper {upper}")
    w = F.col(weight_col)
    return scored.withColumn(
        out_col,
        F.when(w >= upper, F.lit("match"))
        .when(w <= lower, F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )
