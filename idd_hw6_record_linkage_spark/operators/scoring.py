"""Pairwise scoring: feature matrix → match probability → edges.

Mirrors the reference lifecycle (record_linkage.py:457-519): candidate
pairs × comparator config → feature matrix → classifier probability →
threshold with 0.5→0.3 fallback. Here the feature matrix is a pairs
DataFrame with one similarity column per comparator (SURVEY §1.1), the
classifier is either a fixed weighted mean (rule scorer) or a
``pyspark.ml`` LogisticRegression, and the fallback is a driver-side
count — identical control flow to record_linkage.py:508-519.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.functions import similarity as S
from idd_hw6_record_linkage_spark.operators.blocking import attach_pair_attributes


@dataclass(frozen=True)
class Comparator:
    """One comparator column of the feature matrix.

    kinds: jarowinkler | jaro | levenshtein | exact | gauss | jaccard
    (| cosine for array columns). ``threshold`` applies recordlinkage's
    `threshold=` binarization (record_linkage.py:280-289); ``scale``
    is the gauss kernel scale (record_linkage.py:292-295).
    """

    name: str
    kind: str
    col: str
    threshold: float | None = None
    scale: float | None = None

    def expr(self, lcol: str, rcol: str):
        if self.kind == "jarowinkler":
            sim = S.sim_jaro_winkler(lcol, rcol)
        elif self.kind == "jaro":
            sim = S.sim_jaro(lcol, rcol)
        elif self.kind == "levenshtein":
            sim = S.sim_levenshtein(lcol, rcol)
        elif self.kind == "exact":
            sim = S.sim_exact(lcol, rcol)
        elif self.kind == "gauss":
            sim = S.sim_gauss(lcol, rcol, self.scale or 1.0)
        elif self.kind == "jaccard":
            sim = S.sim_jaccard_tokens(lcol, rcol)
        elif self.kind == "jaccard_arrays":
            sim = S.sim_jaccard_token_arrays(lcol, rcol)
        elif self.kind == "cosine":
            sim = S.sim_cosine_arrays(lcol, rcol)
        else:  # pragma: no cover
            raise ValueError(f"unknown comparator kind: {self.kind}")
        if self.threshold is not None:
            sim = S.thresholded(sim, self.threshold)
        return sim.alias(self.name)


@dataclass(frozen=True)
class ComparatorConfig:
    """A named comparator set (analogue of COMPARISON_CONFIGS,
    record_linkage.py:377-381)."""

    name: str
    comparators: tuple[Comparator, ...]
    weights: dict[str, float] = field(default_factory=dict)


# Web-graft configs: roles per SURVEY §1.3 (domain→brand,
# sorted-title→model, text→description, n_chars→price-like numeric).
WEB_P1 = ComparatorConfig(
    "P1_textual_core",
    (
        Comparator("domain_sim", "jarowinkler", "domain", threshold=0.85),
        # long token-sorted titles need a stricter JW cut than the
        # reference's 0.75 on short model strings — JW is lenient on
        # long strings over a shared alphabet.
        Comparator("title_sim", "jarowinkler", "title_norm", threshold=0.9),
        # description comparator binarized at 0.6 like the reference's
        # description_sim (record_linkage.py:288-289, threshold=0.6);
        # operates on the per-record precomputed token array, not the
        # raw string (tokenize once, not once per pair).
        Comparator("text_sim", "jaccard_arrays", "text_tokens", threshold=0.6),
        Comparator("nchars_sim", "gauss", "n_chars", scale=50.0),
    ),
    # domain equality is weak evidence (it is the blocking key); the
    # discriminative fields are title and body text. Weights chosen so
    # no single textual feature + domain can reach the 0.5 threshold:
    # title(2.0)+domain(0.4) = 2.4 < 0.5*4.9.
    weights={"domain_sim": 0.4, "title_sim": 2.0, "text_sim": 2.0, "nchars_sim": 0.5},
)
WEB_P3 = ComparatorConfig(
    "P3_minimal_fast",
    (
        Comparator("domain_exact", "exact", "domain"),
        Comparator("title_sim", "levenshtein", "title_norm", threshold=0.75),
        Comparator("lang_exact", "exact", "lang"),
        Comparator("nchars_sim", "gauss", "n_chars", scale=50.0),
    ),
)


# Reference comparator configs, thresholds/scales verbatim from
# record_linkage.py:271-381 (COMPARISON_CONFIGS) over the mediated car
# schema (SURVEY §1.3).
REF_P1 = ComparatorConfig(
    "P1_textual_core",
    (
        Comparator("brand_sim", "jarowinkler", "brand", threshold=0.85),
        Comparator("model_sim", "jarowinkler", "model", threshold=0.75),
        Comparator("body_type_sim", "jarowinkler", "body_type", threshold=0.8),
        Comparator("description_sim", "jaro", "description", threshold=0.6),
        Comparator("price_sim", "gauss", "price", scale=5000),
        Comparator("mileage_sim", "gauss", "mileage", scale=10000),
    ),
)
REF_P2 = ComparatorConfig(
    "P2_plus_location",
    REF_P1.comparators
    + (
        Comparator("transmission_exact", "exact", "transmission"),
        Comparator("fuel_type_exact", "exact", "fuel_type"),
        Comparator("drive_exact", "exact", "drive"),
        Comparator("city_region_sim", "jarowinkler", "city_region", threshold=0.8),
        Comparator("state_exact", "exact", "state"),
        Comparator("year_exact", "exact", "year"),
    ),
)
REF_P3 = ComparatorConfig(
    "P3_minimal_fast",
    (
        Comparator("brand_sim", "jarowinkler", "brand", threshold=0.85),
        Comparator("model_sim", "jarowinkler", "model", threshold=0.75),
        Comparator("year_exact", "exact", "year"),
        Comparator("price_sim", "gauss", "price", scale=5000),
        Comparator("mileage_sim", "gauss", "mileage", scale=10000),
    ),
)
REF_CONFIGS = {"P1_textual_core": REF_P1, "P2_plus_location": REF_P2,
               "P3_minimal_fast": REF_P3}


def compute_features(
    pairs: DataFrame, records: DataFrame, config: ComparatorConfig, id_col: str = "url"
) -> DataFrame:
    """Feature matrix: (id_l, id_r, <one column per comparator>)."""
    return compute_features_two(pairs, records, records, config, id_col)


def compute_features_two(
    pairs: DataFrame,
    records_l: DataFrame,
    records_r: DataFrame,
    config: ComparatorConfig,
    id_col: str = "url",
) -> DataFrame:
    """Two-source feature matrix (reference main case: Craigslist × US
    record tables, record_linkage.py:457-459): left ids resolve against
    records_l, right against records_r."""
    cols = sorted({c.col for c in config.comparators})
    enriched = attach_pair_attributes(pairs, records_l, cols, id_col, records_r)
    return compute_features_enriched(enriched, config)


def compute_features_enriched(
    enriched: DataFrame, config: ComparatorConfig
) -> DataFrame:
    """Feature matrix over a PRE-ENRICHED pair table (one row per pair
    with `<col>_l` / `<col>_r` attribute columns, e.g. from
    :func:`attach_pair_attributes` or a bucketed/co-partitioned join
    materialized upstream). Map-only: comparator expressions + Arrow
    UDF batches, no shuffle — the shape the scoring stage has on a
    cluster where pair enrichment is co-located by bucketing."""
    feats = [c.expr(f"{c.col}_l", f"{c.col}_r") for c in config.comparators]
    return enriched.select("id_l", "id_r", *feats)


def score(features: DataFrame, config: ComparatorConfig) -> DataFrame:
    """Weighted mean of feature columns → `score` (rule scorer; the
    reference's LR learns approximately uniform weights over already-
    binarized features, record_linkage.py:461-505)."""
    names = [c.name for c in config.comparators]
    weights = {n: config.weights.get(n, 1.0) for n in names}
    total = sum(weights.values())
    expr = sum((F.col(n) * (weights[n] / total) for n in names), F.lit(0.0))
    return features.withColumn("score", expr)


def threshold_with_fallback(
    scored: DataFrame, threshold: float = 0.5, fallback: float = 0.3
) -> tuple[DataFrame, float]:
    """M3 semantics (record_linkage.py:508-519): keep pairs with
    score >= threshold; if none, retry at the fallback threshold.
    Returns (edges, threshold_used). The data-dependent branch is a
    driver-side count, replayed identically for parity.

    When ``scored`` is persisted, the cache is fully materialized here
    first: a bare ``limit(1)`` probe early-exits the final scoring map
    stage and leaves the cache PARTIAL, so every downstream consumer
    (clustering, evaluation) silently re-runs the whole Arrow scoring
    pass — ~20% of flagship wall time at sf0.1."""
    if scored.is_cached:
        scored.count()
    edges = scored.where(F.col("score") >= F.lit(threshold))
    if edges.limit(1).count() > 0:
        return edges, threshold
    return scored.where(F.col("score") >= F.lit(fallback)), fallback


def fit_logistic_regression(features: DataFrame, labels: DataFrame,
                            config: ComparatorConfig):
    """M1: train pyspark.ml LogisticRegression on labeled pairs
    (record_linkage.py:471-472). labels: (id_l, id_r, label).

    Candidate pairs are canonicalized ``id_l < id_r``; externally
    supplied label files may order each pair either way, so labels are
    canonicalized with least/greatest before the join — otherwise
    reversed-order labels silently drop training rows. An empty joined
    training set raises a clear error here instead of an opaque
    pyspark.ml failure downstream."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    names = [c.name for c in config.comparators]
    labels = labels.select(
        F.least("id_l", "id_r").alias("id_l"),
        F.greatest("id_l", "id_r").alias("id_r"),
        "label",
    )
    train = features.join(labels, ["id_l", "id_r"])
    if train.limit(1).count() == 0:
        raise ValueError(
            "scorer='lr': no labeled pairs matched the candidate set — "
            "check the label id columns reference the same record ids "
            "and that the labeled pairs survive blocking"
        )
    assembler = VectorAssembler(inputCols=names, outputCol="fvec")
    lr = LogisticRegression(featuresCol="fvec", labelCol="label", maxIter=50)
    model = lr.fit(assembler.transform(train))
    return assembler, model


def predict_probability(features: DataFrame, assembler, model) -> DataFrame:
    """M2: probability of match per pair → `score`."""
    from pyspark.ml.functions import vector_to_array

    out = model.transform(assembler.transform(features))
    return out.withColumn(
        "score", vector_to_array("probability").getItem(1)
    ).drop("fvec", "rawPrediction", "probability", "prediction")
