"""End-to-end reference-lifecycle test: mediated car records in two
sources, VIN-style truth, B1/B2 blocking, P1/P3 comparator configs,
LR + threshold fallback → F1 (record_linkage.py:588-693 analogue)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from idd_hw6_record_linkage_spark.plans.reference_pipeline import (
    run_all_pipelines,
    run_reference_pipeline,
)

BRANDS = ["chevrolet", "ford", "toyota", "bmw", "honda", "nissan"]
SYN = {"chevrolet": "chevy", "bmw": "bmw", "ford": "ford",
       "toyota": "toyota", "honda": "honda", "nissan": "nissan"}
MODELS = ["silverado", "f150", "corolla", "m3", "civic", "altima",
          "tahoe", "mustang", "camry", "x5", "accord", "sentra"]
BODIES = ["pickup", "sedan", "suv", "coupe"]
WORDS = ("clean title runs great low miles one owner garage kept new tires "
         "recent service cold ac power windows leather seats").split()


@pytest.fixture(scope="module")
def car_data(spark):
    rng = random.Random(42)
    craig, us, truth = [], [], []
    for e in range(90):
        brand = rng.choice(BRANDS)
        model = rng.choice(MODELS)
        year = rng.randint(2005, 2020)
        price = rng.uniform(5000, 40000)
        mileage = rng.uniform(10000, 150000)
        body = rng.choice(BODIES)
        desc_words = rng.sample(WORDS, 8)
        desc = " ".join(desc_words)
        cid, uid = f"c{e:03d}", f"u{e:03d}"
        trans = rng.choice(["automatic", "manual"])
        fuel = rng.choice(["gas", "diesel", "hybrid"])
        drive = rng.choice(["fwd", "rwd", "4wd"])
        city = rng.choice(["dallas", "austin", "houston", "denver", "miami"])
        state = rng.choice(["tx", "co", "fl"])
        craig.append((cid, SYN.get(brand, brand), model, year,
                      price + rng.uniform(-500, 500),
                      mileage + rng.uniform(-1000, 1000), body, desc,
                      trans, fuel, drive, city, state))
        # us-side: same entity, small perturbations within thresholds
        us.append((uid, brand, model + ("s" if rng.random() < 0.3 else ""),
                   year, price, mileage, body, " ".join(desc_words),
                   trans, fuel, drive, city, state))
        truth.append((cid, uid))
    schema = (
        "source_id string, brand string, model string, year int, "
        "price double, mileage double, body_type string, description string, "
        "transmission string, fuel_type string, drive string, "
        "city_region string, state string"
    )
    # per-split record frames, like the reference's split GT table
    # (record_linkage.py:588-640): entities 0-62 train, 63-89 test
    c_train = spark.createDataFrame(craig[:63], schema).cache()
    u_train = spark.createDataFrame(us[:63], schema).cache()
    c_test = spark.createDataFrame(craig[63:], schema).cache()
    u_test = spark.createDataFrame(us[63:], schema).cache()
    t_train = spark.createDataFrame(truth[:63], "id_l string, id_r string").cache()
    t_test = spark.createDataFrame(truth[63:], "id_l string, id_r string").cache()
    return c_train, u_train, t_train, c_test, u_test, t_test


def test_p3_b1_f1(spark, car_data):
    res = run_reference_pipeline(
        *car_data, comparison_config="P3_minimal_fast", blocking_strategy="B1",
    )
    # brand synonyms normalized by B1 key; year exact → PC must be 1.0
    assert res.pairs_completeness == 1.0
    assert res.prf1.f1 >= 0.95, (res.prf1, res.n_candidates)


def test_p1_b2_f1(spark, car_data):
    res = run_reference_pipeline(
        *car_data, comparison_config="P1_textual_core", blocking_strategy="B2",
    )
    # B2 loses synonym-brand pairs (chevy vs chevrolet) because its key
    # has no synonym map — exactly like the reference, where B2 PC
    # (0.9649) trails B1 (1.0). Fixture plants ~10% synonym brands.
    assert 0.8 <= res.pairs_completeness < 1.0
    assert res.prf1.f1 >= 0.85, (res.prf1, res.n_candidates)


def test_all_six_pipelines_rank(spark, car_data):
    results = run_all_pipelines(*car_data)
    assert len(results) == 6
    f1s = [r.prf1.f1 for r in results]
    assert f1s == sorted(f1s, reverse=True)
    combos = {(r.pipeline, r.blocking_strategy) for r in results}
    assert len(combos) == 6
    assert max(f1s) >= 0.95


def test_run_releases_its_caches(spark, car_data):
    spark.catalog.clearCache()
    run_reference_pipeline(
        *car_data, comparison_config="P3_minimal_fast", blocking_strategy="B1",
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
