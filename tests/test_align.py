"""Alignment-cleaner parity (F8-F17): Spark exprs vs direct
restatements of align_dataset.py:97-264 semantics, value-for-value,
including NaN/'nan' edge rows (FIXTURES.md §5)."""

from __future__ import annotations

import re

from idd_hw6_record_linkage_spark.functions.align import (
    BODY_MAP,
    CRAIG_COND_MAP,
    DRIVE_MAP,
    FUEL_STD,
    TRANS_MAP,
    clean_body_expr,
    clean_cylinders_expr,
    clean_drive_expr,
    clean_fuel_expr,
    clean_trans_expr,
    craig_condition_expr,
    derive_us_condition_expr,
    lower_strip_expr,
    vin_canonical_expr,
    zip_clean_expr,
)


# --- reference restatements (align_dataset.py) ------------------------------

def ref_clean_cylinders(val):
    if val is None or str(val).lower() == "nan":
        return "other"
    m = re.search(r"\d+", str(val))
    return m.group() if m else "other"


def ref_clean_fuel(val):
    if val is None:
        return "other"
    return FUEL_STD.get(str(val).lower().strip(), "other")


def ref_clean_body(val):
    if val is None:
        return "other"
    v = str(val).lower().strip()
    return BODY_MAP.get(v, v)


def ref_clean_trans_us(display, code):
    d = str(display if display is not None else float("nan")).lower()
    c = str(code if code is not None else float("nan")).lower()
    if "automatic" in d or "auto" in d:
        return "automatic"
    if "manual" in d:
        return "manual"
    return TRANS_MAP.get(c, "other")


def ref_clean_trans_craig(display):
    d = str(display if display is not None else float("nan")).lower()
    if "auto" in d:
        return "automatic"
    if "man" in d:
        return "manual"
    return "other"


def ref_clean_drive_us(display, code):
    d = str(display if display is not None else float("nan")).lower()
    c = str(code if code is not None else float("nan")).lower()
    for key in DRIVE_MAP:
        if key in d:
            return DRIVE_MAP[key]
    return DRIVE_MAP.get(c, "other")


def ref_clean_drive_craig(val):
    v = str(val if val is not None else float("nan")).lower().strip()
    return DRIVE_MAP.get(v, "other")


def ref_derive_us_condition(is_new, accidents, mileage):
    if is_new is True:
        return "new"
    m = float(mileage) if mileage is not None else float("nan")
    if accidents is True:
        if m < 50000:
            return "good"
        return "fair"
    if m < 15000:
        return "excellent"
    if m < 60000:
        return "good"
    if m < 120000:
        return "fair"
    return "poor"


def ref_craig_condition(val):
    v = str(val if val is not None else float("nan")).lower()
    return CRAIG_COND_MAP.get(v, "good")


def ref_lower_strip(val):
    return str(val if val is not None else float("nan")).lower().strip()


def ref_vin(val):
    s = str(val if val is not None else float("nan")).upper()
    return re.sub(r"[^A-Z0-9]", "", s).strip()


def ref_zip(val):
    return str(val).split(".")[0].zfill(5)[:5]


# --- fixtures ----------------------------------------------------------------

CYL = [None, "4 cylinders", "V6", "other", "8", "twelve", "3.0L V6"]
FUEL = [None, "Gasoline", " gas ", "DIESEL", "plugin", "hybrid", "electric"]
BODY = [None, "Pickup Truck", "SUV / Crossover", "sedan", "limo", " Mini-Van "]
TRANS = [(None, None), ("Automatic", "x"), ("8-Speed Auto", None),
         ("MANUAL shift", "m"), ("steptronic", "cvt"), ("steptronic", "z")]
DRIVE = [(None, None), ("All-Wheel Drive", "x"), ("4x4 offroad", None),
         ("unknown", "fwd"), ("Front-Wheel Drive plus", "rwd"), ("weird", "z")]
COND_US = [(True, False, 100.0), (False, True, 20000.0), (False, True, None),
           (False, True, 80000.0), (False, False, 10000.0),
           (False, False, 50000.0), (False, False, 100000.0),
           (False, False, 200000.0), (False, False, None)]
COND_CRAIG = [None, "Like New", "EXCELLENT", "salvage", "mint", "fair"]
STRS = [None, "  MiXeD Case  ", "ok"]
VINS = [None, "1hgcm82633a004352", "ab-12.cd 34", ""]
ZIPS = ["501", "12345.0", "123456", "7"]


def test_clean_cylinders(spark):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(CYL)], "i int, v string")
    got = {r["i"]: r["c"] for r in df.select("i", clean_cylinders_expr("v").alias("c")).collect()}
    for i, v in enumerate(CYL):
        assert got[i] == ref_clean_cylinders(v), v


def test_clean_fuel_body(spark):
    df = spark.createDataFrame(
        [(i, f, b) for i, (f, b) in enumerate(zip(FUEL, BODY))],
        "i int, f string, b string",
    )
    got = {
        r["i"]: (r["f2"], r["b2"])
        for r in df.select(
            "i", clean_fuel_expr("f").alias("f2"), clean_body_expr("b").alias("b2")
        ).collect()
    }
    for i, (f, b) in enumerate(zip(FUEL, BODY)):
        assert got[i] == (ref_clean_fuel(f), ref_clean_body(b)), (f, b)


def test_clean_trans_drive(spark):
    rows = [(i, d, c, dd, dc) for i, ((d, c), (dd, dc)) in enumerate(zip(TRANS, DRIVE))]
    df = spark.createDataFrame(rows, "i int, t string, tc string, d string, dc string")
    got = {
        r["i"]: (r["tu"], r["tc2"], r["du"], r["dc2"])
        for r in df.select(
            "i",
            clean_trans_expr("t", "tc", "us").alias("tu"),
            clean_trans_expr("t", source="craig").alias("tc2"),
            clean_drive_expr("d", "dc", "us").alias("du"),
            clean_drive_expr("d", source="craig").alias("dc2"),
        ).collect()
    }
    for i, ((t, tc), (d, dc)) in enumerate(zip(TRANS, DRIVE)):
        assert got[i][0] == ref_clean_trans_us(t, tc), (t, tc)
        assert got[i][1] == ref_clean_trans_craig(t), t
        assert got[i][2] == ref_clean_drive_us(d, dc), (d, dc)
        assert got[i][3] == ref_clean_drive_craig(d), d


def test_conditions(spark):
    rows = [(i, n, a, m) for i, (n, a, m) in enumerate(COND_US)]
    df = spark.createDataFrame(rows, "i int, n boolean, a boolean, m double")
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", derive_us_condition_expr("n", "a", "m").alias("c")
        ).collect()
    }
    for i, (n, a, m) in enumerate(COND_US):
        assert got[i] == ref_derive_us_condition(n, a, m), (n, a, m)

    df2 = spark.createDataFrame(
        [(i, v) for i, v in enumerate(COND_CRAIG)], "i int, v string"
    )
    got2 = {
        r["i"]: r["c"]
        for r in df2.select("i", craig_condition_expr("v").alias("c")).collect()
    }
    for i, v in enumerate(COND_CRAIG):
        assert got2[i] == ref_craig_condition(v), v


def test_lower_strip_vin_zip(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(STRS)], "i int, s string")
    got = {r["i"]: r["x"] for r in df.select("i", lower_strip_expr("s").alias("x")).collect()}
    for i, s in enumerate(STRS):
        assert got[i] == ref_lower_strip(s), s

    dfv = spark.createDataFrame([(i, v) for i, v in enumerate(VINS)], "i int, v string")
    gotv = {r["i"]: r["x"] for r in dfv.select("i", vin_canonical_expr("v").alias("x")).collect()}
    for i, v in enumerate(VINS):
        assert gotv[i] == ref_vin(v), v

    dfz = spark.createDataFrame([(i, z) for i, z in enumerate(ZIPS)], "i int, z string")
    gotz = {r["i"]: r["x"] for r in dfz.select("i", zip_clean_expr("z").alias("x")).collect()}
    for i, z in enumerate(ZIPS):
        assert gotz[i] == ref_zip(z), z


def test_zip_state_enrich(spark):
    """J6/S7: the ZIP lookup cleans both sides' zips, fills only a
    missing state, keeps rows without a match (NULL zip included) and
    joins the deduplicated lookup by broadcast."""
    from idd_hw6_record_linkage_spark.operators.alignment import zip_state_enrich

    lut = spark.createDataFrame(
        [("501", "NY"), ("00501", "NY"), ("12345", "CA"), ("99999", "AK")],
        "zip string, state string",
    )
    df = spark.createDataFrame(
        [(1, "501", None), (2, "12345.0", None), (3, None, None),
         (4, "54321", None), (5, "12345", "TX")],
        "i int, zip string, state string",
    )
    out = zip_state_enrich(df, lut)
    got = {r["i"]: (r["zip"], r["state"]) for r in out.collect()}
    assert got == {1: ("501", "NY"), 2: ("12345.0", "CA"), 3: (None, None),
                   4: ("54321", None), 5: ("12345", "TX")}
    assert out.columns == ["i", "zip", "state"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
