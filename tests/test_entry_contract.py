"""Driver-contract check: every queries() entry runs at sf0.01; each
oracle_sql() entry must match the Spark result exactly (row count,
column set, order-insensitive values) — emulating the driver gate."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from scripts.check_oracles import TABLES  # noqa: E402
from scripts.plan_dump import checkpoint_plans, formatted_plan, plan_counts  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
PINNED_COUNTS = json.loads(Path(__file__).with_name("plan_counts.json").read_text())


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]) or str(df[c].dtype).startswith(
            "decimal"
        ):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda x: float(x) if hasattr(x, "as_tuple") else x
            )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


QUERY_NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_vs_oracle(spark, duck, name):
    """Built on an empty cache, the query's plan operator counts and those
    of each table it localCheckpoints equal its entries in
    tests/plan_counts.json (regenerate with scripts/plan_dump.py), its
    result matches the oracle, and it leaves nothing cached."""
    spark.catalog.clearCache()
    with checkpoint_plans() as checkpoints:
        df = entry_mod.queries()[name](spark, SF_DIR)
    assert plan_counts(formatted_plan(df)) == PINNED_COUNTS[name]
    n_ck = sum(key.startswith(f"{name}@ck") for key in PINNED_COUNTS)
    assert [plan_counts(text) for text in checkpoints] == [
        PINNED_COUNTS[f"{name}@ck{i}"] for i in range(n_ck)
    ]
    got = df.toPandas()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "query left a cached table behind"
    )
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        assert got.shape[0] >= 0  # rows-only contract
        return
    want = duck.execute(oracles[name]).df()
    g, w = _norm(got), _norm(want)
    assert list(g.columns) == list(w.columns), (list(g.columns), list(w.columns))
    assert len(g) == len(w), f"row count {len(g)} vs oracle {len(w)}"
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n > 0
    assert set(df.columns) == {"url", "entity_id"}
