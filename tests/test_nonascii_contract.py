"""Non-ASCII contract fixture: the string-comparator queries on
a documents table whose texts the sf test tables never contain —
accents, emoji, Hebrew/Arabic, a leading tab, ``ß`` and near-duplicate
rows — must match their unchanged DuckDB oracles row for row.

``rl_damerau`` compares raw UTF-8 bytes (its ``substr`` and
``strlen`` are the oracle's), while ``rl_jaro_duck`` and ``rl_nw_unit``
sanitize to ``[a-z0-9 ]`` first; the lowercase-ASCII sf tables give
all three the same pair columns, so only a table like this one
exercises the byte basis."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402

TEXTS = [
    "café crème brûlée à la carte",
    "cafe creme brulee a la carte",
    "naïve résumé façade — déjà vu, encore une fois über alles",
    "emoji party 🎉🚀 launch day 🎉",
    "emoji party 🎉🚀 launch day!",
    "שלום עולם hello world",
    "مرحبا بالعالم hello world",
    "\tTab-led line with Straße und Fuß",
    "Straße und Fuß with tab-led line",
    "STRASSE UND FUSS WITH TAB-LED LINE",
]
QUERIES = ["rl_damerau", "rl_jaro_duck", "rl_nw_unit"]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A one-block documents table (one source, one lang) with the
    documents schema of the sf tables: every row pair is a candidate pair."""
    out = tmp_path_factory.mktemp("nonascii_sf")
    table = pa.table(
        {
            "doc_id": pa.array(range(len(TEXTS)), pa.int64()),
            "text": pa.array(TEXTS, pa.string()),
            "lang": pa.array(["en"] * len(TEXTS), pa.string()),
            "source": pa.array(["src0"] * len(TEXTS), pa.string()),
            "n_chars": pa.array([len(t) for t in TEXTS], pa.int64()),
        }
    )
    pq.write_table(table, out / "documents.parquet")
    return str(out)


@pytest.mark.parametrize("name", QUERIES)
def test_nonascii_query_vs_oracle(spark, sf_dir, name):
    got = entry_mod.queries()[name](spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(entry_mod.oracle_sql()[name])
    cols = [d[0] for d in want.description]
    assert sorted(got.columns) == sorted(cols)
    want_rows = sorted(want.fetchall())
    got_rows = sorted(tuple(r) for r in got.select(*cols).collect())
    n = len(TEXTS)
    assert len(want_rows) == n * (n - 1) // 2
    assert got_rows == want_rows
