"""Metrics / lineage table + resumability (FIXTURES.md §4).

Every pipeline stage appends per-partition lineage rows and one
completion row (partition_id = -1) to a parquet ``metrics`` table under
the run workdir. Resume = a stage whose completion row exists for the
run_id is skipped and its parquet output is read back instead of
recomputed (the reference's analogue is its CSV stage-file chain,
SURVEY §1.2; here the stage boundary doubles as checkpoint).

Each append is one parquet file, written by the driver with pyarrow
under a ``_``-prefixed name and renamed into place as
``part-<uuid>.parquet``: a handful of control rows costs no Spark job,
and a crash mid-write leaves only a name Spark and pyarrow both skip.
The schema is ``METRICS_SCHEMA`` either way, so tables holding parts
written by Spark (INT96 timestamps, ``_SUCCESS``) read back unchanged.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from idd_hw6_record_linkage_spark.schema import METRICS_SCHEMA

_ARROW_SCHEMA = to_arrow_schema(METRICS_SCHEMA)


def _metrics_path(workdir: str) -> str:
    return os.path.join(workdir, "metrics")


def per_partition_counts(df: DataFrame) -> list[tuple[int, int]]:
    """(partition_id, row_count) lineage for a stage output."""
    rows = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .collect()
    )
    return [(int(r["__pid"]), int(r["count"])) for r in rows]


def append_stage_metrics(
    workdir: str,
    run_id: str,
    stage: str,
    df_out: DataFrame | None,
    rows_in: int | None = None,
    pair_count: int | None = None,
    match_count: int | None = None,
) -> None:
    now = _dt.datetime.now(_dt.timezone.utc)
    records = []
    rows_out_total = None
    if df_out is not None:
        parts = per_partition_counts(df_out)
        rows_out_total = sum(n for _, n in parts)
        for pid, n in parts:
            records.append((run_id, stage, pid, None, n, None, None, None, now))
    match_rate = (
        match_count / pair_count if (pair_count and match_count is not None) else None
    )
    records.append(
        (
            run_id,
            stage,
            -1,
            rows_in,
            rows_out_total,
            pair_count,
            match_count,
            match_rate,
            now,
        )
    )
    table = pa.Table.from_pylist(
        [dict(zip(_ARROW_SCHEMA.names, r)) for r in records], schema=_ARROW_SCHEMA
    )
    path = _metrics_path(workdir)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "_" + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def completed_stages(workdir: str, run_id: str) -> set[str]:
    """Stages holding a completion row for ``run_id``. A workdir with no
    metrics table has none; a table that cannot be read raises rather
    than re-running every stage on top of it."""
    path = _metrics_path(workdir)
    if not os.path.exists(path):
        return set()
    cols = ["run_id", "stage", "partition_id"]
    done = ds.dataset(
        path, schema=pa.schema([_ARROW_SCHEMA.field(c) for c in cols]),
        format="parquet",
    ).to_table(
        columns=["stage"],
        filter=(ds.field("run_id") == run_id) & (ds.field("partition_id") == -1),
    )
    return set(done.column("stage").to_pylist())


def read_metrics(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.parquet(_metrics_path(workdir))
