"""Dump the formatted physical plan of every contract query and of the
flagship's pairs and score stages, one file each, plus their operator
counts, for plan-parity diffs.

Each ``<out_dir>/<name>.txt`` holds ``explain("formatted")`` of
``queries()[name](spark, sf_dir)``, built on an empty cache. A query
that calls ``localCheckpoint`` while it is built reads each checkpoint
back as ``Scan ExistingRDD``, so its plan shows nothing below one;
``<name>@ck<i>.txt`` holds the plan of the i-th table it checkpointed,
in call order, taken just before the checkpoint (:func:`checkpoint_plans`).
``run_in_memory.pairs.txt`` and ``run_in_memory.score.txt`` hold the
cached pairs and score stages of ``run_in_memory`` over a fixed
200-entity generated corpus, and ``link_sources.pairs.txt`` the pairs
stage of ``link_sources`` over the same corpus split in two by url
hash (the one block cap taken over two key tables). Expression ids
(``#123``), RDD ids (``[123]``), plan ids and the session-wide lambda
variable counters (``lambda x_123``) are masked, so two dumps
of the same plans are byte-identical and parity between two commits is

    python scripts/plan_dump.py /path/to/sf0.01 /tmp/a   # commit A
    python scripts/plan_dump.py /path/to/sf0.01 /tmp/b   # commit B
    diff -r /tmp/a /tmp/b

``<out_dir>/plan_counts.json`` maps every plan name to
:func:`plan_counts` of its text. The sf0.01 file is committed as
``tests/plan_counts.json``, which the contract and plan tests check
every query and flagship stage against; a plan change then shows up
as a diff of that file.

Queries run their own eager steps (counts, checkpoints) while the plan
is built, so point it at a small sf directory.

Usage: python scripts/plan_dump.py <sf_dir> <out_dir>
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(RDD|Relation|rdd)\[\d+\]"), r"\1[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bat [\w.<>$]+:\d+"), "at <site>"),
    (re.compile(r"\b(lambda \w+?)_\d+"), r"\1_N"),
]


def formatted_plan(df) -> str:
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for pat, repl in _MASKS:
        text = pat.sub(repl, text)
    return text


# One node per "(N) Name [codegen id : k]" header of the formatted
# plan's detail section; an Exchange is keyed by the partitioning kind
# that opens its Arguments line.
_NODE = re.compile(r"^\(\d+\) ([^\[\n]*?)\s*(?:\[codegen id : \d+\])?$", re.M)
_EXCHANGE_KIND = re.compile(r"^Arguments: (\w+)", re.M)
_COUNTED = re.compile(
    r"BroadcastExchange|\w+Join|CartesianProduct|ArrowEvalPython"
    r"|BatchEvalPython|\w+InPandas|Scan parquet|InMemoryTableScan"
)


def plan_counts(text: str) -> dict[str, int]:
    """``{operator: n}`` over a :func:`formatted_plan` text: exchanges by
    partitioning (``Exchange:hashpartitioning``, ...), broadcasts, each
    join kind, cartesians, Python eval and ``*InPandas`` nodes, parquet
    scans and cache scans."""
    counts: Counter = Counter()
    for node in _NODE.finditer(text):
        name = node.group(1)
        if name == "Exchange":
            name += ":" + _EXCHANGE_KIND.search(text, node.end()).group(1)
        elif not _COUNTED.fullmatch(name):
            continue
        counts[name] += 1
    return dict(sorted(counts.items()))


@contextmanager
def checkpoint_plans():
    """Yield a list that gets the :func:`formatted_plan` of every
    DataFrame checkpointed with ``localCheckpoint`` inside the block, in
    call order, taken just before the checkpoint cuts its lineage."""
    from pyspark.sql.classic.dataframe import DataFrame

    recorded: list[str] = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        recorded.append(formatted_plan(self))
        return checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        yield recorded
    finally:
        DataFrame.localCheckpoint = checkpoint


def flagship_plans(spark) -> dict[str, str]:
    """Formatted plans of the flagship's cached stages over a fixed
    200-entity generated corpus: ``run_in_memory`` pairs and score, and
    ``link_sources`` pairs over the corpus split in two by url hash."""
    from pyspark.sql import functions as F

    from idd_hw6_record_linkage_spark.plans.pipeline import link_sources, run_in_memory
    from idd_hw6_record_linkage_spark.sources.generator import generate_raw

    pages = generate_raw(spark, 200).select("url", "warc_ts", "html", "text", "lang")
    res = run_in_memory(spark, pages)
    out = {
        "run_in_memory.pairs": formatted_plan(res["pairs"]),
        "run_in_memory.score": formatted_plan(res["scored"]),
    }
    res["release"]()
    half = F.xxhash64("url") % 2 == 0
    res = link_sources(spark, pages.where(half), pages.where(~half))
    out["link_sources.pairs"] = formatted_plan(res["pairs"])
    res["release"]()
    return out


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__.rsplit("Usage: ", 1)[1].strip())
    sf_dir, out_dir = sys.argv[1], sys.argv[2]

    import __spark_entry__ as entry
    from idd_hw6_record_linkage_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    counts = {}

    def write(name: str, text: str) -> None:
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        counts[name] = plan_counts(text)

    for name, fn in entry.queries().items():
        spark.catalog.clearCache()
        try:
            with checkpoint_plans() as checkpoints:
                text = formatted_plan(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record it, keep dumping
            write(name, f"ERROR {type(exc).__name__}: {exc}\n")
            continue
        write(name, text)
        for i, ck in enumerate(checkpoints):
            write(f"{name}@ck{i}", ck)
    spark.catalog.clearCache()
    for name, text in flagship_plans(spark).items():
        write(name, text)
    with open(os.path.join(out_dir, "plan_counts.json"), "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
