"""Dump the formatted physical plan of every contract query and of the
flagship's pairs and score stages, one file each, for plan-parity diffs.

Each ``<out_dir>/<name>.txt`` holds ``explain("formatted")`` of
``queries()[name](spark, sf_dir)``; ``run_in_memory.pairs.txt`` and
``run_in_memory.score.txt`` hold the cached pairs and score stages of
``run_in_memory`` over a fixed 200-entity generated corpus, and
``link_sources.pairs.txt`` the pairs stage of ``link_sources`` over the
same corpus split in two by url hash (the one block cap taken over two
key tables). Expression
ids (``#123``), RDD ids (``[123]``) and plan ids are masked, so two
dumps of the same plans are byte-identical and parity between two
commits is

    python scripts/plan_dump.py /path/to/sf0.01 /tmp/a   # commit A
    python scripts/plan_dump.py /path/to/sf0.01 /tmp/b   # commit B
    diff -r /tmp/a /tmp/b

Queries run their own eager steps (counts, checkpoints) while the plan
is built, so point it at a small sf directory.

Usage: python scripts/plan_dump.py <sf_dir> <out_dir>
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(RDD|Relation|rdd)\[\d+\]"), r"\1[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bat [\w.<>$]+:\d+"), "at <site>"),
]


def formatted_plan(df) -> str:
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for pat, repl in _MASKS:
        text = pat.sub(repl, text)
    return text


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__.rsplit("Usage: ", 1)[1].strip())
    sf_dir, out_dir = sys.argv[1], sys.argv[2]

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from idd_hw6_record_linkage_spark.plans.pipeline import link_sources, run_in_memory
    from idd_hw6_record_linkage_spark.session import get_spark
    from idd_hw6_record_linkage_spark.sources.generator import generate_raw

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    def write(name: str, text: str) -> None:
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)

    for name, fn in entry.queries().items():
        try:
            write(name, formatted_plan(fn(spark, sf_dir)))
        except Exception as exc:  # noqa: BLE001 — record it, keep dumping
            write(name, f"ERROR {type(exc).__name__}: {exc}\n")

    pages = generate_raw(spark, 200).select("url", "warc_ts", "html", "text", "lang")
    res = run_in_memory(spark, pages)
    write("run_in_memory.pairs", formatted_plan(res["pairs"]))
    write("run_in_memory.score", formatted_plan(res["scored"]))
    res["release"]()
    half = F.xxhash64("url") % 2 == 0
    res = link_sources(spark, pages.where(half), pages.where(~half))
    write("link_sources.pairs", formatted_plan(res["pairs"]))
    res["release"]()
    spark.stop()


if __name__ == "__main__":
    main()
