"""Shared plumbing for the linkage benchmark: paths, the Spark session,
seeded inputs, statistics, operation counting and memory sampling.

Nothing here imports Spark at module load, so the self-tests in
``test_perfbench.py`` run without a JVM.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4


# --- statistics -----------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# --- operations -----------------------------------------------------------


class OpCounter:
    """Counts operations attempted and failed. An operation fails when
    it raises or when its output check returns a message."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, op, check=None, weight: int = 1):
        """Run ``op()``; then ``check(result)``, which returns None when
        the output is right and a message otherwise. ``weight`` is the
        number of operations the call stands for, or a callable of the
        result giving it (one when the op raised). Returns the result,
        or None when the op raised."""
        try:
            result = op()
        except Exception as exc:  # noqa: BLE001 - any failure counts
            traceback.print_exc()
            n = 1 if callable(weight) else weight
            self.attempted += n
            self.failed += n
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            return None
        n = weight(result) if callable(weight) else weight
        self.attempted += n
        problem = check(result) if check else None
        if problem:
            self.failed += n
            self.errors.append(f"{name}: {problem}")
        return result

    def fail(self, name: str, problem: str) -> None:
        """Record a failed check on an operation already counted."""
        self.failed += 1
        self.errors.append(f"{name}: {problem}")

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# --- processes and memory ---------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share most of theirs) count once across the tree, not per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the summed PSS of a process tree (the JVM and the Python
    workers it forks) every ``period`` seconds while active."""

    def __init__(self, root_pid: int, period: float = 0.2) -> None:
        self.root_pid = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        kb = sum(_pss_kb(p) for p in process_tree(self.root_pid))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def load_1m() -> float:
    return os.getloadavg()[0]


# --- Spark session -----------------------------------------------------------


def prepare_workdir() -> None:
    """Start from an empty work directory inside the checkout and keep
    every temporary file of Spark, the JVM and Python workers in it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Timestamps Spark hands back are naive local times; pin them to UTC.
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # No JVM perf-data files under /tmp, for the launcher JVM or the driver.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(trace: bool) -> dict[str, str]:
    """Benchmark-only settings layered over the package's defaults."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": "-Duser.timezone=UTC -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(trace: bool):
    from idd_hw6_record_linkage_spark.session import get_spark

    spark = get_spark(master=f"local[{CORES}]", extra_conf=spark_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(
        _pss_kb(p) for p in tree
    ):
        time.sleep(0.1)


# --- seeded inputs -------------------------------------------------------------


def seeded_raw(spark, n_entities: int, seed: int, n_domains: int | None = None):
    """The generator's raw table (pages + truth columns) for a fresh
    corpus per seed: the generator keys each entity's RNG by its id,
    so a shifted id range gives new entities with the same skew."""
    from idd_hw6_record_linkage_spark.sources import generator as G

    if n_domains is None:
        n_domains = max(20, n_entities // 40)
    start = (seed % 99_991) * 100_000
    return spark.range(start, start + n_entities, 1, 8).mapInPandas(
        lambda it: G._entity_batch(it, n_domains), schema=G._GEN_SCHEMA
    )


PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def fingerprint(df, cols: list[str]) -> tuple[int, int]:
    """Order-independent (row count, xor of row hashes)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])
