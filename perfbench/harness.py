"""Process set-up, the Spark session and the DuckDB oracle shared by
``run.py`` (the benchmark) and ``select_entries.py`` (the tool that
measured which catalog entries each workload runs).

Everything a run writes lands in ``.bench_work/<tag>-<pid>`` under the
checkout root: Python's and the JVM's temp dirs, Spark's local dirs,
the generated fixtures and the ETL's source CSVs. ``cleanup`` removes
it at exit.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "simpleetlpipeline_spark"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (e.g. the engine is missing)."""


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare(tag: str) -> str:
    """Point every temp and scratch path of this process, the JVM it
    will launch and its Python workers into a fresh work dir under the
    checkout, pin the engine's core count, and make the engine
    importable. Must run before anything imports pyspark or the
    engine: ``pipeline.ETL_ORACLE_SRC_DIR`` is fixed at import from
    the temp dir. Returns the work dir."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SetupError(f"engine package {PACKAGE}/ not found under {ROOT}")
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The engine sizes local[N] and shuffle partitions from this; its
    # fallback is 32 whatever the host has.
    env["SPARK_GRAFT_CPUS"] = str(cpu_count())
    # Executor-side Python workers import the engine from here.
    env["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, env.get("PYTHONPATH")]))
    # -XX:-UsePerfData: HotSpot keeps its perf counters in a file under
    # /tmp whatever java.io.tmpdir says.
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " pyspark-shell")
    # Third-party warning raised in executor-side workers per streaming
    # micro-batch; the filter must be in the env before the JVM starts.
    env["PYTHONWARNINGS"] = ",".join(filter(None, [
        env.get("PYTHONWARNINGS"),
        "ignore::FutureWarning:pyspark.sql.pandas.serializers"]))
    tempfile.tempdir = None
    # Relative paths Spark picks on its own (spark-warehouse/,
    # metastore) land in the work dir too.
    os.chdir(work)
    for path in (ROOT, os.path.join(ROOT, "tools")):
        if path not in sys.path:
            sys.path.insert(0, path)
    return work


def cleanup(work: str) -> None:
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def start_session():
    """The engine's own local session, built the way its tools build it."""
    from simpleetlpipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    # The engine ships itself to executors as a zip written under
    # /tmp; workers here import it from PYTHONPATH instead, so mark
    # the session shipped and keep every write inside the checkout.
    spark._setl_pkg_shipped = True
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit: the JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM it launched and the Python workers the JVM
    forked (exited workers count through their parent's reaped-children
    times)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        procs[int(entry)] = (int(fields[1]),
                             sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def host_info(cpu_start: tuple[int, int]) -> dict:
    import duckdb
    import pyspark

    total0, steal0 = cpu_start
    total1, steal1 = cpu_times()
    return {
        "cpus": cpu_count(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_steal_frac": round(
            (steal1 - steal0) / max(1, total1 - total0), 4),
    }


class Oracle:
    """DuckDB twins of the catalog entries over one fixture dir.

    Oracled entries compare by the semantics of
    ``tools/check_oracle.py``: same column set, same row count, and
    order-insensitive values with doubles equal to 1e-9. Entries
    without an oracle are checked for schema only: the same columns
    on every pass and one value per column in every row.
    """

    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def __init__(self, sf_dir: str | None):
        import check_oracle
        import duckdb

        from simpleetlpipeline_spark.plans import catalog

        self.normalize = check_oracle.normalize
        self.values_equal = check_oracle.values_equal
        self.sql = catalog.ORACLE_SQL
        self.con = duckdb.connect()
        if sf_dir:
            for t in self.TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
        self._expected: dict[str, tuple[list[str], list]] = {}
        self._schemas: dict[str, list[str]] = {}

    def _oracle_rows(self, name: str, replay: bool):
        if replay or name not in self._expected:
            res = self.con.execute(self.sql[name])
            cols = [d[0] for d in res.description]
            self._expected[name] = (cols, self.normalize(res.fetchall(), cols))
        return self._expected[name]

    def check(self, name: str, cols: list[str], rows: list,
              replay: bool = False) -> str | None:
        """None when ``rows`` (with columns ``cols``) is right, else
        the first problem found. ``replay`` re-runs the oracle instead
        of reusing its earlier answer (its inputs changed)."""
        if name not in self.sql:
            first = self._schemas.setdefault(name, list(cols))
            if list(cols) != first:
                return f"columns {cols} != first pass {first}"
            bad = sum(1 for r in rows if len(r) != len(cols))
            return f"{bad} rows of the wrong width" if bad else None
        dcols, drows = self._oracle_rows(name, replay)
        if sorted(cols) != sorted(dcols):
            return f"columns spark={sorted(cols)} duck={sorted(dcols)}"
        if len(rows) != len(drows):
            return f"rowcount spark={len(rows)} duck={len(drows)}"
        for i, (rs, rd) in enumerate(zip(self.normalize(
                [tuple(r) for r in rows], list(cols)), drows)):
            if len(rs) != len(rd) or not all(
                    self.values_equal(a, b) for a, b in zip(rs, rd)):
                return f"row {i}: spark={rs} duck={rd}"
        return None
