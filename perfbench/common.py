"""Shared pieces of the benchmark: run context, environment isolation,
statistics, process memory and output checks."""

from __future__ import annotations

import math
import os
import statistics
import sys
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class RunContext:
    workload: str
    seed: int
    seconds: int
    trace: bool
    state_dir: str
    cores: int = field(default_factory=nproc)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.state_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def program_env(ctx: RunContext) -> dict[str, str]:
    """Environment for every process that runs the program: the package
    importable from any cwd (Python workers included), Spark at
    ``local[nproc]``, and every file Spark, the JVM and Python write kept
    under the run's state directory."""
    tmp = os.path.join(ctx.state_dir, "tmp")
    for d in ("tmp", "spark-local", "spark-warehouse", "eventlog"):
        os.makedirs(os.path.join(ctx.state_dir, d), exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={os.path.join(ctx.state_dir, 'tmp')}")
    env = {
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(ctx.state_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(ctx.cores),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_GRAFT_CONF_spark__sql__warehouse__dir":
            os.path.join(ctx.state_dir, "spark-warehouse"),
        "SPARK_GRAFT_CONF_spark__driver__extraJavaOptions": java_opts,
        "SPARK_GRAFT_CONF_spark__ui__enabled": "false",
        "SPARK_GRAFT_CONF_spark__ui__showConsoleProgress": "false",
    }
    if ctx.trace:
        env.update({
            "SPARK_GRAFT_CONF_spark__eventLog__enabled": "true",
            "SPARK_GRAFT_CONF_spark__eventLog__dir":
                "file://" + os.path.join(ctx.state_dir, "eventlog"),
            "SPARK_GRAFT_CONF_spark__eventLog__compress": "false",
        })
    return env


def apply_env(ctx: RunContext) -> None:
    """Apply :func:`program_env` to this process, before any JVM starts."""
    os.environ.update(program_env(ctx))


# ---------------------------------------------------------------- stats

def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile; the maximum when there are ten samples or fewer."""
    if not values:
        return 0.0, 0.0
    s = sorted(values)
    if len(s) <= 10:
        return s[-1], 1.0
    idx = len(s) - 11
    return s[idx], (idx + 1) / len(s)


def geomean(values: list[float]) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def op_metrics(latencies: list[float], wall_s: float) -> dict[str, float]:
    """The end-to-end latency and throughput metrics every workload
    reports over its operations."""
    t, _ = tail(latencies)
    return {
        "ops_per_s": len(latencies) / wall_s if wall_s else 0.0,
        "op_p50_s": median(latencies),
        "op_tail_s": t,
        "op_geomean_s": geomean(latencies),
    }


# ---------------------------------------------------------------- processes

def vmhwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (ppid, comm, cmdline) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(entry)] = (ppid, comm, cmd)
    return out


def descendants(pid: int) -> list[int]:
    procs = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _, _) in procs.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def spark_jvms(parent: int) -> list[int]:
    """Spark JVMs started by ``parent`` (directly or through the
    spark-submit scripts)."""
    procs = _proc_table()
    return [p for p in descendants(parent)
            if p in procs and procs[p][1] == "java"
            and "org.apache.spark" in procs[p][2]]


def foreign_spark_jvms() -> list[int]:
    """Spark JVMs on this host that this process did not start."""
    mine = set(descendants(os.getpid()))
    return [p for p, (_, comm, cmd) in _proc_table().items()
            if comm == "java" and "org.apache.spark" in cmd
            and p not in mine]


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit, so the event log is complete and no process outlives the run."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


def host_record(ctx: RunContext) -> dict:
    import duckdb
    import pyarrow
    import pyspark
    return {
        "nproc": ctx.cores,
        "load1_before": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "foreign_spark_jvms": len(foreign_spark_jvms()),
    }


def table_dir_stats(locations: list[str]) -> tuple[int, int, int]:
    """(bytes, data and delete files, metadata files) under Iceberg table
    directories."""
    size = files = meta = 0
    for location in locations:
        for root, _, names in os.walk(location):
            in_metadata = "metadata" in os.path.relpath(
                root, location).split(os.sep)
            for n in names:
                if n.endswith(".crc"):
                    continue
                size += os.path.getsize(os.path.join(root, n))
                if in_metadata:
                    meta += 1
                elif n.endswith(".parquet"):
                    files += 1
    return size, files, meta


# ---------------------------------------------------------------- checks
# Results are compared in the normal form of the repository's own oracle
# gate (``testing/oracle.py``): columns sorted by name, rows sorted, every
# value canonical, floats to 12 significant digits.  Two float values
# also match within a relative ``REL_TOL``: each engine, and each run of
# Spark, adds up a sum over a few hundred thousand doubles in its own
# order, and a ``ROUND(sum, 2)`` can then land one cent apart (seen on
# sums near 1e8).
REL_TOL = 1e-9


def duck_views(data_dir: str, tables: tuple[str, ...]):
    """A DuckDB connection with one view per Parquet table.  (The gate's
    ``_duck_conn`` wants every fixture table, ``events`` included, which
    the benchmark does not generate.)"""
    import duckdb
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normal_form(columns, rows) -> tuple[list[str], list[tuple[str, ...]]]:
    """The oracle gate's normal form of a result."""
    from iceberg_datafusion_arrow_flight_spark.testing.oracle import (
        _normalize)
    return _normalize(list(columns), [tuple(r) for r in rows])


def arrow_normal_form(table) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = table.column_names
    rows = list(zip(*(c.to_pylist() for c in table.columns))) if cols else []
    return normal_form(cols, rows)


def _same_value(x: str, y: str) -> bool:
    if x == y:
        return True
    if not any(c in v for v in (x, y) for c in ".e"):
        return False        # integers and text match exactly
    try:
        return math.isclose(float(x), float(y), rel_tol=REL_TOL)
    except ValueError:
        return False


def difference(got, want) -> str | None:
    """None when two normal forms match; otherwise a one-line description
    of the first difference."""
    (g_cols, g), (w_cols, w) = got, want
    if list(g_cols) != list(w_cols):
        return f"columns differ: {list(g_cols)} vs {list(w_cols)}"
    if len(g) != len(w):
        return f"row count differs: {len(g)} vs {len(w)}"
    for i, (x, y) in enumerate(zip(g, w)):
        if len(x) != len(y) or not all(map(_same_value, x, y)):
            return f"sorted row {i} differs: {tuple(x)} vs {tuple(y)}"
    return None


def same_result(arrow_table, duck_columns, duck_rows) -> str | None:
    """None when an Arrow result matches a DuckDB result; otherwise the
    first difference."""
    return difference(arrow_normal_form(arrow_table),
                      normal_form(duck_columns, duck_rows))
