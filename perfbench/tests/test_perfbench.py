"""Tests of the benchmark's own pieces.

    python3 -m pytest perfbench/tests -q

The last two tests start Spark JVMs (about a minute together).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import common  # noqa: E402
import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tail_keeps_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 41)]
    value, q = common.tail(values)
    assert value == 30.0 and q == 0.75
    assert sum(v > value for v in values) == 10
    assert common.tail([3.0, 1.0, 2.0]) == (3.0, 1.0)
    assert common.percentile(values, 0.9) == 36.0


def test_same_result_is_order_insensitive_and_float_tolerant():
    import pyarrow as pa
    table = pa.table({"b": [2.0000000001, 1.0], "a": ["y", "x"]})
    assert common.same_result(table, ["a", "b"],
                              [("x", 1.0), ("y", 2.0)]) is None
    assert common.same_result(table, ["a", "b"],
                              [("x", 1.0), ("y", 2.5)]) is not None
    assert common.same_result(table, ["a", "b"], [("x", 1.0)]) is not None
    # a ROUND(sum, 2) one cent apart near 1e8 matches; integers do not
    cents = pa.table({"r": [88624362.35], "n": [10**10]})
    assert common.same_result(cents, ["r", "n"],
                              [(88624362.34, 10**10)]) is None
    assert common.same_result(cents, ["r", "n"],
                              [(88624362.35, 10**10 + 1)]) is not None


def test_batch_check_fails_an_entry_without_a_check():
    import pyarrow as pa
    import batch_mix
    table = pa.table({"a": [1]})
    assert batch_mix._check("no_such_entry", table, {}) is not None
    answers = {"e": {"columns": ["a"], "rows": [["1"]]}}
    assert batch_mix._check("e", table, answers) is None
    assert batch_mix._check("e", pa.table({"a": [2]}), answers) is not None


def test_recall_check_of_the_approximate_top_k():
    import pyarrow as pa
    import batch_mix
    exact = [[0, c] for c in range(1, 11)] + [[100, c]
                                            for c in range(101, 111)]
    want = {"pairs": exact, "id_range": [0, 200]}

    def top(pairs):
        return pa.table({"query_id": [q for q, _ in pairs],
                         "corpus_id": [c for _, c in pairs]})
    assert batch_mix._recall_check(top(exact), want, 0.5) is None
    half = exact[:5] + [[0, c] for c in range(11, 16)] + exact[10:]
    assert batch_mix._recall_check(top(half), want, 0.5) is None
    worse = [[0, c] for c in range(11, 21)] + exact[10:15] + [
        [100, c] for c in range(111, 116)]
    assert batch_mix._recall_check(top(worse), want, 0.5) is not None
    assert batch_mix._recall_check(top(exact[:-1]), want, 0.5) is not None
    assert batch_mix._recall_check(
        top(exact[:-1] + [[100, 100]]), want, 0.5) is not None


def test_flightsql_repeats_must_equal_the_first_result():
    import pyarrow as pa
    import flightsql_mix as fm
    key = (fm.POINT, (7,))
    first = pa.table({"o_orderkey": [7], "o_totalprice": [1.5]})
    same = pa.table({"o_orderkey": [7], "o_totalprice": [1.5000000001]})
    stale = pa.table({"o_orderkey": [7], "o_totalprice": [2.5]})
    kept, errors = fm._repeats([(key, first), (key, same)])
    assert kept == {key: first} and errors == []
    _, errors = fm._repeats([(key, first), (key, same), (key, stale)])
    assert len(errors) == 1
    bulk = (fm.BULK, (1,))
    digest = {"rows": 3, "qty": 6.0, "keys": 9, "price": 100.25}
    _, errors = fm._repeats([(bulk, digest),
                             (bulk, {**digest, "price": 100.26}),
                             (bulk, {**digest, "rows": 2})])
    assert len(errors) == 1


def test_show_tables_repeats_ignore_leftover_helper_views():
    import pyarrow as pa
    import flightsql_mix as fm
    key = (fm.SHOW, ())

    def listing(*names):
        return pa.table({"table_name": list(names)})
    _, errors = fm._repeats([
        (key, listing("tpch__orders")),
        (key, listing("tpch__orders", "df_describe_0123456789abcdef"))])
    assert errors == []
    _, errors = fm._repeats([(key, listing("tpch__orders")),
                             (key, listing("tpch__orders", "other"))])
    assert len(errors) == 1


def test_datagen_is_seeded(tmp_path):
    rows = datagen.generate(str(tmp_path / "a"), 7, 0.001)
    datagen.generate(str(tmp_path / "b"), 7, 0.001)
    datagen.generate(str(tmp_path / "c"), 8, 0.001)
    assert rows["lineitem"] == 4 * rows["orders"]
    for name in datagen.ALL_TABLES:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "orders.parquet").equals(
        pq.read_table(tmp_path / "c" / "orders.parquet"))


def test_self_time_excludes_child_spans():
    tracer = Tracer()
    with tracer.span("outer", "outer"):
        with tracer.span("inner", "inner"):
            sum(range(200_000))
    table = tracer.layer_table()
    outer, inner = table["outer"], table["inner"]
    assert outer["total_s"] >= inner["total_s"] > 0
    assert abs(outer["self_s"] - (outer["total_s"] - inner["total_s"])) < 1e-9


def test_eventlog_sums_tasks_and_python_nodes(tmp_path):
    plan = {"nodeName": "MapInPandas", "children": [
        {"nodeName": "Scan parquet", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": 1}]}],
        "metrics": [{"name": "number of output rows", "accumulatorId": 2},
                    {"name": "data sent to Python workers",
                     "accumulatorId": 3}]}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Info": {"Launch Time": 0, "Finish Time": 100,
                          "Getting Result Time": 0, "Accumulables": [
                              {"ID": 1, "Update": "10"},
                              {"ID": 2, "Update": "4"},
                              {"ID": 3, "Update": str(1024 * 1024)}]},
            "Task Metrics": {"Executor Run Time": 80,
                             "Executor CPU Time": 5 * 10**7,
                             "JVM GC Time": 5}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "q"}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        task,
        {"Event": "SparkListenerStageCompleted"},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 100},
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = eventlog.parse(str(tmp_path), cores=4)
    assert (out["spark.jobs"], out["spark.stages"], out["spark.tasks"]) == (
        1, 1, 1)
    assert out["spark.executor_run_s"] == pytest.approx(0.08)
    assert out["spark.scheduler_delay_s"] == pytest.approx(0.02)
    assert out["spark.core_utilization"] == pytest.approx(0.2)
    assert (out["kernels.rows_in"], out["kernels.rows_out"]) == (10, 4)
    assert out["kernels.mb_in"] == pytest.approx(1.0)
    assert out["groups"]["q"]["tasks"] == 1


def test_python_kernel_entry_runs_from_outside_the_repo():
    """A pandas-kernel registry entry, started from a directory outside
    the repository: its Python workers must import the package through
    the benchmark's environment, not through the cwd."""
    with tempfile.TemporaryDirectory() as outside:
        ctx = common.RunContext("batch_mix", 1, 1, False,
                                os.path.join(outside, "state"))
        data = os.path.join(outside, "data")
        datagen.generate(data, 1, 0.001, tables=("documents",), n_docs=50)
        env = dict(os.environ)
        env.pop("PYTHONPATH", None)
        env.update(common.program_env(ctx))
        code = (
            "import sys\n"
            "from iceberg_datafusion_arrow_flight_spark import get_spark\n"
            "from iceberg_datafusion_arrow_flight_spark.plans import "
            "REGISTRY\n"
            "spark = get_spark()\n"
            "t = REGISTRY['multimodal_scene_cuts'].build(spark, sys.argv[1])"
            ".toArrow()\n"
            "print('ROWS', t.num_rows)\n"
            "spark.stop()\n")
        proc = subprocess.run([sys.executable, "-c", code, data], env=env,
                              cwd=outside, capture_output=True, text=True,
                              timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        rows = int(proc.stdout.split("ROWS")[1].split()[0])
        assert rows > 0


def test_exits_without_a_result_when_the_program_is_missing(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(common.ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_mix",
         "--seed", "1", "--seconds", "15", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode == 2
    assert proc.stdout == ""


def test_lakehouse_rw_runs_and_checks_its_table():
    """The hand-run workload: two cycles, every scan checked in DuckDB."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lakehouse_rw",
         "--seed", "1", "--seconds", "5", "--trace", "0"],
        cwd=common.ROOT, capture_output=True, text=True, timeout=170)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.END_TO_END)
