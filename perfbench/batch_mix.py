"""``batch_mix``: ten registry entries run cold, in-process.

Spark execution, materialize barriers and the Arrow/pandas kernels do
nearly all the work here and the service does none.  The list keeps four
TPC-H entries, where planning and codegen weigh most, beside the heavy
families: the containment dedup join and its candidate blow-up, the
twenty-job label propagation, the PQ and scene-cut Python kernels, a
merge-on-read Iceberg upsert and a running window.

The inputs are the fixtures' tables at the sf0.02 shape (120k lineitem
rows) with 1,000 documents and 1,000 embeddings, generated from a fixed
seed once per checkout under ``.perfbench_cache/`` together with the
DuckDB oracle answers (the brute-force containment oracle alone takes
most of a minute on 4 cores).  ``--seed`` draws the order of the entries
in each pass.

Each entry runs after ``clearCache()`` and is materialized with
``toArrow()``, as ``bench.py`` does.  A run makes at least two passes in
a fresh JVM, with no warm-up of its own, and keeps each entry's best
time, as ``bench.py`` keeps the best of two samples: the first pass
carries the cold JVM (it took about 1.7 times as long as the second, 32 s
against 19 s), and the host is shared, so a neighbour can slow either
pass.  Every result of every pass is checked: against the entry's
registry DuckDB oracle, or, for the approximate PQ top-k, by its shape
and its recall against the exact top-k oracle (the floor the
repository's tests hold it to).  An entry with neither check fails.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import inspect
import json
import os
import random
import shutil
import sys
import time

from common import (BENCH_DIR, ROOT, RunContext, arrow_normal_form,
                    difference, duck_views, geomean, normal_form,
                    op_metrics, spark_jvms, stop_spark, table_dir_stats,
                    vmhwm_mb)
import datagen

ENTRIES = (
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "dedup_containment",
    "graph_label_propagation",
    "sim_ann_pq_topk",
    "multimodal_scene_cuts",
    "iceberg_upsert_mor",
    "window_sales_running",
)
# Approximate entries: (exact oracle entry, recall floor of the
# repository's tests for it).
RECALL = {"sim_ann_pq_topk": ("sim_topk_cosine", 0.5)}
DATA_SEED = 42
SF = 0.02              # 120k lineitem rows; 1,000 embeddings
N_DOCS = 1000
PASS_SECONDS = 20      # one pass on 4 cores; a run makes at least two
PACKAGE_DIR = os.path.join(ROOT, "iceberg_datafusion_arrow_flight_spark")


def _key() -> str:
    h = hashlib.sha256(f"{DATA_SEED}|{SF}|{N_DOCS}|{ENTRIES}|{RECALL}|"
                       f"{inspect.getsource(_answers)}".encode())
    # the generator, the normal form, the oracle SQL
    sources = [os.path.join(BENCH_DIR, n) for n in ("datagen.py", "common.py")]
    sources.append(os.path.join(PACKAGE_DIR, "testing", "oracle.py"))
    sources += sorted(glob.glob(os.path.join(PACKAGE_DIR, "plans", "*.py")))
    for path in sources:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _answers(data_dir: str) -> dict:
    """Each entry's expected result: the oracle's normal form, or the
    exact pairs and corpus id range of a recall-checked entry."""
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY
    out: dict = {}
    con = duck_views(data_dir, datagen.ALL_TABLES)
    try:
        for name in ENTRIES:
            if name in RECALL:
                rel = con.sql(REGISTRY[RECALL[name][0]].oracle)
                pairs = rel.project("query_id, corpus_id").fetchall()
                lo, hi = con.sql("SELECT MIN(vec_id), MAX(vec_id) "
                                 "FROM embeddings").fetchone()
                out[name] = {"pairs": pairs, "id_range": [lo, hi]}
            elif REGISTRY[name].oracle is not None:
                rel = con.sql(REGISTRY[name].oracle)
                cols, rows = normal_form(rel.columns, rel.fetchall())
                out[name] = {"columns": cols, "rows": rows}
    finally:
        con.close()
    return out


def cached_inputs() -> dict:
    """The data directory and oracle answers, built first if this
    checkout has none for the current generator and plans."""
    root = os.path.join(ROOT, ".perfbench_cache", f"batch-{_key()}")
    data_dir = os.path.join(root, "data")
    ready = os.path.join(root, "answers.json")
    os.makedirs(os.path.dirname(root), exist_ok=True)
    with open(root + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(ready):
            shutil.rmtree(root, ignore_errors=True)
            datagen.generate(data_dir, DATA_SEED, SF, n_docs=N_DOCS)
            answers = _answers(data_dir)
            with open(ready + ".tmp", "w") as fh:
                json.dump(answers, fh, default=str)
            os.replace(ready + ".tmp", ready)
    with open(ready) as fh:
        return {"data": data_dir, "answers": json.load(fh)}


def run(ctx: RunContext, tracer) -> dict:
    inputs = cached_inputs()
    data_dir = inputs["data"]

    t_setup = time.perf_counter()
    from iceberg_datafusion_arrow_flight_spark import get_spark
    from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY
    spark = get_spark(app_name="perfbench-batch_mix")
    setup_s = time.perf_counter() - t_setup

    span = tracer.span if tracer else (
        lambda *a, **k: contextlib.nullcontext(None))
    rng = random.Random(ctx.seed)
    passes = max(2, round(ctx.seconds / PASS_SECONDS))
    times: dict[str, list[float]] = {n: [] for n in ENTRIES}
    results: list[tuple[str, object]] = []
    errors: dict[str, str] = {}
    pass_walls, orders = [], []
    for _ in range(passes):
        order = list(ENTRIES)
        rng.shuffle(order)
        orders.append(order)
        t_pass = time.perf_counter()
        for name in order:
            spark.catalog.clearCache()
            if tracer:
                spark.sparkContext.setJobGroup(name, name)
            t0 = time.perf_counter()
            try:
                with span("plans", "plans.build"):
                    df = REGISTRY[name].build(spark, data_dir)
                table = df.toArrow()
            except Exception as exc:  # noqa: BLE001 - counted, reported
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            times[name].append(time.perf_counter() - t0)
            results.append((name, table))
        pass_walls.append(time.perf_counter() - t_pass)
    peak_rss = vmhwm_mb(os.getpid())
    jvm_rss = max((vmhwm_mb(p) for p in spark_jvms(os.getpid())),
                  default=0.0)
    stop_spark(spark)

    latencies = [t for v in times.values() for t in v]
    attempted = passes * len(ENTRIES)
    failed = attempted - len(latencies)
    for name, table in results:
        why = _check(name, table, inputs["answers"])
        if why:
            errors[name] = why
            failed += 1
    for name, why in errors.items():
        print(f"batch_mix: {name}: {why}", file=sys.stderr)

    # each entry's best time; the throughput is that of a pass made of
    # them
    best = {n: min(v) for n, v in times.items() if v}
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss}
    e2e.update(op_metrics(list(best.values()), sum(best.values())))
    extras = {
        "batch_wall_s": min(pass_walls),
        "batch_geomean_s": geomean(list(best.values())),
        "error_rate": failed / attempted,
    }
    layers = {"spark.jvm_peak_rss_mb": jvm_rss,
              "python.peak_rss_mb": peak_rss}
    if tracer:
        # tables the Iceberg entries created under the run's temp dir
        size, files, meta = table_dir_stats(glob.glob(os.path.join(
            ctx.state_dir, "tmp", "*", "warehouse", "*", "*")))
        layers.update({"iceberg_lite.bytes_written_mb": size / (1024 * 1024),
                       "iceberg_lite.files_written": files,
                       "iceberg_lite.metadata_files": meta})
        names = tracer.name_table()
        layers["plans.build_s"] = names.get("plans.build",
                                            {}).get("total_s", 0.0)
        layers["plans.collect_s"] = names.get("spark.toArrow",
                                              {}).get("total_s", 0.0)
    return {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "e2e": e2e, "extras": extras, "layers": layers,
        "detail": {"sf": SF, "documents": N_DOCS, "passes": passes,
                   "orders": orders, "pass_walls_s": pass_walls,
                   "entry_s": times, "entry_best_s": best,
                   "rows": {n: t.num_rows for n, t in results},
                   "errors": errors},
    }


def _check(name: str, table, answers: dict) -> str | None:
    """None when ``table`` is a right result of entry ``name``."""
    want = answers.get(name)
    if want is None:
        return "no output check for this entry"
    if name in RECALL:
        return _recall_check(table, want, RECALL[name][1])
    why = difference(arrow_normal_form(table),
                     (want["columns"], want["rows"]))
    return f"oracle mismatch: {why}"[:300] if why else None


def _recall_check(table, want: dict, floor: float) -> str | None:
    """An approximate top-k: one row per exact neighbour slot, the same
    queries, corpus ids of real vectors other than the query, and recall
    against the exact top-k at or above ``floor``."""
    exact = {tuple(p) for p in want["pairs"]}
    lo, hi = want["id_range"]
    got = list(zip(table.column("query_id").to_pylist(),
                   table.column("corpus_id").to_pylist()))
    if len(got) != len(exact) or len(set(got)) != len(got):
        return f"{len(got)} rows ({len(set(got))} distinct), want {len(exact)}"
    if {q for q, _ in got} != {q for q, _ in exact}:
        return "query ids differ from the exact top-k"
    if any(not lo <= c <= hi or c == q for q, c in got):
        return "corpus id out of range or equal to its query"
    recall = len(exact & set(got)) / len(exact)
    if recall < floor:
        return f"recall {recall:.3f} below {floor}"
    return None
