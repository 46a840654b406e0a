#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 15 \\
        --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run of the same workload that
records spans around the program's layers and turns on Spark's event log,
and reports the per-layer metrics.  Human-readable lines come first; the
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  A run whose outputs do not
match the DuckDB checks exits with code 1; a run that cannot start (the
program is missing, or the arguments are wrong) exits with code 2 and
prints no result.

Full details (host record, per-operation figures, the per-layer self-time
table) go to ``.perfbench_out/<workload>-seed<n>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, RunContext, apply_env, host_record  # noqa: E402

PACKAGE = "iceberg_datafusion_arrow_flight_spark"
WORKLOADS = ("flightsql_mix", "batch_mix", "lakehouse_rw")

# name -> (unit, better); BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "op_geomean_s": ("s", "lower"),
}
# Further end-to-end figures, printed and kept in the detail file beside
# the bounded metrics above: workload-specific, or not steady enough
# across seeds to carry a bound (see perfbench/README.md).
EXTRAS = {
    "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB",
    "stmts_per_s": "1/s",
    "stmt_p50_s": "s", "stmt_p90_s": "s", "meta_p50_s": "s",
    "bulk_p50_s": "s", "handshake_p50_s": "s",
    "batch_wall_s": "s", "batch_geomean_s": "s",
    "commit_p50_s": "s", "scan_p50_s": "s", "scan_tail_s": "s",
    "storage_amplification": "ratio", "error_rate": "ratio",
}
PER_LAYER = {
    "service.handshake_s": ("s", "lower"),
    "service.prepare_s": ("s", "lower"),
    "service.bind_s": ("s", "lower"),
    "service.execute_s": ("s", "lower"),
    "service.fetch_s": ("s", "lower"),
    "service.close_s": ("s", "lower"),
    "service.fetch_mb_per_s": ("MB/s", "higher"),
    "service.result_mb": ("MB", "lower"),
    "service.verbs_self_s": ("s", "lower"),
    "service.cache_entries_peak": ("count", "lower"),
    "service.cache_mb_peak": ("MB", "lower"),
    "service.sessions_open_end": ("count", "lower"),
    "dialect.rewrite_s": ("s", "lower"),
    "dialect.calls": ("count", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.scheduler_delay_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.core_utilization": ("ratio", "higher"),
    "spark.jvm_peak_rss_mb": ("MB", "lower"),
    "python.peak_rss_mb": ("MB", "lower"),
    "materialize.calls": ("count", "lower"),
    "materialize.s": ("s", "lower"),
    "kernels.rows_in": ("count", "lower"),
    "kernels.rows_out": ("count", "lower"),
    "kernels.mb_in": ("MB", "lower"),
    "kernels.mb_out": ("MB", "lower"),
    "kernels.stage_run_s": ("s", "lower"),
    "kernels.python_run_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.collect_s": ("s", "lower"),
    "iceberg_lite.plan_files_s": ("s", "lower"),
    "iceberg_lite.files_considered": ("count", "lower"),
    "iceberg_lite.files_kept": ("count", "lower"),
    "iceberg_lite.prune_ratio": ("ratio", "lower"),
    "iceberg_lite.delete_files_per_scan": ("count", "lower"),
    "iceberg_lite.read_build_s": ("s", "lower"),
    "iceberg_lite.commit_s": ("s", "lower"),
    "iceberg_lite.commits": ("count", "lower"),
    "iceberg_lite.commit_retries": ("count", "lower"),
    "iceberg_lite.compact_s": ("s", "lower"),
    "iceberg_lite.bytes_written_mb": ("MB", "lower"),
    "iceberg_lite.files_written": ("count", "lower"),
    "iceberg_lite.metadata_files": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _overhead(workload: str, seed: int, traced: dict) -> dict | None:
    """Traced against untraced figures of the same workload and seed,
    when an untraced run left its detail file."""
    path = os.path.join(ROOT, ".perfbench_out",
                        f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)["e2e"]
    return {k: traced[k] / base[k] - 1.0
            for k in ("op_geomean_s", "op_p50_s") if base.get(k)}


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    state_dir = os.path.join(ROOT, ".perfbench_state",
                             f"{args.workload}-{os.getpid()}")
    os.makedirs(state_dir, exist_ok=True)
    ctx = RunContext(args.workload, args.seed, args.seconds,
                     bool(args.trace), state_dir)
    apply_env(ctx)
    host = host_record(ctx)
    if host["foreign_spark_jvms"]:
        print(f"perfbench: WARNING {host['foreign_spark_jvms']} other Spark "
              "JVM(s) running; figures from this run are contended",
              file=sys.stderr)
    tracer = None
    if ctx.trace:
        from tracing import Tracer, install_program_spans
        tracer = Tracer()
        install_program_spans(tracer)
    workload = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    try:
        res = workload.run(ctx, tracer)
        if tracer:
            import eventlog
            from tracing import layer_metrics
            layers = {name: 0.0 for name in PER_LAYER}
            layers.update(layer_metrics(tracer))
            layers.update(eventlog.parse(os.path.join(state_dir, "eventlog"),
                                         ctx.cores))
            layers.update(res["layers"])
    finally:
        if tracer:
            tracer.restore()
        shutil.rmtree(state_dir, ignore_errors=True)
    host["load1_after"] = os.getloadavg()[0]
    host["run_wall_s"] = time.perf_counter() - t0

    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "correct": res["correct"], "attempted": res["attempted"],
              "failed": res["failed"], "e2e": res["e2e"],
              "extras": res["extras"], "detail": res["detail"]}
    for name, value in {**res["e2e"], **res["extras"]}.items():
        unit = END_TO_END[name][0] if name in END_TO_END else EXTRAS[name]
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    if tracer:
        groups = layers.pop("groups", {})
        overhead = _overhead(args.workload, args.seed, res["e2e"])
        tables = {"benchmark": tracer.layer_table(),
                  "server": res["detail"].get("server_layers") or {}}
        detail.update({"per_layer": layers, "job_groups": groups,
                       "layer_self_s": tables,
                       "span_self_s": tracer.name_table(),
                       "trace_overhead": overhead})
        print(f"{args.workload} layer self times (s):")
        for process, table in tables.items():
            for layer, row in sorted(table.items()):
                print(f"  {process:>9} {layer:<14} calls={row['calls']:<6}"
                      f" self={row['self_s']:.4f} total={row['total_s']:.4f}")
        print(f"{args.workload} trace overhead vs untraced: "
              + (json.dumps(overhead) if overhead is not None
                 else "no untraced run of this seed on record"))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True, default=str)

    if tracer:
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                   for k, (u, _) in END_TO_END.items()}
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0 if res["correct"] and not res["failed"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
