"""``lakehouse_rw``: one closed-loop client writing and reading an
``iceberg_lite`` table in-process.

The only workload that writes, and the only one whose data-file and
delete-file counts grow: every cycle appends new orders, upserts a key
slice merge-on-read (one equality-delete file per commit), then runs
pruned range reads and one full aggregate.  One ``compact`` runs half way
through the sequence.  The sequence is fixed by the seed, so every run of
a seed builds the same table state.

Every scan and the final table are checked against the same operations
replayed in DuckDB over the same Parquet.
"""

from __future__ import annotations

import os
import random
import sys
import time

from common import (RunContext, median, op_metrics, same_result, spark_jvms,
                    stop_spark, table_dir_stats, tail, vmhwm_mb)
import datagen

SF = 0.02              # 30,000 orders; half seed the table
CYCLES_PER_10S = 4     # cycles per 10 s of --seconds (about 2.5 s each)
APPEND_ROWS = 600
UPSERT_KEYS = 400
PRUNED_READS = 6
RANGE_WIDTH = 1_500


def _scan(spark, table, lo=None, hi=None):
    from pyspark.sql import functions as F
    if lo is None:
        df = table.read(spark)
    else:
        df = (table.read(spark, prune=("o_orderkey", lo, hi))
              .where(F.col("o_orderkey").between(lo, hi)))
    return (df.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .toArrow())


_DUCK_SCAN = ("SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
              "ROUND(SUM(o_totalprice), 2) AS total FROM t {where} "
              "GROUP BY o_orderstatus")


def run(ctx: RunContext, tracer) -> dict:
    import duckdb
    data_dir = os.path.join(ctx.state_dir, "data")
    datagen.generate(data_dir, ctx.seed, SF, tables=("orders",))
    orders_path = os.path.join(data_dir, "orders.parquet")
    duck = duckdb.connect()
    duck.execute(f"CREATE TABLE src AS SELECT * FROM "
                 f"read_parquet('{orders_path}')")
    n_orders = duck.sql("SELECT COUNT(*) FROM src").fetchone()[0]
    half = n_orders // 2
    duck.execute(f"CREATE TABLE t AS SELECT * FROM src "
                 f"WHERE o_orderkey < {half}")

    t_setup = time.perf_counter()
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark import get_spark
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        SqliteCatalog)
    spark = get_spark(app_name="perfbench-lakehouse_rw")
    src = spark.read.parquet(orders_path)
    catalog = SqliteCatalog(ctx.path("catalog", "catalog.db"),
                            warehouse=ctx.path("catalog", "warehouse"))
    seed_rows = src.where(F.col("o_orderkey") < half)
    table = catalog.create_table("bench", "orders", seed_rows,
                                 partition_by=["o_orderstatus"])
    table.append(seed_rows)
    setup_s = time.perf_counter() - t_setup

    rng = random.Random(ctx.seed)
    cycles = max(2, round(ctx.seconds * CYCLES_PER_10S / 10))
    commits, scans, full_scans, compact_s = [], [], [], 0.0
    errors: list[str] = []
    attempted = 0
    next_key = half
    t_run = time.perf_counter()

    def check_scan(got, where: str, what: str) -> None:
        rel = duck.sql(_DUCK_SCAN.format(where=where))
        why = same_result(got, rel.columns, rel.fetchall())
        if why:
            errors.append(f"{what}: {why}")

    for cycle in range(cycles):
        if tracer:
            spark.sparkContext.setJobGroup(f"cycle{cycle}", "lakehouse_rw")
        # append the next slice of unseen orders
        lo, hi = next_key, min(n_orders, next_key + APPEND_ROWS) - 1
        next_key = hi + 1
        batch = src.where(F.col("o_orderkey").between(lo, hi))
        attempted += 1
        t0 = time.perf_counter()
        table.append(batch)
        commits.append(time.perf_counter() - t0)
        duck.execute(f"INSERT INTO t SELECT * FROM src "
                     f"WHERE o_orderkey BETWEEN {lo} AND {hi}")
        # merge-on-read upsert of a key slice: new price, same keys
        ulo = rng.randrange(0, next_key - UPSERT_KEYS)
        uhi = ulo + UPSERT_KEYS - 1
        bump = float(cycle + 1)
        upsert = (src.where(F.col("o_orderkey").between(ulo, uhi))
                  .withColumn("o_totalprice",
                              F.col("o_totalprice") + F.lit(bump)))
        attempted += 1
        t0 = time.perf_counter()
        table.merge_upsert_mor(spark, upsert, ["o_orderkey"])
        commits.append(time.perf_counter() - t0)
        duck.execute(f"DELETE FROM t WHERE o_orderkey BETWEEN {ulo} "
                     f"AND {uhi}")
        duck.execute(f"INSERT INTO t SELECT * REPLACE (o_totalprice + "
                     f"{bump} AS o_totalprice) FROM src WHERE o_orderkey "
                     f"BETWEEN {ulo} AND {uhi}")
        # pruned range reads, then one full aggregate
        for _ in range(PRUNED_READS):
            slo = rng.randrange(0, next_key - RANGE_WIDTH)
            shi = slo + RANGE_WIDTH - 1
            attempted += 1
            t0 = time.perf_counter()
            got = _scan(spark, table, slo, shi)
            scans.append(time.perf_counter() - t0)
            check_scan(got, f"WHERE o_orderkey BETWEEN {slo} AND {shi}",
                       f"cycle {cycle} scan [{slo}, {shi}]")
        attempted += 1
        t0 = time.perf_counter()
        got = _scan(spark, table)
        full_scans.append(time.perf_counter() - t0)
        check_scan(got, "", f"cycle {cycle} full aggregate")
        if cycle == cycles // 2 - 1:
            attempted += 1
            t0 = time.perf_counter()
            table.compact(spark)
            compact_s = time.perf_counter() - t0
    wall = time.perf_counter() - t_run
    peak_rss = vmhwm_mb(os.getpid())
    jvm_rss = max((vmhwm_mb(p) for p in spark_jvms(os.getpid())),
                  default=0.0)

    final = table.read(spark).toArrow()
    rel = duck.sql("SELECT * FROM t")
    why = same_result(final, rel.columns, rel.fetchall())
    if why:
        errors.append(f"final table: {why}")
    location = os.path.join(catalog.warehouse, "bench", "orders")
    size, files, meta = table_dir_stats([location])
    storage_amp = size / final.nbytes if final.nbytes else 0.0
    stop_spark(spark)
    duck.close()
    for e in errors:
        print(f"lakehouse_rw: {e}", file=sys.stderr)

    all_scans = scans + full_scans
    latencies = commits + all_scans + ([compact_s] if compact_s else [])
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss}
    e2e.update(op_metrics(latencies, wall))
    failed = len(errors)
    scan_tail, scan_tail_q = tail(all_scans)
    extras = {
        "commit_p50_s": median(commits),
        "scan_p50_s": median(all_scans),
        "scan_tail_s": scan_tail,
        "storage_amplification": storage_amp,
        "error_rate": failed / attempted,
    }
    layers = {
        "spark.jvm_peak_rss_mb": jvm_rss,
        "python.peak_rss_mb": peak_rss,
        "iceberg_lite.bytes_written_mb": size / (1024 * 1024),
        "iceberg_lite.files_written": files,
        "iceberg_lite.metadata_files": meta,
    }
    return {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "e2e": e2e, "extras": extras, "layers": layers,
        "detail": {"sf": SF, "cycles": cycles, "commits_s": commits,
                   "pruned_scans_s": scans, "full_scans_s": full_scans,
                   "compact_s": compact_s, "scan_tail_percentile":
                   scan_tail_q, "final_rows": final.num_rows,
                   "errors": errors},
    }
