"""The Flight SQL workload's Iceberg warehouse, built once per checkout.

The warehouse holds the TPC-H tables generated from a fixed seed, one
``tpch.<table>`` Iceberg table each in a SQLite catalog, written through
the package's ``iceberg_lite`` writer.  The workload only reads it, so the
first run builds it under ``.perfbench_cache/`` and later runs reuse it.
The cache key covers every source file the build depends on (this file,
the generator, the package's ``sources/`` and ``session.py``) and the
checkout's path, which the catalog records; a change to any of them
builds a fresh warehouse.

    python3 perfbench/warehouse.py <parquet_dir> <catalog.db> <warehouse>

runs the build itself, in its own process, so that its Spark JVM has
exited before the server under test starts.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from common import BENCH_DIR, ROOT, stop_spark  # noqa: E402

DATA_SEED = 42
SF = 0.05              # 300k lineitem rows
PACKAGE_DIR = os.path.join(ROOT, "iceberg_datafusion_arrow_flight_spark")


def _key() -> str:
    h = hashlib.sha256(f"{ROOT}|{DATA_SEED}|{SF}".encode())
    sources = [os.path.join(BENCH_DIR, "warehouse.py"),
               os.path.join(BENCH_DIR, "datagen.py"),
               os.path.join(PACKAGE_DIR, "session.py")]
    sources += sorted(glob.glob(os.path.join(PACKAGE_DIR, "sources", "*.py")))
    for path in sources:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cached(env: dict[str, str]) -> dict:
    """Paths and row counts of the warehouse, building it first if this
    checkout has none for the current sources."""
    root = os.path.join(ROOT, ".perfbench_cache", f"flightsql-{_key()}")
    paths = {"data": os.path.join(root, "data"),
             "catalog": os.path.join(root, "catalog.db"),
             "warehouse": os.path.join(root, "warehouse")}
    ready = os.path.join(root, "READY")
    os.makedirs(os.path.dirname(root), exist_ok=True)
    with open(root + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(ready):
            shutil.rmtree(root, ignore_errors=True)
            rows = datagen.generate(paths["data"], DATA_SEED, SF,
                                    tables=datagen.TPCH_TABLES)
            with open(os.path.join(root, "build.log"), "w") as log:
                subprocess.run([sys.executable, os.path.abspath(__file__),
                                paths["data"], paths["catalog"],
                                paths["warehouse"]],
                               env=env, stdout=log, stderr=subprocess.STDOUT,
                               check=True, timeout=600, cwd=root)
            with open(ready, "w") as fh:
                json.dump(rows, fh)
    with open(ready) as fh:
        paths["rows"] = json.load(fh)
    return paths


def main(data_dir: str, catalog_db: str, warehouse: str) -> None:
    from iceberg_datafusion_arrow_flight_spark import get_spark
    from iceberg_datafusion_arrow_flight_spark.sources.iceberg_lite import (
        SqliteCatalog)
    spark = get_spark(app_name="perfbench-warehouse")
    catalog = SqliteCatalog(catalog_db, warehouse=warehouse)
    for name in datagen.TPCH_TABLES:
        df = spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))
        catalog.create_table("tpch", name, df).append(df)
    stop_spark(spark)


if __name__ == "__main__":
    main(*sys.argv[1:4])
