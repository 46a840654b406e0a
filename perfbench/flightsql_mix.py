"""``flightsql_mix``: closed-loop Flight SQL clients against the server.

``scripts/serve_flight.py`` runs unchanged as a child process at
``local[nproc]`` over a SQLite-catalog Iceberg warehouse (``tpch.*``, 7
tables, 300k lineitem rows; see :mod:`warehouse`): the reference's own
deployment shape.  The tables come from a fixed seed and are built once
per checkout; ``--seed`` draws the request stream.  Four clients, one
connection each, drive it through ``service/flightsql_client.py``; every
statement goes through prepare, bind, execute, fetch and close.

- Three short clients cycle a seeded mix of a point lookup, a Q1/Q6-shape
  filtered aggregate, a Q5-shape 4-way join and the metadata verbs
  (``SHOW TABLES``, ``DESCRIBE``).
- One bulk client loops ``SELECT * FROM tpch.lineitem WHERE l_orderkey >
  $1``, which returns nearly all rows (about 23 MB of Arrow), so the
  result cache and DoGet carry real bytes beside the short statements.

Each client holds one session (one handshake) for its whole script, and
every parameter is drawn afresh from the full range of its column (the
bulk one from the lowest hundredth of the order keys), so the only exact
repeats are the metadata verbs; no traffic trace fixes a
session length or a repeat rate for this service, and these choices keep
either from being set by a guessed constant.  The detail file records
the handshake share of client time and the exact-repeat share.

The short clients run fixed scripts sized from ``--seconds`` after one
untimed warm-up round; the bulk client repeats its statement until they
finish, so the load is the same over the whole window.  The first result
of every distinct statement and parameter is checked against DuckDB over
the same Parquet, and every later result of it, warm-up included, must
match the first.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
import signal
import socket
import subprocess
import sys
import threading
import time

from common import (BENCH_DIR, ROOT, RunContext, arrow_normal_form,
                    difference, duck_views, median, normal_form, op_metrics,
                    percentile, spark_jvms, vmhwm_mb)
import datagen
import warehouse

USER, PASSWORD = "bench", "bench"
SHORT_CLIENTS = 3
SECONDS_PER_CYCLE = 4  # --seconds per round of the five short kinds
BULK_PARAMS = 64        # bulk parameters drawn; the client stops far sooner

POINT = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
         "o_orderdate, o_orderpriority FROM tpch.orders "
         "WHERE o_orderkey = $1")
AGG = ("SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, "
       "SUM(l_quantity) AS qty, "
       "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
       "FROM tpch.lineitem WHERE l_shipdate <= CAST($1 AS TIMESTAMP) "
       "GROUP BY l_returnflag, l_linestatus")
JOIN = ("SELECT n_name, "
        "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM tpch.customer JOIN tpch.orders ON c_custkey = o_custkey "
        "JOIN tpch.lineitem ON l_orderkey = o_orderkey "
        "JOIN tpch.nation ON c_nationkey = n_nationkey "
        "WHERE o_orderdate >= CAST($1 AS TIMESTAMP) "
        "AND o_orderdate < CAST($2 AS TIMESTAMP) GROUP BY n_name")
SHOW = "SHOW TABLES"
DESCRIBE = "DESCRIBE tpch.orders"
BULK = "SELECT * FROM tpch.lineitem WHERE l_orderkey > $1"
KIND = {POINT: "stmt", AGG: "stmt", JOIN: "stmt", SHOW: "meta",
        DESCRIBE: "meta", BULK: "bulk"}


# Date ranges of the generated columns (datagen.py).
SHIPDATES = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))
ORDERDATES = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> dt.date:
    return lo + dt.timedelta(days=rng.randrange((hi - lo).days + 1))


def _short_script(rng: random.Random, cycles: int, n_orders: int) -> list:
    """``cycles`` rounds of the short mix (point, aggregate, join, SHOW
    TABLES, DESCRIBE) in a seeded order.  Each parameter is drawn from
    the full range of its column: any order key, any ship date, a one-year
    window starting on any order date that leaves a full year."""
    script = []
    for _ in range(cycles):
        start = _day(rng, ORDERDATES[0],
                     ORDERDATES[1] - dt.timedelta(days=365))
        rnd = [(POINT, [rng.randrange(n_orders)]),
               (AGG, [_day(rng, *SHIPDATES).isoformat()]),
               (JOIN, [start.isoformat(),
                       (start + dt.timedelta(days=365)).isoformat()]),
               (SHOW, None), (DESCRIBE, None)]
        rng.shuffle(rnd)
        script += rnd
    return script


def _bulk_script(rng: random.Random, n_orders: int) -> list:
    """Bulk statements over nearly all of ``lineitem``: the lowest
    hundredth of the order keys is the parameter range."""
    return [(BULK, [rng.randrange(max(1, n_orders // 100))])
            for _ in range(BULK_PARAMS)]


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class _TimedFlight:
    """Stands in for a ``FlightClient`` and times GetFlightInfo, so the
    traced run can split execute (run and cache) from fetch (DoGet)."""

    def __init__(self, inner, sink: list) -> None:
        self._inner, self._sink = inner, sink

    def get_flight_info(self, *a, **k):
        t0 = time.perf_counter()
        try:
            return self._inner.get_flight_info(*a, **k)
        finally:
            self._sink.append(time.perf_counter() - t0)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class Client(threading.Thread):
    """One connection (one session) running ``script``; with ``until``,
    the script runs, cycling, until that event is set.  A failed
    statement drops the connection and the next one opens another."""

    def __init__(self, location: str, script: list, traced: bool,
                 until: threading.Event | None = None) -> None:
        super().__init__(daemon=True)
        self.location, self.script, self.until = location, script, until
        self.traced = traced
        self.attempted = 0
        self.latency: dict[str, list[float]] = {
            "stmt": [], "meta": [], "bulk": [], "handshake": []}
        self.verbs: dict[str, list[float]] = {
            v: [] for v in ("prepare", "bind", "execute", "execute_fetch",
                            "close")}
        self.result_bytes = 0
        # (sql, params) and the result: a table, or a bulk digest
        self.results: list[tuple[tuple, object]] = []
        self.errors: list[str] = []
        self.began = self.end = 0.0

    def _connect(self):
        from iceberg_datafusion_arrow_flight_spark.service.flightsql_client \
            import FlightSqlClient
        t0 = time.perf_counter()
        client = FlightSqlClient(self.location, USER, PASSWORD)
        self.latency["handshake"].append(time.perf_counter() - t0)
        if self.traced:
            client.client = _TimedFlight(client.client,
                                         self.verbs["execute"])
        return client

    def run(self) -> None:
        self.began = time.perf_counter()
        client = None
        script = itertools.cycle(self.script) if self.until else self.script
        for i, (sql, params) in enumerate(script):
            if self.until and i and self.until.is_set():
                break
            self.attempted += 1
            try:
                if client is None:
                    client = self._connect()
                t0 = time.perf_counter()
                st = client.prepare(sql)
                t1 = time.perf_counter()
                if params is not None:
                    client.bind(st, params)
                t2 = time.perf_counter()
                table = client.execute(st)
                t3 = time.perf_counter()
                client.close(st)
                t4 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted, reported
                self.errors.append(f"{sql[:40]} {params}: "
                                   f"{type(exc).__name__}: {exc}"[:300])
                client = None
                continue
            self.latency[KIND[sql]].append(t4 - t0)
            for verb, dt in (("prepare", t1 - t0), ("bind", t2 - t1),
                             ("execute_fetch", t3 - t2), ("close", t4 - t3)):
                self.verbs[verb].append(dt)
            self.result_bytes += table.nbytes
            self.results.append(((sql, tuple(params or ())),
                                 _digest(table) if sql == BULK else table))
        self.end = time.perf_counter()


def _run_clients(location: str, short: list, bulk: list, traced: bool
                 ) -> tuple[list, float]:
    """One client thread per short script beside one bulk client that
    runs until the short clients are done; returns the clients and the
    wall time until the last one finished."""
    done = threading.Event()
    clients = [Client(location, s, traced) for s in short]
    clients.append(Client(location, bulk, traced, until=done))
    t0 = time.perf_counter()
    for c in clients:
        c.start()
    for c in clients[:-1]:
        c.join(timeout=170)
    done.set()
    clients[-1].join(timeout=60)
    if any(c.is_alive() for c in clients):
        raise RuntimeError("a Flight SQL client did not finish")
    return clients, max(c.end for c in clients) - t0


def _digest(table) -> dict:
    import pyarrow.compute as pc
    return {"rows": table.num_rows,
            "qty": pc.sum(table["l_quantity"]).as_py(),
            "keys": pc.sum(table["l_orderkey"]).as_py(),
            "price": round(pc.sum(table["l_extendedprice"]).as_py(), 2)}


def _digest_difference(got: dict, want: dict) -> str | None:
    """Counts and integer sums match exactly; the price sum, added up in
    the order the rows arrive, within a unit."""
    if (got["rows"], got["qty"], got["keys"]) != (
            want["rows"], want["qty"], want["keys"]) or abs(
            got["price"] - want["price"]) > 1.0:
        return f"{got} vs {want}"
    return None


def _duck_sql(sql: str, params) -> str:
    out = sql.replace("tpch.", "")
    for i, p in reversed(list(enumerate(params or (), start=1))):
        lit = str(p) if isinstance(p, int) else f"'{p}'"
        out = out.replace(f"${i}", lit)
    return out


# DuckDB TIMESTAMP is zone-less, which Spark spells timestamp_ntz.
_DUCK_TYPES = {"BIGINT": "bigint", "INTEGER": "int", "DOUBLE": "double",
               "VARCHAR": "string", "TIMESTAMP": "timestamp_ntz"}


# The engine answers DESCRIBE and EXPLAIN through one temp view per
# statement handle and never drops it, so a session's later SHOW TABLES
# lists them (service/engine.py, _materialize_describe).  That is a
# program defect; the check leaves these views out of SHOW TABLES and the
# run counts them instead (``helper_views_listed`` in the detail file).
HELPER_VIEWS = ("df_describe_", "df_explain_")


def _helper_views(table) -> int:
    return sum(n.startswith(HELPER_VIEWS)
               for n in table.column("table_name").to_pylist())


def _form(sql: str, result):
    """What repeats of a statement must agree on: the bulk digest, or the
    normal form of a short result (for SHOW TABLES, without the helper
    views)."""
    if sql == BULK:
        return result
    if sql == SHOW:
        import pyarrow.compute as pc
        result = result.filter(pc.invert(pc.or_(*(
            pc.starts_with(result["table_name"], p) for p in HELPER_VIEWS))))
    return arrow_normal_form(result)


def _repeats(results: list) -> tuple[dict, list[str]]:
    """The first result of each (sql, params) key, in run order, and the
    later results that differ from it."""
    first: dict = {}
    forms: dict = {}
    errors = []
    for key, result in results:
        form = _form(key[0], result)
        if key not in forms:
            first[key], forms[key] = result, form
            continue
        why = (difference(form, forms[key]) if key[0] != BULK
               else _digest_difference(form, forms[key]))
        if why:
            errors.append(f"{key[0][:40]} {list(key[1])}: repeat differs "
                          f"from the first result: {why}")
    return first, errors


def _check(first: dict, data_dir: str) -> list[str]:
    """Check the first result of each distinct statement and parameter
    against DuckDB over the same Parquet."""
    errors = []
    con = duck_views(data_dir, datagen.TPCH_TABLES)
    try:
        for (sql, params), got in first.items():
            what = f"{sql[:40]} {list(params)}"
            if sql == SHOW:
                names = {"tpch__" + r[0]
                         for r in con.sql("SHOW TABLES").fetchall()}
                served = {n for n in got.column("table_name").to_pylist()
                          if not n.startswith(HELPER_VIEWS)}
                if served != names:
                    errors.append(f"{what}: {sorted(served)} vs "
                                  f"{sorted(names)}")
            elif sql == DESCRIBE:
                want = [(r[0], _DUCK_TYPES.get(r[1], r[1])) for r in
                        con.sql("DESCRIBE orders").fetchall()]
                have = list(zip(got.column("column_name").to_pylist(),
                                got.column("data_type").to_pylist()))
                if have != want:
                    errors.append(f"{what}: {have} vs {want}")
            elif sql == BULK:
                q = (f"SELECT CAST(COUNT(*) AS BIGINT), SUM(l_quantity), "
                     f"CAST(SUM(l_orderkey) AS BIGINT), "
                     f"ROUND(SUM(l_extendedprice), 2) FROM lineitem "
                     f"WHERE l_orderkey > {params[0]}")
                rows, qty, keys, price = con.sql(q).fetchone()
                why = _digest_difference(got, {"rows": rows, "qty": qty,
                                               "keys": keys, "price": price})
                if why:
                    errors.append(f"{what}: {why}")
            else:
                rel = con.sql(_duck_sql(sql, params))
                why = difference(_form(sql, got), normal_form(
                    rel.columns, rel.fetchall()))
                if why:
                    errors.append(f"{what}: {why}")
    finally:
        con.close()
    return errors


def _phase_seconds(marks: dict) -> dict:
    """Seconds between consecutive time marks, keyed by the later mark."""
    names = list(marks)
    return {b: marks[b] - marks[a] for a, b in zip(names, names[1:])}


def _stop(proc: subprocess.Popen) -> None:
    """Interrupt the server, wait for it and for the JVM it started.
    SIGINT, because pyarrow's ``serve()`` returns on it (raising
    KeyboardInterrupt), which lets the traced launcher write its spans."""
    jvms = spark_jvms(proc.pid)
    if proc.poll() is None:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in jvms:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run(ctx: RunContext, tracer) -> dict:
    phases = {"start": time.perf_counter()}
    env = dict(os.environ)
    wh = warehouse.cached({k: v for k, v in env.items()
                           if "eventLog" not in k})
    phases["warehouse"] = time.perf_counter()
    port = _free_port()
    trace_out = ctx.path("server-trace.json")
    env.update({"FLIGHT_USER": USER, "FLIGHT_PASSWORD": PASSWORD,
                "CATALOG_URL": f"sqlite://{wh['catalog']}",
                "ICEBERG_WAREHOUSE": wh["warehouse"],
                "FLIGHT_PORT": str(port), "PERFBENCH_TRACE_OUT": trace_out})
    server_cmd = ([sys.executable, os.path.join(BENCH_DIR, "serve_traced.py")]
                  if tracer else
                  [sys.executable, os.path.join(ROOT, "scripts",
                                                "serve_flight.py")])
    location = f"grpc://127.0.0.1:{port}"
    log = open(ctx.path("logs", "server.log"), "w")
    t_setup = time.perf_counter()
    proc = subprocess.Popen(server_cmd, env=env, stdout=log,
                            stderr=subprocess.STDOUT, cwd=ctx.state_dir)
    try:
        from iceberg_datafusion_arrow_flight_spark.service.flightsql_client \
            import FlightSqlClient
        while True:
            try:
                FlightSqlClient(location, USER, PASSWORD)
                break
            except Exception:  # noqa: BLE001 - not listening yet
                if proc.poll() is not None or (
                        time.perf_counter() - t_setup > 150):
                    log.flush()
                    with open(log.name) as fh:
                        tail = fh.read()[-3000:]
                    raise RuntimeError("server did not start:\n"
                                       + tail) from None
                time.sleep(0.1)
        setup_s = time.perf_counter() - t_setup

        rng = random.Random(ctx.seed)
        n_orders = wh["rows"]["orders"]
        cycles = max(1, round(ctx.seconds / SECONDS_PER_CYCLE))
        # warm-up, untimed: each short client runs every statement kind
        # once, so the first measured statements meet a warm server
        warm, _ = _run_clients(
            location, [_short_script(rng, 1, n_orders)
                       for _ in range(SHORT_CLIENTS)],
            _bulk_script(rng, n_orders)[:1], traced=False)
        phases["warm_up"] = time.perf_counter()
        short = [_short_script(rng, cycles, n_orders)
                 for _ in range(SHORT_CLIENTS)]
        clients, wall = _run_clients(location, short,
                                     _bulk_script(rng, n_orders),
                                     bool(tracer))
        peak_rss = vmhwm_mb(proc.pid)
        jvm_rss = max((vmhwm_mb(p) for p in spark_jvms(proc.pid)),
                      default=0.0)
    finally:
        phases["measured"] = time.perf_counter()
        _stop(proc)
        phases["stop"] = time.perf_counter()
        log.close()

    lat = {k: [x for c in clients for x in c.latency[k]]
           for k in ("stmt", "meta", "bulk", "handshake")}
    verbs = {k: [x for c in clients for x in c.verbs[k]]
             for k in clients[0].verbs}
    errors = [e for c in warm + clients for e in c.errors]
    warm_results = [r for c in warm for r in c.results]
    measured = [r for c in clients for r in c.results]
    first, mismatches = _repeats(warm_results + measured)
    # exact repeats among measured statements, warm-up ones counting as
    # seen before
    seen, repeats = {key for key, _ in warm_results}, 0
    for key, _ in measured:
        repeats += key in seen
        seen.add(key)
    errors += mismatches
    errors += _check(first, wh["data"])
    phases["check"] = time.perf_counter()
    for e in errors:
        print(f"flightsql_mix: {e}", file=sys.stderr)
    helpers = max((_helper_views(t) for (sql, _), t in
                   warm_results + measured if sql == SHOW), default=0)
    if helpers:
        print(f"flightsql_mix: note: SHOW TABLES listed up to {helpers} "
              "leftover DESCRIBE/EXPLAIN views (left out of the check)",
              file=sys.stderr)
    # warm-up statements are checked too, so they count as attempted
    attempted = sum(c.attempted for c in warm + clients)
    statements = lat["stmt"] + lat["meta"] + lat["bulk"]
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss}
    e2e.update(op_metrics(statements, wall))
    extras = {
        "stmts_per_s": len(statements) / wall,
        "stmt_p50_s": median(lat["stmt"]),
        "stmt_p90_s": percentile(lat["stmt"], 0.9),
        "meta_p50_s": median(lat["meta"]),
        "bulk_p50_s": median(lat["bulk"]),
        "handshake_p50_s": median(lat["handshake"]),
        "error_rate": len(errors) / attempted,
    }
    result_mb = sum(c.result_bytes for c in clients) / (1024 * 1024)
    layers = {"spark.jvm_peak_rss_mb": jvm_rss,
              "python.peak_rss_mb": peak_rss}
    server_layers = None
    if tracer:
        fetch = [ef - ex for ef, ex in zip(verbs["execute_fetch"],
                                           verbs["execute"])]
        layers.update({
            "service.handshake_s": sum(lat["handshake"]),
            "service.prepare_s": sum(verbs["prepare"]),
            "service.bind_s": sum(verbs["bind"]),
            "service.execute_s": sum(verbs["execute"]),
            "service.fetch_s": sum(fetch),
            "service.close_s": sum(verbs["close"]),
            "service.result_mb": result_mb,
            "service.fetch_mb_per_s": (result_mb / sum(fetch)
                                       if sum(fetch) else 0.0),
        })
        with open(trace_out) as fh:
            server = json.load(fh)
        layers.update(server["metrics"])
        server_layers = server["layers"]
    return {
        "correct": not errors, "attempted": attempted,
        "failed": len(errors), "e2e": e2e, "extras": extras,
        "layers": layers,
        "detail": {"sf": warehouse.SF, "statements": len(statements),
                   "phases_s": _phase_seconds(phases),
                   "handshakes": len(lat["handshake"]),
                   # handshake time ÷ time the clients were running
                   "handshake_share": sum(lat["handshake"]) / sum(
                       c.end - c.began for c in clients),
                   "repeat_share": repeats / max(1, len(measured)),
                   "helper_views_listed": helpers,
                   "result_mb": result_mb,
                   "latency_s": {k: {"n": len(v), "p50": median(v),
                                     "p90": percentile(v, 0.9)}
                                 for k, v in lat.items()},
                   "distinct_checked": len(first),
                   "server_layers": server_layers, "errors": errors},
    }
