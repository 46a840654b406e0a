"""Traced launcher for the Flight SQL server.

    PERFBENCH_TRACE_OUT=spans.json python3 perfbench/serve_traced.py

Wraps the ``EngineService`` verbs and the package's layer boundaries in
spans (see :mod:`tracing`), then runs ``scripts/serve_flight.py``
unchanged in this process.  When the server stops (SIGINT), it writes the
per-layer self times, the service's result-cache peaks and open sessions
to ``$PERFBENCH_TRACE_OUT`` and stops Spark so its event log is complete.
"""

from __future__ import annotations

import json
import os
import runpy
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, stop_spark  # noqa: E402
from tracing import (Tracer, layer_metrics,  # noqa: E402
                     install_program_spans)

VERBS = ("handshake", "create_prepared_statement", "bind_parameters",
         "execute", "fetch", "close_prepared_statement", "close_session")


class ServiceProbe:
    """Peaks of the service's result cache, sampled after every execute."""

    def __init__(self) -> None:
        self.service = None
        self.entries_peak = 0
        self.mb_peak = 0.0

    def after_execute(self, sp, args, kwargs, result) -> None:
        self.service = args[0]
        try:
            tables = list(self.service.results.values())
        except RuntimeError:    # resized by another gRPC thread meanwhile
            return
        self.entries_peak = max(self.entries_peak, len(tables))
        self.mb_peak = max(self.mb_peak,
                           sum(t.nbytes for t in tables) / (1024 * 1024))

    def after_handshake(self, sp, args, kwargs, result) -> None:
        self.service = args[0]


def main() -> None:
    from iceberg_datafusion_arrow_flight_spark.service.engine import (
        EngineService)
    tracer = Tracer()
    install_program_spans(tracer)
    probe = ServiceProbe()
    hooks = {"execute": probe.after_execute,
             "handshake": probe.after_handshake}
    for verb in VERBS:
        tracer.wrap_method(EngineService, verb, "service",
                           f"service.{verb}", after=hooks.get(verb))
    try:
        runpy.run_path(os.path.join(ROOT, "scripts", "serve_flight.py"),
                       run_name="__main__")
    except KeyboardInterrupt:
        pass
    finally:
        metrics = layer_metrics(tracer)
        names = tracer.name_table()
        metrics.update({
            "service.verbs_self_s": sum(
                names.get(f"service.{v}", {}).get("self_s", 0.0)
                for v in VERBS),
            "service.cache_entries_peak": probe.entries_peak,
            "service.cache_mb_peak": probe.mb_peak,
            "service.sessions_open_end": (len(probe.service.sessions)
                                          if probe.service else 0),
        })
        with open(os.environ["PERFBENCH_TRACE_OUT"], "w") as fh:
            json.dump({"metrics": metrics, "layers": tracer.layer_table(),
                       "spans": names}, fh)
        from pyspark.sql import SparkSession
        spark = (SparkSession.getActiveSession()
                 or SparkSession._instantiatedSession)
        if spark is not None:
            stop_spark(spark)


if __name__ == "__main__":
    main()
