"""In-memory spans recorded from outside the program.

A :class:`Tracer` wraps public functions and methods of the package so
that every call becomes a span (layer, name, start, end, parent).  Spans
are appended to a list and only summarised when the run ends; nothing is
written while the workload runs.  A layer's self time is the duration of
its spans minus the part covered by their child spans, so nested layers
(a plan build that runs materialize barriers that read Iceberg tables) are
not counted twice.

The wrappers change no behaviour: each calls the original with the same
arguments and returns its result or re-raises its exception.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "iceberg_datafusion_arrow_flight_spark"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    error: bool = False
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        stack = self._stack()
        sp = Span(next(self._ids), stack[-1].sid if stack else None, layer,
                  name, time.perf_counter(), attrs=attrs)
        stack.append(sp)
        try:
            yield sp
        except BaseException:
            sp.error = True
            raise
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    # ------------------------------------------------------------ wrapping
    def _wrapped(self, fn, layer: str, name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name) as sp:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, result)
                return result
        wrapper.__perfbench_original__ = fn
        return wrapper

    def wrap_method(self, cls: type, attr: str, layer: str,
                    name: str | None = None, after=None) -> None:
        original = cls.__dict__[attr]
        self._undo.append((cls, attr, original))
        setattr(cls, attr, self._wrapped(original, layer,
                                         name or f"{cls.__name__}.{attr}",
                                         after))

    def wrap_function(self, module, attr: str, layer: str,
                      name: str | None = None, after=None) -> None:
        """Wrap ``module.attr`` and rebind it in every loaded package
        module that imported the same function object by name."""
        original = getattr(module, attr)
        wrapper = self._wrapped(original, layer, name or attr, after)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                    PACKAGE):
                continue
            if getattr(mod, attr, None) is original:
                self._undo.append((mod, attr, original))
                setattr(mod, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    # ------------------------------------------------------------ summary
    def _table(self, key: str) -> dict[str, dict[str, float]]:
        with self._lock:
            spans = list(self.spans)
        child_time: dict[int, float] = defaultdict(float)
        for sp in spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        table: dict[str, dict[str, float]] = {}
        for sp in spans:
            row = table.setdefault(getattr(sp, key), {
                "calls": 0, "total_s": 0.0, "self_s": 0.0, "errors": 0})
            dur = sp.end - sp.start
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += max(0.0, dur - child_time[sp.sid])
            row["errors"] += int(sp.error)
        return table

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per layer: span count, total (inclusive) seconds, self seconds
        and spans that raised."""
        return self._table("layer")

    def name_table(self) -> dict[str, dict[str, float]]:
        """Like :meth:`layer_table`, keyed by span name."""
        return self._table("name")

    def attr_sum(self, name: str, key: str) -> float:
        with self._lock:
            return sum(sp.attrs.get(key, 0) for sp in self.spans
                       if sp.name == name)


# ---------------------------------------------------------------- layers

def _catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase recorded by the DataFrame's
    ``QueryPlanningTracker``."""
    out: dict[str, float] = {}
    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
    except Exception:  # noqa: BLE001 - a DataFrame without a JVM plan
        return out
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def _record_catalyst(sp: Span, args, kwargs, result) -> None:
    for phase, secs in _catalyst_phases(args[0]).items():
        sp.attrs[f"catalyst.{phase}_s"] = secs


def _count_plan_files(tracer: Tracer):
    """``after`` hook for ``IcebergTable.plan_files``: files kept is the
    result's length; files considered is the unpruned file count, taken
    under a separate ``trace`` span so its cost is not charged to any
    program layer."""
    def after(sp: Span, args, kwargs, result) -> None:
        sp.attrs["files_kept"] = len(result)
        pruned = (kwargs.get("prune") is not None
                  or kwargs.get("partition_filter") is not None
                  or any(a is not None for a in args[3:5]))
        if not pruned:
            sp.attrs["files_considered"] = len(result)
            return
        table = args[0]
        snapshot_id = kwargs.get("snapshot_id",
                                 args[1] if len(args) > 1 else None)
        as_of = kwargs.get("as_of_timestamp_ms",
                           args[2] if len(args) > 2 else None)
        with tracer.span("trace", "trace.count_files"):
            original = type(table).plan_files.__perfbench_original__
            sp.attrs["files_considered"] = len(original(
                table, snapshot_id, as_of, _metadata=kwargs.get("_metadata")))
    return after


def _count_delete_files(tracer: Tracer):
    """``after`` hook for ``IcebergTable.read``: delete files of the
    current snapshot, counted under a ``trace`` span."""
    def after(sp: Span, args, kwargs, result) -> None:
        table = args[0]
        with tracer.span("trace", "trace.count_delete_files"):
            sid = table.current_snapshot_id()
            snap = next((s for s in table.snapshots()
                         if s["snapshot-id"] == sid), {})
        sp.attrs["delete_files"] = len(snap.get("delete-files", []))
    return after


def install_program_spans(tracer: Tracer) -> None:
    """Wrap the package's public layer boundaries that both the in-process
    workloads and the traced server launcher pass through, and
    ``DataFrame.toArrow``, where every result is collected and whose
    query's Catalyst phase times are read afterwards."""
    from pyspark.sql.classic.dataframe import DataFrame

    from iceberg_datafusion_arrow_flight_spark import dialect
    from iceberg_datafusion_arrow_flight_spark.operators import materialize
    from iceberg_datafusion_arrow_flight_spark.sources import iceberg_lite

    tracer.wrap_method(DataFrame, "toArrow", "spark", "spark.toArrow",
                       after=_record_catalyst)
    tracer.wrap_function(dialect, "rewrite_sql", "dialect",
                         "dialect.rewrite_sql")
    tracer.wrap_function(materialize, "materialize", "materialize",
                         "materialize.materialize")
    tracer.wrap_function(materialize, "materialize_lazy", "materialize",
                         "materialize.materialize_lazy")
    table = iceberg_lite.IcebergTable
    tracer.wrap_method(table, "plan_files", "iceberg_lite",
                       "iceberg_lite.plan_files",
                       after=_count_plan_files(tracer))
    tracer.wrap_method(table, "read", "iceberg_lite", "iceberg_lite.read",
                       after=_count_delete_files(tracer))
    for verb in ("append", "merge_upsert_mor"):
        tracer.wrap_method(table, verb, "iceberg_lite",
                           f"iceberg_lite.{verb}")
    tracer.wrap_method(table, "compact", "iceberg_lite",
                       "iceberg_lite.compact")


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """The per-layer metrics the spans of :func:`install_program_spans`
    give."""
    names = tracer.name_table()

    def stat(key: str, *span_names: str) -> float:
        return sum(names.get(n, {}).get(key, 0) for n in span_names)

    commits = ("iceberg_lite.append", "iceberg_lite.merge_upsert_mor")
    mat = ("materialize.materialize", "materialize.materialize_lazy")
    considered = tracer.attr_sum("iceberg_lite.plan_files",
                                 "files_considered")
    kept = tracer.attr_sum("iceberg_lite.plan_files", "files_kept")
    reads = stat("calls", "iceberg_lite.read")
    out = {
        "dialect.rewrite_s": stat("self_s", "dialect.rewrite_sql"),
        "dialect.calls": stat("calls", "dialect.rewrite_sql"),
        "materialize.calls": stat("calls", *mat),
        "materialize.s": stat("self_s", *mat),
        "iceberg_lite.plan_files_s": stat("self_s", "iceberg_lite.plan_files"),
        "iceberg_lite.files_considered": considered,
        "iceberg_lite.files_kept": kept,
        "iceberg_lite.prune_ratio": kept / considered if considered else 1.0,
        "iceberg_lite.delete_files_per_scan": (
            tracer.attr_sum("iceberg_lite.read", "delete_files") / reads
            if reads else 0.0),
        "iceberg_lite.read_build_s": stat("self_s", "iceberg_lite.read"),
        "iceberg_lite.commit_s": stat("total_s", *commits),
        "iceberg_lite.commits": stat("calls", *commits),
        "iceberg_lite.commit_retries": stat("errors", *commits,
                                            "iceberg_lite.compact"),
        "iceberg_lite.compact_s": stat("total_s", "iceberg_lite.compact"),
        "trace.overhead_s": tracer.layer_table().get(
            "trace", {}).get("total_s", 0.0),
    }
    for phase in ("analysis", "optimization", "planning"):
        key = f"catalyst.{phase}_s"
        out[key] = tracer.attr_sum("spark.toArrow", key)
    return out
