"""Outside-in layer timing for the traced run.

Nothing here edits the engine: layers are timed by wrapping public
functions and methods (``io.load``, ``DataFrameReader.parquet``,
``ParquetStore.idempotent_append``, ``manifest.republish_changed``) and
by reading what Spark already records (the application status store,
the Catalyst phase tracker of each query execution, streaming
progress).

``install`` must run before the operator modules are imported: they
bind ``from grader_etl_spark.io import load`` at import time.

Spans are ``(name, start, end, parent, round)`` tuples kept in memory
and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from collections import defaultdict

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


class Tracer:
    """Span recorder. ``enabled`` toggles recording without removing
    the wrappers, so traced and untraced rounds alternate in one run
    and their difference is the tracing overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.round = -1
        self.spans: list[tuple[str, float, float, int | None, int]] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str | None, fn, count: str | None = None):
        """``fn`` timed as span ``name`` (none if ``None``), its calls
        counted under ``count``."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if count:
                tracer.counts[count] += 1
            if name is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def round_spans(self, rnd: int) -> list[tuple[str, float, float, int | None, int]]:
        return [s for s in self.spans if s[4] == rnd]

    def totals(self, rnd: int) -> dict[str, float]:
        """Per span name: summed wall of its spans in round ``rnd``."""
        out: dict[str, float] = defaultdict(float)
        for name, a, b, _, r in self.spans:
            if r == rnd:
                out[name] += b - a
        return dict(out)

    def self_times(self, rnd: int) -> dict[str, float]:
        """Per span name: total wall minus the wall of its child spans."""
        spans = [(i, s) for i, s in enumerate(self.spans) if s[4] == rnd]
        child = defaultdict(float)
        for _, (_, a, b, parent, _) in spans:
            if parent is not None:
                child[parent] += b - a
        out: dict[str, float] = defaultdict(float)
        for i, (name, a, b, _, _) in spans:
            out[name] += (b - a) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, a, b, parent, rnd) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": a, "end": b,
                                    "parent": parent, "round": rnd}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        if self.t.enabled:
            self.idx = len(self.t.spans)
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append((self.name, time.perf_counter(), 0.0, parent, self.t.round))
            self.t._stack.append(self.idx)
        else:
            self.idx = None
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            name, a, _, parent, rnd = self.t.spans[self.idx]
            self.t.spans[self.idx] = (name, a, time.perf_counter(), parent, rnd)
            self.t._stack.pop()
        return False


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points. Call before importing
    ``grader_etl_spark.registry`` operators or ``plans.pipeline`` users."""
    from pyspark.sql.readwriter import DataFrameReader

    import grader_etl_spark.io as gio
    from grader_etl_spark.plans import manifest, pipeline

    gio.load = tracer.wrap("io.load", gio.load, count="io.load_calls")
    DataFrameReader.parquet = tracer.wrap(None, DataFrameReader.parquet, count="io.parquet_reads")
    pipeline.ParquetStore.idempotent_append = tracer.wrap(
        "pipeline.append", pipeline.ParquetStore.idempotent_append)
    manifest.republish_changed = tracer.wrap("manifest.publish", manifest.republish_changed)


# ---------------------------------------------------------------------------
# Spark-side records
# ---------------------------------------------------------------------------


def drain_listener(spark) -> None:
    """Block until the status store has seen every posted event."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.3)


PHASES = ("analysis", "optimization", "planning")


def _phases_ms(qe) -> dict[str, float]:
    """A ``QueryExecution``'s phase tracker: wall per phase, in ms."""
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def analysis_ms(df) -> float:
    """Analysis wall of ``df`` itself, spent while it was built; the
    execution that runs it re-uses the analyzed plan."""
    return _phases_ms(df._jdf.queryExecution())["analysis"]


class CatalystPhases:
    """Catalyst phase walls of every query execution that runs while
    started, read from the ``QueryExecution`` that actually ran: a
    ``QueryExecutionListener`` implemented in Python over the py4j
    callback server."""

    class _Listener:
        def __init__(self) -> None:
            self.seen: list[dict[str, float]] = []

        def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
            self.seen.append(_phases_ms(qe))

        def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
            self.seen.append(_phases_ms(qe))

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.spark = spark
        self.manager = spark._jsparkSession.listenerManager()
        self.listener = self._Listener()

    def start(self) -> None:
        drain_listener(self.spark)  # earlier executions are not reported
        self.listener.seen.clear()
        self.manager.register(self.listener)

    def stop(self) -> dict[str, float]:
        """Summed phase walls (ms) of the executions since ``start``."""
        drain_listener(self.spark)  # listener calls run on the listener bus
        self.manager.unregister(self.listener)
        return {p: sum(s[p] for s in self.listener.seen) for p in PHASES}


class StatusReader:
    """Per-round deltas of Spark's application status store: jobs,
    stages, tasks, shuffle and spill bytes, executor time, stages
    that ran as one task, and rows through Python workers."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_stage = -1
        self.last_job = -1
        self.last_exec = -1

    def mark(self) -> None:
        """Forget everything recorded so far."""
        drain_listener(self.spark)
        self.delta()

    def delta(self) -> dict[str, float]:
        drain_listener(self.spark)
        out = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "shuffle_write_records": 0,
               "spill_bytes": 0,
               "executor_run_s": 0.0, "single_task_stage_s": 0.0, "python_rows": 0}
        jobs = self.app.jobsList(None)
        top_job = self.last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid > self.last_job:
                out["jobs"] += 1
                top_job = max(top_job, jid)
        self.last_job = top_job
        app = self.app
        stages = app.stageList(None, False, False, getattr(app, "stageList$default$4")(),
                               getattr(app, "stageList$default$5")())
        top = self.last_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self.last_stage or str(st.status()) != "COMPLETE":
                continue
            top = max(top, sid)
            n = st.numCompleteTasks()
            out["tasks"] += n
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_write_records"] += st.shuffleWriteRecords()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            if n == 1:
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["single_task_stage_s"] += (
                        done.get().getTime() - sub.get().getTime()) / 1000.0
        self.last_stage = top
        out["python_rows"] = self._python_rows()
        return out

    def _python_rows(self) -> int:
        """Output rows of every Python-evaluating plan node (Arrow/pandas
        UDFs, grouped-map and stateful pandas) in the new executions."""
        lst = self.sql.executionsList()
        total, top = 0, self.last_exec
        for i in range(lst.size()):
            eid = lst.apply(i).executionId()
            if eid <= self.last_exec:
                continue
            top = max(top, eid)
            vals = {}
            it = self.sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2()
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if "Python" not in node.name() and "InPandas" not in node.name():
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() == "number of output rows" and m.accumulatorId() in vals:
                        total += int(_parse_total(vals[m.accumulatorId()]))
        self.last_exec = top
        return total


def _parse_total(s: str) -> float:
    """Status-store metric text: '3,200' or 'total (min, med, max ...)\\n83.2 KiB (...)'."""
    line = s.split("\n")[-1].strip()
    m = re.match(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except Exception:
        pass
    return 0.0


def memo_entries() -> int:
    """Total entries across the engine's session-memo dicts
    (module attributes named ``*_CACHE``)."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if not name.startswith("grader_etl_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if attr.endswith("_CACHE") and isinstance(obj, dict):
                n += len(obj)
    return n
