"""The three workloads: each lands its seeded inputs once, then runs
identical rounds from the same starting state.

A round returns its wall, the wall of every operation in it, the
deterministic counters the determinism guard compares, the output
check failures, and (when the tracer is on) per-layer figures.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import datagen
import oracles
import layers

# The analytics queries are fixed, so every run times the same plans and
# ``--seed`` varies only the data: the reference's daily report, the
# slowest sampling query, the build hog and a single-task stage case,
# plus one session-memo builder (the bigram memo the LM scorers share),
# so memo builds are billed to the round.
QUERIES = [
    "q_daily_report",
    "q_sample_stratified",
    "q_rank_fusion",
    "q_waiting_suppliers",
    "q_bigram_logprob",
]


@dataclass
class RoundResult:
    wall: float
    ops: list[float]
    counters: dict
    failures: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    # Filled in by the runner for traced rounds.
    traced: bool = False
    status: dict = field(default_factory=dict)
    io_counts: dict = field(default_factory=dict)
    self_times: dict = field(default_factory=dict)
    totals: dict = field(default_factory=dict)


def _files_and_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    name = ""
    op_unit = ""

    def __init__(self, spark, work: str, seed: int, tracer: layers.Tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.inputs: dict = {}

    def round_dir(self, rnd: int) -> str:
        path = os.path.join(self.work, "rounds", f"r{rnd}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def reset(self) -> None:
        """Same starting state for every round: no session memos, no
        cached frames."""
        from grader_etl_spark.registry import clear_session_memos

        clear_session_memos(self.spark)
        self.spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# daily_ingest
# ---------------------------------------------------------------------------


class _MarkSink:
    """``CollectingSink`` that also notes when it was written."""

    def __init__(self) -> None:
        from grader_etl_spark.plans.pipeline import CollectingSink

        self.sink = CollectingSink()
        self.at = 0.0

    def write_rows(self, header, rows) -> None:
        self.at = time.perf_counter()
        self.sink.write_rows(header, rows)


class DailyIngest(Workload):
    name = "daily_ingest"
    op_unit = "daily batch"
    LANDINGS = 3
    ROWS_PER_DAY = 400
    USERS = 150

    def land(self) -> dict:
        self.days = datagen.rest_landings(
            os.path.join(self.work, "landing"), self.seed, self.LANDINGS, self.ROWS_PER_DAY,
            self.USERS)
        self.expected = oracles.ingest_expectations(self.days)
        self.input_bytes = sum(os.path.getsize(p) for p, _ in self.days)
        lines = [e["batch_rows"] for e in self.expected]
        self.inputs = {
            "landings": self.LANDINGS, "days_back": datagen.DAYS_BACK,
            "records_per_source_day": self.ROWS_PER_DAY, "users": self.USERS,
            "input_bytes": self.input_bytes, "lines_per_landing": lines,
            "redelivered_share_per_landing": [
                round(e["redelivered_rows"] / n, 4) for e, n in zip(self.expected, lines)],
            "shares": datagen.INGEST_SHARES,
        }
        return self.inputs

    def run_round(self, rnd: int) -> RoundResult:
        from pyspark.sql.types import BooleanType, StringType, StructField, StructType

        from grader_etl_spark.plans.pipeline import ParquetStore, run_pipeline
        from grader_etl_spark.sources.files import read_json

        schema = StructType([
            StructField("lti_user_id", StringType()),
            StructField("passback_params", StringType()),
            StructField("is_correct", BooleanType()),
            StructField("attempt_type", StringType()),
            StructField("created_at", StringType()),
        ])
        path = os.path.join(self.round_dir(rnd), "store")
        self.reset()
        store = ParquetStore(self.spark, path)
        ops, failures, out_rows = [], [], 0
        mirror_s = report_s = 0.0
        t_round = time.perf_counter()
        for (day_path, date), want in zip(self.days, self.expected):
            mirror, sheet, mails, observed = _MarkSink(), _MarkSink(), [], {}
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    row = run_pipeline(
                        read_json(self.spark, day_path, schema), store, date,
                        raw_mirror=mirror, report_sink=sheet, notify=mails.append,
                        metrics_out=observed)
            except Exception as exc:  # one failed daily batch, keep going
                ops.append(time.perf_counter() - t0)
                failures.append(f"{date}: {type(exc).__name__}: {exc}"[:300])
                continue
            t1 = time.perf_counter()
            ops.append(t1 - t0)
            appended = [s for s in self.tracer.round_spans(rnd) if s[0] == "pipeline.append"]
            if appended:
                mirror_s += mirror.at - appended[-1][2]
                report_s += t1 - mirror.at
            got = row.asDict()
            if got != want["report"]:
                failures.append(f"{date}: report {got} != {want['report']}")
            for k in ("batch_rows", "quarantined_rows"):
                if observed.get(k) != want[k]:
                    failures.append(f"{date}: {k} {observed.get(k)} != {want[k]}")
            n_stored = len(mirror.sink.rows or [])
            if n_stored != want["stored_rows"]:
                failures.append(f"{date}: stored rows {n_stored} != {want['stored_rows']}")
            if len(sheet.sink.rows or []) != 6 or len(mails) != 1:
                failures.append(f"{date}: report sheet/email not delivered")
            out_rows = n_stored
        wall = time.perf_counter() - t_round
        files, size = _files_and_bytes(path)
        res = RoundResult(wall, ops, {
            "ops": len(ops), "output_rows": out_rows, "files_written": files,
            "memo_builds": layers.memo_entries()}, failures)
        if self.tracer.enabled:
            res.layers = {
                "pipeline.mirror_s": mirror_s, "pipeline.report_s": report_s,
                "store.files_written": files,
                "store.bytes_per_input_byte": size / self.input_bytes,
            }
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        return res

    def final_check(self) -> list[str]:
        return []  # every round already checked every day against the oracle


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------


class AnalyticsMix(Workload):
    name = "analytics_mix"
    op_unit = "query"
    SF = 0.01

    def land(self) -> dict:
        self.sf_dir = os.path.join(self.work, "tables")
        rows = datagen.fixture_tables(self.sf_dir, self.seed, self.SF)
        self.queries = QUERIES
        self.inputs = {"sf": self.SF, "rows": rows, "queries": self.queries}
        return self.inputs

    def run_round(self, rnd: int) -> RoundResult:
        from grader_etl_spark.registry import REGISTRY, load_all_operators

        load_all_operators()
        self.reset()
        ops, failures = [], []
        analysis = 0.0
        t_round = time.perf_counter()
        for name in self.queries:
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    with self.tracer.span("registry.build"):
                        df = REGISTRY[name].fn(self.spark, self.sf_dir)
                    with self.tracer.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                ops.append(time.perf_counter() - t0)
                continue
            ops.append(time.perf_counter() - t0)
            if self.tracer.enabled:
                analysis += layers.analysis_ms(df)
        wall = time.perf_counter() - t_round
        res = RoundResult(wall, ops, {"ops": len(ops), "memo_builds": layers.memo_entries()},
                          failures)
        if self.tracer.enabled:
            res.layers = {"catalyst.analysis_ms": analysis}
        return res

    def final_check(self) -> list[str]:
        """Each query once, collected, against its DuckDB oracle. The
        oracles run in a second thread while Spark collects; the memos
        of the last round are reused (they were built from these
        tables)."""
        import threading

        import duckdb

        from grader_etl_spark.io import TABLES
        from grader_etl_spark.registry import REGISTRY
        from tools.oracle_check import compare

        want: dict = {}

        def run_oracles() -> None:
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
                for name in self.queries:
                    if REGISTRY[name].oracle is not None:
                        try:
                            want[name] = con.sql(REGISTRY[name].oracle).df()
                        except duckdb.Error as exc:
                            want[name] = exc
            finally:
                con.close()

        oracle_thread = threading.Thread(target=run_oracles)
        oracle_thread.start()
        got = {}
        for name in self.queries:
            try:
                got[name] = REGISTRY[name].fn(self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # a failed query is a failed check, not a crash
                got[name] = exc
        oracle_thread.join()
        failures = []
        for name in self.queries:
            g, w = got[name], want.get(name)
            if isinstance(g, Exception) or isinstance(w, Exception):
                problems = [f"{type(g if isinstance(g, Exception) else w).__name__}: "
                            f"{g if isinstance(g, Exception) else w}"[:300]]
            elif w is None:
                problems = [] if len(g) > 0 else ["no rows"]
            else:
                problems = compare(name, g, w)
            if problems:
                failures.append(f"{name}: " + "; ".join(problems))
        return failures


# ---------------------------------------------------------------------------
# stream_replay
# ---------------------------------------------------------------------------


class StreamReplay(Workload):
    name = "stream_replay"
    op_unit = "micro-batch"
    BATCHES = 2
    EVENTS = 4000
    USERS = 60
    DOCS = 1000
    JOBS = ("daily_report", "user_profile", "curated_docs")

    def land(self) -> dict:
        from pyspark.sql.types import (BooleanType, LongType, StringType, StructField,
                                       StructType, TimestampType)

        self.dirs = datagen.stream_landings(
            os.path.join(self.work, "stream"), self.seed, self.BATCHES, self.EVENTS,
            self.USERS, self.DOCS)
        self.ev_schema = StructType([
            StructField("user_id", StringType()),
            StructField("event_timestamp", TimestampType()),
            StructField("attempt_type", StringType()),
            StructField("is_correct", BooleanType()),
        ])
        self.doc_schema = StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ])
        self.sinks: list[dict] = []
        self.inputs = {"micro_batches_per_job": self.BATCHES, "events": self.EVENTS,
                       "users": self.USERS, "documents": self.DOCS}
        return self.inputs

    def _plans(self, source):
        from grader_etl_spark.streaming.jobs import curated_doc_stream, daily_tumbling_report
        from grader_etl_spark.streaming.stateful import user_profile_stream

        ev = source(self.dirs["events"], self.ev_schema)
        docs = source(self.dirs["docs"], self.doc_schema)
        return {
            "daily_report": (daily_tumbling_report(ev), "complete"),
            "user_profile": (user_profile_stream(ev), "update"),
            "curated_docs": (curated_doc_stream(docs), "append"),
        }

    def run_round(self, rnd: int) -> RoundResult:
        from grader_etl_spark.streaming.jobs import file_stream, run_to_memory_sink

        self.reset()
        plans = self._plans(
            lambda path, schema: file_stream(self.spark, path, schema, max_files_per_trigger=1))
        ops, failures, job_walls, contents = [], [], {}, {}
        wall, batches, out_rows = 0.0, 0, 0
        agg = {"trigger_ms": 0.0, "planning_ms": 0.0, "commit_ms": 0.0,
               "state_rows": 0, "state_bytes": 0}
        for job in self.JOBS:
            df, mode = plans[job]
            sink = f"perfbench_{job}_{rnd}"
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    with self.tracer.span(f"streaming.{job}"):
                        q = run_to_memory_sink(df, sink, output_mode=mode)
            except Exception as exc:  # one failed job: its wall is one attempted op
                ops.append(time.perf_counter() - t0)
                wall += ops[-1]
                failures.append(f"{job}: {type(exc).__name__}: {exc}"[:300])
                continue
            job_wall = time.perf_counter() - t0
            wall += job_wall
            progress = q.recentProgress
            for p in progress:
                d = p["durationMs"]
                ops.append(d.get("triggerExecution", 0) / 1000.0)
                agg["trigger_ms"] += d.get("triggerExecution", 0)
                agg["planning_ms"] += d.get("queryPlanning", 0)
                agg["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            if progress:
                for st in progress[-1]["stateOperators"]:
                    agg["state_rows"] += st["numRowsTotal"]
                    agg["state_bytes"] += st["memoryUsedBytes"]
            batches += len(progress)
            job_walls[f"streaming.{job}.wall_s"] = job_wall
            rows = [tuple(r) for r in self.spark.table(sink).collect()]
            self.spark.catalog.dropTempView(sink)
            out_rows += len(rows)
            contents[job] = rows
        self.sinks.append(contents)
        res = RoundResult(wall, ops, {
            "ops": len(ops), "micro_batches": batches, "output_rows": out_rows,
            "memo_builds": layers.memo_entries()}, failures)
        if self.tracer.enabled:
            res.layers = {**job_walls, **{f"streaming.{k}": v for k, v in agg.items()}}
        return res

    @staticmethod
    def _final(job: str, rows: list[tuple]) -> set:
        """Comparable final state of a sink: the complete-mode table, the
        latest profile per user (update mode emits every change), or the
        appended rows."""
        if job != "user_profile":
            return set(rows)
        latest: dict = {}
        for r in rows:
            if r[0] not in latest or r[1] > latest[r[0]][1]:
                latest[r[0]] = r
        return set(latest.values())

    def final_check(self) -> list[str]:
        """Every round's sink contents against the batch twin: the same
        job functions over the same files read as a batch."""
        import pyspark.sql.functions as F

        plans = self._plans(lambda path, schema: self.spark.read.schema(schema).parquet(path))
        ev = self.spark.read.schema(self.ev_schema).parquet(self.dirs["events"])
        twins = {
            "daily_report": set(map(tuple, plans["daily_report"][0].collect())),
            "curated_docs": set(map(tuple, plans["curated_docs"][0].collect())),
            "user_profile": set(map(tuple, ev.groupBy("user_id").agg(
                F.count(F.lit(1)), F.count(F.when(F.col("is_correct"), 1)),
                F.max("event_timestamp")).collect())),
        }
        failures = []
        for rnd, contents in enumerate(self.sinks):
            for job, rows in contents.items():
                got = self._final(job, rows)
                if got != twins[job]:
                    failures.append(
                        f"round {rnd} {job}: {len(got ^ twins[job])} rows differ from batch twin")
        return failures


WORKLOADS = {w.name: w for w in (DailyIngest, AnalyticsMix, StreamReplay)}
