"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 6 --trace 0

Run from the root of a checkout; the engine under test is the
``grader_etl_spark`` package next to this directory. The run

1. starts one local Spark session pinned to ``local[N]``;
2. generates and lands the seeded inputs;
3. warms up with two full rounds (billed to ``setup_s``), checking after
   the first that the driver and the Python workers import the engine
   from this checkout (same-code guard);
4. runs timed rounds for ``--seconds``, at least two (every round
   starts from the same state: memos and caches cleared, fresh
   store/checkpoints);
5. checks outputs (untimed) and that the deterministic counters were
   identical in every round;
6. prints a summary, then the result object as the last stdout line.

``--trace 1`` alternates traced and untraced rounds, reports per-layer
figures from the traced ones and the tracing overhead as the
difference, and writes the spans under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_ROUNDS = 2
MIN_ROUNDS, MIN_TRACED_ROUNDS = 2, 4  # a traced run alternates traced and untraced


def _process_start() -> float:
    """perf_counter() value at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()


def _cores() -> int:
    """local[N]: one core left for the driver, at most three."""
    n = len(os.sched_getaffinity(0))
    return max(1, min(3, n - 1))


def _configure_env(work: str, cores: int) -> None:
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the engine from this checkout.
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell"]),
    })


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, path).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _same_code_guard(spark) -> dict:
    """Driver and a Python worker must import ``grader_etl_spark`` from
    the same file, inside this checkout."""
    import pyspark.sql.functions as F

    import grader_etl_spark

    def origin(_):
        import grader_etl_spark as g

        return os.path.realpath(g.__file__)

    worker = spark.range(1).select(F.udf(origin, "string")("id")).first()[0]
    driver = os.path.realpath(grader_etl_spark.__file__)
    root = os.path.realpath(ROOT) + os.sep
    if driver != worker or not driver.startswith(root):
        raise SystemExit(
            f"same-code guard: driver imports {driver}, worker imports {worker}, "
            f"checkout is {root}")
    return {"driver": driver, "worker": worker}


def _resolved_knobs(spark) -> dict:
    """Every SPARK_GRAFT_* knob as the engine resolves it."""
    from grader_etl_spark import io, session

    conf = spark.conf.get
    return {
        "SPARK_GRAFT_CPUS": session._cpus(),
        "SPARK_GRAFT_SHUFFLE": conf("spark.sql.shuffle.partitions"),
        "SPARK_GRAFT_STREAM_SHUFFLE": session.stream_shuffle_partitions(),
        "SPARK_GRAFT_AQE": conf("spark.sql.adaptive.enabled"),
        "SPARK_GRAFT_ADVISORY": conf("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "SPARK_GRAFT_DRIVER_MEM": conf("spark.driver.memory"),
        "SPARK_GRAFT_SCATTER_CAP": io.scatter_cap(),
        "SPARK_GRAFT_KERNEL_CAP": io.kernel_scatter_cap(),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR"),
        "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    }


def _median(values: list[float]) -> float:
    """Median, or 0 when every operation failed (the failures are
    reported; the figure is then meaningless anyway)."""
    return statistics.median(values) if values else 0.0


def _quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


def main() -> int:
    # A terminated run still stops Spark and deletes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "grader_etl_spark", "__init__.py")):
        print(f"no grader_etl_spark package next to {HERE}: run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads  # noqa: E402  (needs HERE on sys.path)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = _cores()
    _configure_env(work, cores)
    try:
        return _run(args, workloads, work, out_dir, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass


def _run(args, workloads, work: str, out_dir: str, cores: int) -> int:
    import layers

    tracer = layers.Tracer()
    layers.install(tracer)  # before any operator module binds io.load

    from grader_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        knobs = _resolved_knobs(spark)
        status = layers.StatusReader(spark) if args.trace else None
        catalyst = layers.CatalystPhases(spark) if args.trace else None
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t_land = time.perf_counter()
        inputs = wl.land()
        land_s = time.perf_counter() - t_land

        # Warm-up: the first round of a fresh JVM costs about twice a
        # steady one; the second is within about 10% of steady. The
        # same-code guard runs once the cold round has started the
        # Python workers, so it costs little.
        t_warm = time.perf_counter()
        warm = [wl.run_round(0).wall]
        code = _same_code_guard(spark)
        warm += [wl.run_round(rnd).wall for rnd in range(1, WARMUP_ROUNDS)]
        rnd = WARMUP_ROUNDS
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T_PROCESS

        timed = []
        t_measure = time.perf_counter()
        if status:
            status.mark()
        min_rounds = MIN_TRACED_ROUNDS if args.trace else MIN_ROUNDS
        while len(timed) < min_rounds or time.perf_counter() - t_measure < args.seconds:
            traced = bool(args.trace) and len(timed) % 2 == 0
            tracer.enabled, tracer.round = traced, rnd
            tracer.counts.clear()
            if traced:
                catalyst.start()
            res = wl.run_round(rnd)
            tracer.enabled = False
            if traced:
                for phase, ms in catalyst.stop().items():
                    key = f"catalyst.{phase}_ms"
                    res.layers[key] = res.layers.get(key, 0.0) + ms
            res.traced = traced
            if status:
                delta = status.delta()  # also moves past untraced rounds' records
            if traced:
                res.status = delta
                res.io_counts = dict(tracer.counts)
                res.self_times = tracer.self_times(rnd)
                res.totals = tracer.totals(rnd)
            timed.append(res)
            rnd += 1
        measure_s = time.perf_counter() - t_measure

        failures = [f for r in timed for f in r.failures]
        t_check = time.perf_counter()
        check_failures = wl.final_check()
        check_s = time.perf_counter() - t_check
        drift = _determinism(timed, args.trace)
        failures += check_failures + drift

        walls = [r.wall for r in timed if not r.traced]
        ops = [o for r in timed if not r.traced for o in r.ops]
        attempted = sum(len(r.ops) for r in timed)
        if args.trace:
            metrics = _per_layer(timed, start_s, warmup_s, spark, cores,
                                 workloads.StreamReplay.JOBS)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "round_s": {"value": _median(walls), "unit": "s"},
                "op_p50_s": {"value": _median(ops), "unit": "s"},
            }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "nproc": os.cpu_count(),
            "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
            "loadavg": os.getloadavg(), "code": code,
            "engine_digest": _tree_digest(os.path.join(ROOT, "grader_etl_spark")),
            "knobs": knobs, "inputs": inputs, "land_s": land_s, "warmup_rounds": warm,
            "timed_rounds": [r.wall for r in timed], "measure_s": measure_s, "check_s": check_s,
            "op_samples": len(ops), "op_unit": wl.op_unit, "counters": [r.counters for r in timed],
            "failures": failures, "metrics": metrics,
        }
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace:
            tracer.dump(stem + ".spans.jsonl")
    finally:
        # Drop their JVM handles while the JVM is up: py4j releases a
        # handle by a call into the JVM.
        status = catalyst = None  # noqa: F841
        _stop(spark)

    for f in failures[:20]:
        print(f"FAILED: {f}", file=sys.stderr)
    print(f"{args.workload}: seed {args.seed}, local[{cores}], {len(timed)} timed rounds, "
          f"{len(ops)} {wl.op_unit} samples, loadavg {os.getloadavg()[0]:.2f}")
    for name, m in metrics.items():
        print(f"  {name:36s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not drift else 1


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _determinism(timed, traced_run: int) -> list[str]:
    """Deterministic counters must match in every round. Shuffle volume
    is compared in records: the compressed bytes of the same records
    move by a few hundred bytes with the order rows arrive in."""
    rows = []
    for r in timed:
        c = dict(r.counters)
        if traced_run and r.traced:
            c.update({k: r.status[k] for k in ("jobs", "tasks", "shuffle_write_records")})
            c["io.parquet_reads"] = r.io_counts.get("io.parquet_reads", 0)
        rows.append(c)
    out = []
    for key in sorted({k for c in rows for k in c}):
        vals = [c[key] for c in rows if key in c]
        if len(set(vals)) > 1:
            out.append(f"determinism guard: {key} differs across rounds: {vals}")
    return out


def _per_layer(timed, start_s, warmup_s, spark, cores, jobs) -> dict:
    import layers

    traced = [r for r in timed if r.traced]
    plain = [r for r in timed if not r.traced]

    def med(fn) -> float:
        return statistics.median(fn(r) for r in traced)

    def st(key):
        return med(lambda r: r.status[key])

    def self_t(key):
        return med(lambda r: r.self_times.get(key, 0.0))

    def layer(key):
        return med(lambda r: r.layers.get(key, 0.0))

    def total(key):
        return med(lambda r: r.totals.get(key, 0.0))

    def attributed(r) -> float:
        """Round time inside a measured layer: query build and
        execution, store append, mirror and report, micro-batches."""
        return (r.totals.get("registry.build", 0.0) + r.totals.get("exec", 0.0)
                + r.totals.get("pipeline.append", 0.0)
                + r.layers.get("pipeline.mirror_s", 0.0) + r.layers.get("pipeline.report_s", 0.0)
                + r.layers.get("streaming.trigger_ms", 0.0) / 1000.0)

    traced_round = med(lambda r: r.wall)
    plain_round = statistics.median(r.wall for r in plain) if plain else traced_round
    build = total("registry.build")
    ops = sorted(o for r in timed for o in r.ops)
    m = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "session.jvm_peak_rss_mb": (layers.jvm_peak_rss_mb(spark), "MiB"),
        "io.load_calls": (med(lambda r: r.io_counts.get("io.load_calls", 0)), "count"),
        "io.load_s": (self_t("io.load"), "s"),
        "io.parquet_reads": (med(lambda r: r.io_counts.get("io.parquet_reads", 0)), "count"),
        "registry.build_s": (build, "s"),
        "registry.memo_builds": (med(lambda r: r.counters.get("memo_builds", 0)), "count"),
        "catalyst.analysis_ms": (layer("catalyst.analysis_ms"), "ms"),
        "catalyst.optimization_ms": (layer("catalyst.optimization_ms"), "ms"),
        "catalyst.planning_ms": (layer("catalyst.planning_ms"), "ms"),
        "exec.exec_s": (total("exec"), "s"),
        "exec.jobs": (st("jobs"), "count"),
        "exec.tasks": (st("tasks"), "count"),
        "exec.shuffle_write_bytes": (st("shuffle_write_bytes"), "B"),
        "exec.shuffle_write_records": (st("shuffle_write_records"), "count"),
        "exec.spill_bytes": (st("spill_bytes"), "B"),
        "exec.core_util": (med(lambda r: r.status["executor_run_s"] / (r.wall * cores)), "ratio"),
        "exec.single_task_stage_s": (st("single_task_stage_s"), "s"),
        "exec.python_rows": (st("python_rows"), "count"),
        "pipeline.append_s": (total("pipeline.append"), "s"),
        "pipeline.mirror_s": (layer("pipeline.mirror_s"), "s"),
        "pipeline.report_s": (layer("pipeline.report_s"), "s"),
        "manifest.publish_s": (self_t("manifest.publish"), "s"),
        "store.files_written": (layer("store.files_written"), "count"),
        "store.bytes_per_input_byte": (layer("store.bytes_per_input_byte"), "ratio"),
        "streaming.trigger_ms": (layer("streaming.trigger_ms"), "ms"),
        "streaming.planning_ms": (layer("streaming.planning_ms"), "ms"),
        "streaming.commit_ms": (layer("streaming.commit_ms"), "ms"),
        "streaming.state_rows": (layer("streaming.state_rows"), "count"),
        "streaming.state_bytes": (layer("streaming.state_bytes"), "B"),
        "op_p90_s": (_quantile(ops, 0.9), "s"),
        "op_max_s": (ops[-1] if ops else 0.0, "s"),
        "trace.round_s": (traced_round, "s"),
        "trace.overhead_s": (traced_round - plain_round, "s"),
        "trace.build_share": (build / traced_round, "ratio"),
        "trace.exec_share": (total("exec") / traced_round, "ratio"),
        "trace.unattributed_share": (med(lambda r: max(
            0.0, r.wall - attributed(r)) / r.wall), "ratio"),
        "op_samples": (len(ops), "count"),
    }
    for j in jobs:
        m[f"streaming.{j}.wall_s"] = (layer(f"streaming.{j}.wall_s"), "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
