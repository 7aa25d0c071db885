"""Streaming throughput bench: the four batch-parity streaming jobs
replayed over an N-micro-batch parquet landing (file source,
maxFilesPerTrigger=1, availableNow), reporting rows/s and per-batch
wall — the measured figures BASELINE.md's streaming section records.

Jobs (streaming/jobs.py, streaming/stateful.py):
  gate        curated_doc_stream        stateless filter+project
  dedup       incremental_dedup_stream  stream-static anti-join vs ledger
  report      daily_tumbling_report     watermark + 1-day tumbling agg
  trending    trending_terms            watermark + windowed term counts
  profile     user_profile_stream       native update-mode per-user aggregate
                                        (Python runs only for ttl=True)

Inputs derive from the sf0.1 fixtures (documents / events mapped onto
the job schemas), split into N files so each micro-batch is one file.
Usage: python tools/streaming_bench.py [N_BATCHES]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from grader_etl_spark.io import load  # noqa: E402
from grader_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE = "/tmp/spark_graft_streaming_bench"


def _land(spark, n_batches: int):
    """Write the two landing dirs, n_batches files each."""
    docs_dir, events_dir = f"{BASE}/docs", f"{BASE}/events"
    docs = load(spark, SF_DIR, "documents", columns=["doc_id", "text", "lang", "source"])
    docs.repartition(n_batches).write.mode("overwrite").parquet(docs_dir)
    events = load(spark, SF_DIR, "events").select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").alias("event_timestamp"),
        F.col("event_type").alias("attempt_type"),
        (F.col("value") > 50).alias("is_correct"),
    )
    events.repartition(n_batches).write.mode("overwrite").parquet(events_dir)
    return docs_dir, events_dir


def _stream(spark, path: str, schema):
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def _run(job_name: str, stream_df, output_mode: str = "append") -> dict:
    from grader_etl_spark.session import stream_start_conf

    with stream_start_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(f"bench_{job_name}")
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    t0 = time.perf_counter()
    q.awaitTermination()
    wall = time.perf_counter() - t0
    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    rows = sum(p["numInputRows"] for p in progresses)
    batch_ms = [p["durationMs"]["triggerExecution"] for p in progresses]
    return {
        "job": job_name,
        "rows": rows,
        "batches": len(progresses),
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows / wall, 0),
        "median_batch_ms": int(statistics.median(batch_ms)) if batch_ms else None,
        "max_batch_ms": max(batch_ms) if batch_ms else None,
    }


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark(app_name="grader-etl-spark-streaming-bench")
    spark.sparkContext.setLogLevel("ERROR")
    from grader_etl_spark.streaming.jobs import (
        curated_doc_stream,
        daily_tumbling_report,
        incremental_dedup_stream,
        trending_terms,
    )

    docs_dir, events_dir = _land(spark, n_batches)
    doc_schema = spark.read.parquet(docs_dir).schema
    ev_schema = spark.read.parquet(events_dir).schema

    # Ledger for the dedup job: fingerprints of the even-doc_id half of
    # the corpus — a realistic "already ingested" fraction.
    ledger = (
        spark.read.parquet(docs_dir)
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("fp"))
        .distinct()
    )
    ledger.cache().count()

    results = [
        _run("gate", curated_doc_stream(_stream(spark, docs_dir, doc_schema))),
        _run(
            "dedup_vs_ledger",
            incremental_dedup_stream(_stream(spark, docs_dir, doc_schema), ledger),
        ),
        _run(
            "daily_report",
            daily_tumbling_report(_stream(spark, events_dir, ev_schema)),
        ),
        _run(
            "trending_terms",
            trending_terms(_stream(spark, events_dir, ev_schema)),
            output_mode="complete",
        ),
    ]
    from grader_etl_spark.streaming.stateful import user_profile_stream

    results.append(
        _run(
            "user_profile",
            user_profile_stream(_stream(spark, events_dir, ev_schema)),
            output_mode="update",
        )
    )
    print(f"{'job':18s} {'rows':>8s} {'batches':>7s} {'wall_s':>7s} "
          f"{'rows/s':>9s} {'med_batch_ms':>12s}")
    for r in results:
        print(
            f"{r['job']:18s} {r['rows']:>8,d} {r['batches']:>7d} "
            f"{r['wall_sec']:>7.2f} {int(r['rows_per_sec']):>9,d} "
            f"{r['median_batch_ms']:>12d}"
        )
    print(json.dumps({"sf_dir": SF_DIR, "n_batches": n_batches, "jobs": results}))


if __name__ == "__main__":
    main()
