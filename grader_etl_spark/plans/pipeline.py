"""The reference pipeline (/root/reference/main.py:421-453) as a
composable batch job:

    raw records -> transform -> (valid, quarantine) -> in-batch dedup
      -> idempotent append to a date-partitioned parquet store
      -> daily report -> [sheet rows | email body] renderings

Stage-for-stage parity with ``main()``:

| reference stage                  | cite              | here                 |
|----------------------------------|-------------------|----------------------|
| fetch_data (REST JSON)           | main.py:103-125   | caller supplies the raw DataFrame (spark.read.json on landed files / createDataFrame; external I/O stays outside the engine) |
| process_data                     | main.py:127-178   | ``transform``        |
| validation drops + WARN logs     | main.py:146-163   | ``transform`` returns a quarantine side-output instead of dropping silently |
| save_to_db ON CONFLICT           | main.py:180-228   | ``idempotent_append`` (first-writer-wins + anti-join vs sink keys) |
| generate_daily_report            | main.py:270-372   | ``operators.aggregates.daily_report`` |
| report sheet 8x2 layout          | main.py:324-333   | ``_collect_report`` (unpivot) |
| email body                       | main.py:388-404   | ``render_email_body`` (driver-side, 1 row) |
| upload_raw_data_to_sheets, SMTP  | main.py:230-268, 374-419 | ``Sink`` protocol — tiny collected data, driver-side adapters |

Scale notes: the store is partitioned by event_date so the daily
report's date filter prunes partitions; the anti-join reads only the
sink's key columns (column pruning); all stages are lazy until the
single write action.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator, Protocol

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession

from grader_etl_spark.functions.passback import with_passback_parsed
from grader_etl_spark.operators.dedup import first_writer_wins, insert_new_keys_only
from grader_etl_spark.operators.validation import split_valid
from grader_etl_spark.functions.quantize import floor_quantize

DEDUP_KEYS = ["user_id", "event_timestamp"]  # main.py:202's composite key


# ---------------------------------------------------------------------------
# transform — process_data (main.py:127-178) as one codegen'd projection
# ---------------------------------------------------------------------------


def transform(raw: DataFrame, observation=None) -> tuple[DataFrame, DataFrame]:
    """Project/rename/extract/coerce the raw attempt records onto the
    statistics schema, returning (valid, quarantine).

    Input columns (the REST payload, main.py:134-141): lti_user_id,
    passback_params (serialized dict, either JSON or Python-literal
    syntax), is_correct, attempt_type, created_at.

    ``observation``: optional ``pyspark.sql.Observation`` attached to
    the shaped frame ABOVE the valid/quarantine split, recording
    batch_rows / quarantined_rows / null_is_correct as a side effect
    of whichever branch's action runs first. At 100 TB this is the
    difference between free ingest counters and a second full scan —
    ``.count()`` on the quarantine branch would re-read the batch;
    observed metrics ride the write job's existing pass
    (SparkListener-backed, exact, no sampling).
    """
    # Split-union parse: the literal-eval UDF only sees rows from_json
    # can't handle (functions/passback.py:with_passback_parsed).
    parsed = with_passback_parsed(raw, "passback_params", "_passback")
    passback = F.col("_passback")
    shaped = parsed.select(
        F.col("lti_user_id").alias("user_id"),
        passback.getItem("oauth_consumer_key").alias("oauth_consumer_key"),
        passback.getItem("lis_result_sourcedid").alias("lis_result_sourcedid"),
        passback.getItem("lis_outcome_service_url").alias("lis_outcome_service_url"),
        # None passes through, anything else Python-truthifies
        # (main.py:142-145); on a typed boolean/int input domain
        # cast("boolean") agrees with bool() — SURVEY.md §7.4(1).
        F.when(F.col("is_correct").isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.col("is_correct").cast("boolean"))
        .alias("is_correct"),
        F.col("attempt_type").alias("attempt_type"),
        # try_to_timestamp: malformed created_at must quarantine the row
        # (main.py:161-163), not abort the batch — ANSI-mode to_timestamp
        # would throw on the first bad string.
        F.try_to_timestamp("created_at").alias("event_timestamp"),
    )
    # The reference's gates (main.py:146-163): required user_id and
    # parseable timestamp; optional fields are nullable by schema.
    valid_pred = (
        F.col("user_id").isNotNull()
        & (F.col("user_id") != "")
        & F.col("event_timestamp").isNotNull()
    )
    if observation is not None:
        shaped = shaped.observe(
            observation,
            F.count(F.lit(1)).alias("batch_rows"),
            F.count(F.when(~valid_pred | valid_pred.isNull(), 1)).alias(
                "quarantined_rows"
            ),
            F.count(F.when(F.col("is_correct").isNull(), 1)).alias("null_is_correct"),
        )
    return shaped.filter(valid_pred), shaped.filter(~valid_pred | valid_pred.isNull())


# ---------------------------------------------------------------------------
# idempotent store — save_to_db's ON CONFLICT DO NOTHING (main.py:180-228)
# ---------------------------------------------------------------------------


def _lock_reap_tag(lock: str) -> str | None:
    """Return the dead holder's nonce if ``lock`` is reapable, else
    None. A lock is reapable when its recorded pid no longer exists on
    this host (``kill(pid, 0)`` → ESRCH). Unreadable or malformed
    content never reaps — acquisition links content atomically, so a
    well-formed lock always carries ``pid:nonce``."""
    try:
        with open(lock) as f:
            pid_s, _, nonce = f.read().partition(":")
        pid = int(pid_s)
    except (OSError, ValueError):
        return None
    if not nonce:
        return None
    try:
        os.kill(pid, 0)
        return None  # holder alive
    except ProcessLookupError:
        return nonce
    except PermissionError:
        return None  # alive under another uid


@contextmanager
def _store_lock(path: str, timeout: float = 120.0, poll: float = 0.05) -> Iterator[None]:
    """Advisory mutex for the store's check-then-append critical
    section, with crash recovery: the lock is a sibling ``<path>.lock``
    file acquired by atomic link-no-overwrite (the POSIX twin of
    HDFS's create-no-overwrite), whose content is ``pid:nonce``.

    Why it exists: without it, two writers can BOTH anti-join against
    the same pre-append key snapshot and BOTH land the same key —
    duplicate rows, exactly the race the reference's per-row
    ``ON CONFLICT`` (main.py:202) cannot have. Plain parquet has no
    table-level transaction, so mutual exclusion has to come from
    outside the format; at cluster scale this contextmanager is the
    single-node rendition of what a transactional table format
    (Delta/Iceberg MERGE, or Hive lock manager) provides — swap this
    function, keep the callers. (Re-verified round 3: delta-spark is
    not in this container and installing packages is out of scope.
    Round 6: the MERGE semantic itself is now a code path —
    plans/merge.py implements copy-on-write MERGE INTO on plain
    parquet under this same lock; only the Delta/Iceberg *format*
    remains external.)

    Crash recovery: a waiter that finds the recorded pid dead REAPS
    the lock instead of timing out — ``rename(lock, lock.reap-<nonce>)``,
    atomic and nonce-deterministic, so concurrent reapers collide
    benignly (exactly one rename succeeds; losers retry the acquire).
    The nonce also closes the ABA hazard: if the renamed file turns
    out to carry a different nonce than the one observed dead (the
    microsecond window where another reaper won AND a new live writer
    acquired), the reaper restores it with link-no-overwrite and
    retries. The only unrecoverable corner — a third writer acquiring
    inside that same microsecond window — requires a real crash plus
    two sub-poll-interval races stacked, and is the residual every
    pidfile-takeover scheme shares; an fcntl/flock rendition would
    close even that on one host but has no dfs analogue at all.
    Liveness check is per-host pid existence, the right scope here
    (all writers share the host; a cluster swaps this file for the
    table format's transaction log, not a smarter pidfile)."""
    lock = path.rstrip("/") + ".lock"
    parent = os.path.dirname(lock)
    if parent:
        os.makedirs(parent, exist_ok=True)
    nonce = uuid.uuid4().hex[:12]
    mine = f"{lock}.w-{nonce}"
    with open(mine, "w") as f:
        f.write(f"{os.getpid()}:{nonce}")
    deadline = time.monotonic() + timeout
    try:
        while True:
            try:
                os.link(mine, lock)  # atomic create-no-overwrite WITH content
                break
            except FileExistsError:
                tag = _lock_reap_tag(lock)
                if tag is not None:
                    reap = f"{lock}.reap-{tag}"
                    try:
                        os.rename(lock, reap)
                    except FileNotFoundError:
                        continue  # another reaper won, or holder released
                    try:
                        with open(reap) as f:
                            got = f.read().partition(":")[2]
                    except OSError:
                        got = tag
                    if got != tag:
                        # ABA: we renamed a NEWER live acquisition — put
                        # it back atomically and retry from scratch.
                        try:
                            os.link(reap, lock)
                        except FileExistsError:
                            pass
                    try:
                        os.unlink(reap)
                    except FileNotFoundError:
                        pass
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"store lock {lock} held for >{timeout}s by a LIVE process — "
                        "a dead holder would have been reaped automatically"
                    )
                time.sleep(poll)
        try:
            yield
        finally:
            # Guarded release: remove only OUR acquisition (a reaper
            # can only displace a dead pid, so for a live holder this
            # read-then-remove is effectively atomic).
            try:
                with open(lock) as f:
                    if f.read().partition(":")[2] == nonce:
                        os.remove(lock)
            except OSError:
                pass
    finally:
        try:
            os.unlink(mine)
        except FileNotFoundError:
            pass


@dataclass
class ParquetStore:
    """Date-partitioned parquet sink with first-writer-wins append —
    the engine's canonical rendition of the statistics table.
    Concurrent appends are serialized by ``_store_lock`` (see it for
    the scale story); readers are never blocked (parquet appends are
    add-only and readers list files at plan time)."""

    spark: SparkSession
    path: str

    def read(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            return None  # first run: store does not exist yet

    def idempotent_append(self, batch: DataFrame) -> None:
        """In-batch dedup + anti-join against existing keys + append —
        semantically `INSERT ... ON CONFLICT (user_id, event_timestamp)
        DO NOTHING` for the whole batch in three shuffle-free-where-
        possible steps (the anti-join prunes the sink scan to the two
        key columns). The snapshot-read → anti-join → append sequence
        holds the store lock, so interleaved writers see each other's
        keys (tests/test_pipeline.py pins the two-writer race)."""
        deduped = first_writer_wins(
            batch, keys=DEDUP_KEYS, order=["attempt_type", "oauth_consumer_key"]
        )
        from grader_etl_spark.plans import manifest as _manifest

        with _store_lock(self.path):
            existing = self.read()
            if existing is not None:
                deduped = insert_new_keys_only(deduped, existing, keys=DEDUP_KEYS)
            before = _manifest.dir_mtimes(self.path) if os.path.isdir(self.path) else {}
            (
                deduped.withColumn("event_date", F.to_date("event_timestamp"))
                .write.mode("append")
                .partitionBy("event_date")
                .parquet(self.path)
            )
            # Publish the next manifest version so manifest readers
            # (plans/manifest.read_table / snapshot) see this append as
            # one committed step — only the touched partitions are
            # re-stamped (dir-mtime diff, metadata-only).
            _manifest.republish_changed(self.path, before)


# ---------------------------------------------------------------------------
# report — the reference's SQL (main.py:278-289) over the statistics schema
# ---------------------------------------------------------------------------


def statistics_report(stats: DataFrame, report_date: str) -> DataFrame:
    """main.py:278-289 verbatim in DataFrame form, on the *statistics*
    schema (is_correct boolean = success; attempt_type in {run,check}),
    with the zero-row guard (main.py:293) folded in. (The fixture-shaped
    rendition used by the oracle gate is operators.aggregates.daily_report.)"""
    total = F.count(F.lit(1))
    success = F.count(F.when(F.col("is_correct"), 1))
    day = F.lit(report_date).cast("date")
    in_day = F.to_date("event_timestamp") == day
    if "event_date" in stats.columns:
        # a store read: the partition-column equality prunes the scan
        # to the one event_date directory instead of every partition
        in_day = in_day & (F.col("event_date") == day)
    return (
        stats.filter(in_day)
        .agg(
            total.alias("total_attempts"),
            success.alias("successful_attempts"),
            F.when(total == 0, F.lit(0.0))
            .otherwise(floor_quantize(success.cast("double") * 100 / total.cast("double"), 2))
            .alias("success_percentage"),
            F.countDistinct("user_id").alias("unique_users"),
            F.count(F.when(F.col("attempt_type") == "run", 1)).alias("run_attempts"),
            F.count(F.when(F.col("attempt_type") == "check", 1)).alias("check_attempts"),
        )
        .select(F.lit(report_date).alias("report_date"), "*")
    )


# ---------------------------------------------------------------------------
# report renderings — sheet layout (main.py:324-333) + email (main.py:388-404)
# ---------------------------------------------------------------------------

_SHEET_METRICS = [
    ("Total Attempts", "total_attempts"),
    ("Successful Attempts", "successful_attempts"),
    ("Success Percentage", "success_percentage"),
    ("Unique Users", "unique_users"),
    ("Run Attempts", "run_attempts"),
    ("Check Attempts", "check_attempts"),
]


def _collect_report(report: DataFrame) -> tuple[Row, list[Row]]:
    """Run the 1-row report ONCE and return (typed report row, sheet
    rows). The sheet is the report unpivoted to (metric, value) rows —
    the 8x2 layout of main.py:324-333 — by a stack() riding the same
    job, so the strings are exactly Spark's casts of the report values
    and the aggregate is not computed a second time."""
    pairs = ", ".join(f"'{label}', CAST({col} AS STRING)" for label, col in _SHEET_METRICS)
    sheet = report.selectExpr(
        "*", f"stack({len(_SHEET_METRICS)}, {pairs}) AS (metric, value)"
    ).collect()
    return Row(*report.columns)(*(sheet[0][c] for c in report.columns)), sheet


def render_email_body(report_row: Row) -> str:
    """Driver-side plaintext rendering (main.py:388-404). The percent
    string is formatted HERE, at the sink — the engine keeps the ratio
    numeric (SURVEY.md §7.4 trap 5)."""
    r = report_row.asDict()
    return (
        f"Daily Report — {r['report_date']}\n"
        f"Total Attempts: {r['total_attempts']}\n"
        f"Successful Attempts: {r['successful_attempts']}\n"
        f"Success Percentage: {r['success_percentage']:.2f}%\n"
        f"Unique Users: {r['unique_users']}\n"
        f"Run Attempts: {r['run_attempts']}\n"
        f"Check Attempts: {r['check_attempts']}\n"
    )


class Sink(Protocol):
    """Driver-side mirror sinks (Sheets / SMTP in the reference —
    main.py:230-268,374-419). They receive tiny collected data; the
    live adapters are `sinks.SheetsSink` (Sheets v4 REST over stdlib
    urllib) and `sinks.SmtpNotifier` (smtplib), injected by the
    runner and env-gated via their `from_env()` constructors."""

    def write_rows(self, header: list[str], rows: list[list[str]]) -> None: ...


@dataclass
class CollectingSink:
    """Test/default sink: records what a Sheets/email adapter would
    send (the reference degrades gracefully when creds are absent —
    main.py:419; this is that no-op path, but observable)."""

    header: list[str] | None = None
    rows: list[list[str]] | None = None

    def write_rows(self, header: list[str], rows: list[list[str]]) -> None:
        self.header, self.rows = header, rows


# ---------------------------------------------------------------------------
# run — main() (main.py:421-453)
# ---------------------------------------------------------------------------


def run_pipeline(
    raw: DataFrame,
    store: ParquetStore,
    report_date: str,
    raw_mirror: Sink | None = None,
    report_sink: Sink | None = None,
    notify: Callable[[str], None] | None = None,
    metrics_out: dict | None = None,
) -> Row:
    """The full job. Returns the report row (what the email carries).

    Sequencing parity: like the reference, the report runs even if the
    incoming batch is empty (main.py:441 sits outside `if data:`), and
    the zero-row guard inside daily_report yields the all-zero row.

    ``metrics_out``: pass a dict to receive the observed ingest
    counters (batch_rows / quarantined_rows / null_is_correct),
    harvested from the append job itself — no extra scan (see
    ``transform``). The reference logs these same drop counts row by
    row at main.py:146-163."""
    obs = None
    if metrics_out is not None:
        from pyspark.sql import Observation

        obs = Observation("ingest")
    valid, _quarantine = transform(raw, observation=obs)
    store.idempotent_append(valid)
    if obs is not None:
        metrics_out.update(obs.get)

    stored = store.read()
    if raw_mirror is not None and stored is not None:
        # full-overwrite mirror of raw rows (main.py:230-268) — tiny in
        # the reference's domain; a real adapter would cap/paginate.
        pdf = stored.drop("event_date").toPandas().astype(str)
        raw_mirror.write_rows(list(pdf.columns), pdf.values.tolist())

    report_df = statistics_report(stored if stored is not None else valid, report_date)
    row, sheet = _collect_report(report_df)

    if report_sink is not None:
        report_sink.write_rows(
            ["report_date", "metric", "value"],
            [[r["report_date"], r["metric"], r["value"]] for r in sheet],
        )
    if notify is not None:
        notify(render_email_body(row))
    return row
