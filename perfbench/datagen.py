"""Seeded input generation for the three workloads.

Everything here is plain numpy/pyarrow/json: the inputs exist before
the engine under test touches them, and the same seed always yields
byte-identical files.

* ``fixture_tables`` writes the star-schema + events + documents +
  embeddings tables in the shape ``grader_etl_spark.io.load`` reads
  (one parquet file per table, one row group each, same column types
  and value domains as the project's fixture tables).
* ``rest_landings`` writes the daily JSONL landings of REST attempt
  payloads for ``daily_ingest``.
* ``stream_landings`` cuts event and document micro-batch files for
  ``stream_replay``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
P_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - EPOCH).days


def _ms_range(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, f"{out_dir}/{name}.parquet", row_group_size=len(table) + 1)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def fixture_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(
            [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(P_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900 + (np.arange(n_part) % 1000) / 10, f64)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000), f64),
        "o_orderdate": _ms_range(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    flags = rng.integers(0, 6, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_li, 901, 105_000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2], s),
        "l_linestatus": pa.array(np.array(["O", "F"])[flags % 2], s),
        "l_shipdate": _ms_range(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    t0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1e6)
    span = 30 * 86_400 * 1_000_000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(_money(rng, n_ev, 0.01, 490.02), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = [_text(rng, k) for k in rng.integers(8, 90, n_docs)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
    }


# ---------------------------------------------------------------------------
# daily_ingest: REST payload landings
# ---------------------------------------------------------------------------

# Shares of the records a day carries. The reference publishes no
# traffic figures, so these are assumptions, not measurements: enough
# literal passbacks to keep the pandas-UDF fallback busy, and a few
# quarantine cases of each kind.
INGEST_SHARES = {
    "literal_passback": 0.20,  # Python-literal dict text: the pandas-UDF fallback
    "empty_user": 0.03,        # quarantined: empty lti_user_id
    "bad_timestamp": 0.03,     # quarantined: unparseable created_at
    "corrupt_line": 0.01,      # per fetch, not JSON at all: quarantined via _corrupt_record
}
DAYS_BACK = 7  # the reference's re-fetch window (main.py:25)
FIRST_REPORT_DAY = dt.date(2024, 1, 8)


def _passback(rng, literal: bool) -> str:
    d = {
        "oauth_consumer_key": f"key{int(rng.integers(0, 20))}",
        "lis_result_sourcedid": f"src-{int(rng.integers(0, 10_000))}",
        "lis_outcome_service_url": f"https://lms{int(rng.integers(0, 5))}.example/outcome",
        "graded": bool(rng.integers(0, 2)),
    }
    # repr() spells the boolean True/False, which no JSON parser accepts
    # (single-quoted keys alone would still parse as JSON in Spark).
    return repr(d) if literal else json.dumps(d)


def _day_records(rng, day: dt.date, rows: int, users: int) -> list[str]:
    """The attempt records the REST source holds for ``day``, one JSON
    line each, with unique ``(lti_user_id, created_at)`` keys."""
    secs = rng.choice(86_400, rows, replace=False)
    kinds = rng.random((rows, 3))
    out = []
    for j in range(rows):
        ts = dt.datetime(day.year, day.month, day.day) + dt.timedelta(seconds=int(secs[j]))
        rec = {
            "lti_user_id": f"u{int(rng.integers(0, users))}",
            "passback_params": _passback(rng, kinds[j, 0] < INGEST_SHARES["literal_passback"]),
            "is_correct": [True, False, None][int(rng.integers(0, 3))],
            "attempt_type": ["run", "check"][int(rng.integers(0, 2))],
            "created_at": ts.strftime("%Y-%m-%d %H:%M:%S"),
        }
        if kinds[j, 1] < INGEST_SHARES["empty_user"]:
            rec["lti_user_id"] = ""
        elif kinds[j, 2] < INGEST_SHARES["bad_timestamp"]:
            rec["created_at"] = f"not-a-time-{day.isoformat()}-{j}"
        out.append(json.dumps(rec))
    return out


def rest_landings(out_dir: str, seed: int, landings: int, rows_per_day: int,
                  users: int) -> list[tuple[str, str]]:
    """Write ``landings`` JSONL files (``day_<k>.json``), one per daily
    run, and return ``[(path, report_date)]``.

    Like the reference's fetch, landing ``k`` is the source's records of
    the ``DAYS_BACK`` days ending on its report date: every record of
    the six earlier days comes back verbatim (the ``ON CONFLICT`` path),
    together with that day's new ones. The source has history before the
    first run, so the window is full from the first landing on: the
    first fills an empty store, each later one redelivers 6/7 of its
    records. Each fetch also carries its own corrupt lines."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    first_day = FIRST_REPORT_DAY - dt.timedelta(days=DAYS_BACK - 1)
    source = [_day_records(rng, first_day + dt.timedelta(days=d), rows_per_day, users)
              for d in range(landings + DAYS_BACK - 1)]
    out = []
    for k in range(landings):
        lines = [ln for day in source[k:k + DAYS_BACK] for ln in day]
        lines += ["<html>504 Gateway Time-out</html>"] * int(
            len(lines) * INGEST_SHARES["corrupt_line"])
        lines = [lines[i] for i in rng.permutation(len(lines))]
        path = f"{out_dir}/day_{k}.json"
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        out.append((path, (FIRST_REPORT_DAY + dt.timedelta(days=k)).isoformat()))
    return out


# ---------------------------------------------------------------------------
# stream_replay: micro-batch files cut in time order
# ---------------------------------------------------------------------------


def stream_landings(out_dir: str, seed: int, n_batches: int, events: int, users: int,
                    docs: int) -> dict[str, str]:
    """Write ``n_batches`` parquet files per landing, in event-time
    order, so micro-batch k of a file-source replay is file k (the
    file source orders by modification time, which is set to match)."""
    rng = np.random.default_rng([seed, 3])
    ev_dir, doc_dir = f"{out_dir}/events", f"{out_dir}/docs"
    os.makedirs(ev_dir, exist_ok=True)
    os.makedirs(doc_dir, exist_ok=True)
    t0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1e6)
    ts = np.sort(t0 + rng.integers(0, 28 * 86_400 * 1_000_000, events))
    user = rng.integers(0, users, events)
    correct = rng.integers(0, 3, events)
    kind = rng.integers(0, 2, events)
    texts = [_text(rng, k) for k in rng.integers(8, 90, docs)]
    for b, idx in enumerate(np.array_split(np.arange(events), n_batches)):
        pq.write_table(pa.table({
            "user_id": pa.array([f"u{u}" for u in user[idx]], pa.string()),
            "event_timestamp": pa.array(ts[idx], pa.timestamp("us", tz="UTC")),
            "attempt_type": pa.array(np.array(["run", "check"])[kind[idx]], pa.string()),
            "is_correct": pa.array(
                [None if c == 2 else bool(c) for c in correct[idx]], pa.bool_()),
        }), f"{ev_dir}/part-{b:04d}.parquet")
    for b, idx in enumerate(np.array_split(np.arange(docs), n_batches)):
        pq.write_table(pa.table({
            "doc_id": pa.array(idx, pa.int64()),
            "text": pa.array([texts[i] for i in idx], pa.string()),
            "lang": pa.array(rng.choice(LANGS, len(idx), p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in idx], pa.string()),
        }), f"{doc_dir}/part-{b:04d}.parquet")
    base = int(time.time()) - n_batches
    for d in (ev_dir, doc_dir):
        for b in range(n_batches):
            os.utime(f"{d}/part-{b:04d}.parquet", (base + b, base + b))
    return {"events": ev_dir, "docs": doc_dir}
