"""Engine-free expectations for the output checks.

``daily_ingest`` is checked against plain Python over the landed JSONL
files, with the reference job's semantics: a line that is not a JSON
object, has an empty user id or an unparseable ``created_at`` is
quarantined; the first stored row per ``(user_id, event_timestamp)``
wins (``ON CONFLICT DO NOTHING``); the report covers every stored row
of the report date.
"""

from __future__ import annotations

import datetime as dt
import json
import math


def _ts_ok(text) -> bool:
    if not isinstance(text, str):
        return False
    try:
        dt.datetime.strptime(text, "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return False
    return True


def _floor_pct(success: int, total: int) -> float:
    """``floor_quantize(success * 100 / total, 2)`` with the zero-row guard."""
    if total == 0:
        return 0.0
    return math.floor(success * 100.0 / total * 100.0 + 0.5) / 100.0


def ingest_expectations(days: list[tuple[str, str]]) -> list[dict]:
    """Per day, in order: observed counters, stored row total and the
    report row the pipeline must produce."""
    stored: dict[tuple[str, str], tuple] = {}
    out = []
    for path, date in days:
        with open(path) as f:
            lines = [ln for ln in f.read().split("\n") if ln]
        quarantined = redelivered = 0
        for line in lines:
            try:
                rec = json.loads(line)
            except ValueError:
                rec = None
            if not isinstance(rec, dict) or not rec.get("lti_user_id") \
                    or not _ts_ok(rec.get("created_at")):
                quarantined += 1
                continue
            key = (rec["lti_user_id"], rec["created_at"])
            redelivered += key in stored
            stored.setdefault(key, (rec.get("is_correct"), rec.get("attempt_type")))
        rows = [(k[0], v) for k, v in stored.items() if k[1].startswith(date)]
        success = sum(1 for _, v in rows if v[0] is True)
        out.append({
            "batch_rows": len(lines),
            "quarantined_rows": quarantined,
            "redelivered_rows": redelivered,
            "stored_rows": len(stored),
            "report": {
                "report_date": date,
                "total_attempts": len(rows),
                "successful_attempts": success,
                "success_percentage": _floor_pct(success, len(rows)),
                "unique_users": len({u for u, _ in rows}),
                "run_attempts": sum(1 for _, v in rows if v[1] == "run"),
                "check_attempts": sum(1 for _, v in rows if v[1] == "check"),
            },
        })
    return out
