"""Output checks: a wrong result counts as a failed op.

- Query workloads compare an order-insensitive hash of the result rows
  with the hash stored in `expected.json` (made by `make_expected.py`,
  which checks each one against the query's DuckDB oracle first).
- `etl_fanout` compares every written `{id}.json` with the golden events
  of its proto chapter and the audit log with the seeded work-list.

All of it runs outside the timed region.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _cell(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        # 12 significant digits: exact for the DECIMAL-routed aggregates
        # the queries export, blind to last-ulp summation-order noise.
        return format(f, ".12g")
    if isinstance(v, int):
        return format(float(v), ".12g") if abs(v) < 2**53 else str(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return "ts" + v.isoformat()
    if isinstance(v, _dt.date):
        return "d" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_hash(columns: list[str], rows) -> tuple[str, int]:
    """(sha256, row count) of a result, blind to row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    head = "\x1f".join(columns[i] for i in order)
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(head.encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest(), len(lines)


def arrow_hash(table) -> tuple[str, int]:
    """rows_hash of a pyarrow Table (what `DataFrame.toArrow()` returns)."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return rows_hash(cols, zip(*data))


def load_expected() -> dict:
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def check_query(expected: dict, name: str, table) -> str | None:
    """None when the result matches, else a one-line reason."""
    want = expected["queries"].get(name)
    if want is None:
        return f"{name}: no expected hash"
    got_hash, got_rows = arrow_hash(table)
    if got_rows != want["rows"]:
        return f"{name}: {got_rows} rows, expected {want['rows']}"
    if got_hash != want["hash"]:
        return f"{name}: result hash differs from the oracle-checked hash"
    return None


# --- etl_fanout ------------------------------------------------------

GOLDEN_COLS = [
    "event_id", "url", "time", "utc_offset", "title", "description",
    "venue_city", "venue_postal", "venue_lon", "venue_lat", "n_photos",
]


def golden_events() -> dict[str, dict[str, dict]]:
    """proto chapter id -> {event_id: golden record}, evaluated from the
    engine's own golden SQL (`operators.ingest._INGEST_GOLDEN_SQL`)."""
    import duckdb

    from cuttlefish_spark.operators.ingest import _INGEST_GOLDEN_SQL

    con = duckdb.connect()
    try:
        cur = con.execute(_INGEST_GOLDEN_SQL)
        names = [d[0] for d in cur.description]
        out: dict[str, dict[str, dict]] = {}
        for row in cur.fetchall():
            rec = dict(zip(names, row))
            if rec["status"] != "OK":
                continue
            out.setdefault(rec["chapter_id"], {})[rec["event_id"]] = {
                c: rec[c] for c in GOLDEN_COLS
            }
        return out
    finally:
        con.close()


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return a == b


def check_etl(worklist: list[dict], golden: dict, out_dir: str, log_dir: str) -> str | None:
    """Every OK chapter's `{id}.json` holds exactly its proto's golden
    events; no other file is written; the audit log has one WROTE line
    per OK chapter and one ERROR line per unknown or missing chapter."""
    written = {f[:-5] for f in os.listdir(out_dir) if f.endswith(".json")}
    ok = {r["id"]: r["kind"] for r in worklist if r["kind"] in golden}
    if written != set(ok):
        missing = sorted(set(ok) - written)[:3]
        extra = sorted(written - set(ok))[:3]
        return f"etl: files differ from work-list (missing {missing}, extra {extra})"
    for cid, kind in ok.items():
        with open(os.path.join(out_dir, f"{cid}.json"), encoding="utf-8") as fh:
            got = json.load(fh)
        want = golden[kind]
        if set(got) != set(want):
            return f"etl: {cid}.json has events {sorted(got)}, expected {sorted(want)}"
        for eid, rec in want.items():
            for col in GOLDEN_COLS:
                if not _same(got[eid].get(col), rec[col]):
                    return f"etl: {cid}.json event {eid} column {col} differs"
    expect_lines = set()
    for r in worklist:
        if r["kind"] in golden:
            expect_lines.add(f"WROTE: {r['id']} ({len(golden[r['kind']])})")
        else:
            expect_lines.add(f"ERROR: {r['id']} (1)")
    with open(os.path.join(log_dir, "cuttlefish.log"), encoding="utf-8") as fh:
        got_lines = [ln for ln in fh.read().splitlines() if ln]
    if len(got_lines) != len(expect_lines) or set(got_lines) != expect_lines:
        return f"etl: audit log has {len(got_lines)} lines, expected {len(expect_lines)}"
    return None
