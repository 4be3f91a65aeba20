"""End-to-end pipeline runner — the engine twin of `racket main.rkt
[configfile]` (reference main.rkt:27-62 + run-workers,
api-runner.rkt:118-168).

Flow: resolve runtime config (A1) -> chapters work-list drives the
fetch: the driver splits it into one chunk per core (A2-A9) -> adapter
normalization to the canonical event schema (A10-A18) -> per-chapter
`{chapter}.json` files under the config's json-out-path (A21,
api-runner.rkt:39-52) -> WROTE:/ERROR: audit lines appended under
logfile-path (A23, api-runner.rkt:80-89). One Python task per chunk
fetches its chapters, normalizes each payload (`adapters.ADAPTERS`,
then `flat_record`) and writes their files, as in the reference's
worker, and the write returns every chapter's audit tuple: a run is
one Spark job of one stage with no shuffle, and builds no DataFrame:
the audit comes back as a sorted list of tuples, whose log lines the
CLI prints.

Usage: python -m cuttlefish_spark.run [configfile]
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def run_pipeline(
    spark: SparkSession,
    config: dict | None = None,
    config_arg: str | None = None,
    transport: str = "replay",
) -> list[tuple[str, str, int, str]]:
    """Run the whole reference pipeline under `config`; returns the
    per-chapter audit as `(chapter_id, status, n_events, log_line)`
    tuples sorted by chapter id.
    A chapter that fails anywhere (fetch, an id that is not a safe file
    name, the write) is an ERROR row; the run goes on.

    A missing `chapter-json-file` raises FileNotFoundError, matching
    the reference (an unreadable chapters table aborts the run) — a
    misconfigured run must not silently fetch demo data."""
    from cuttlefish_spark.operators.ingest import fetch_records
    from cuttlefish_spark.sinks.json_sink import write_keyed_json
    from cuttlefish_spark.sources.adapters import flat_record
    from cuttlefish_spark.sources.config import load_config

    config = config or load_config(arg=config_arg)
    chapters_path = config["chapter-json-file"]
    if not os.path.exists(chapters_path):
        raise FileNotFoundError(f"chapter-json-file not found: {chapters_path!r}")
    records = fetch_records(
        spark, chapters_path=chapters_path, transport=transport, config=config
    ).map(flat_record)
    audit = sorted(
        (cid, status, n, f"{'WROTE' if status == 'OK' else 'ERROR'}: {cid}")
        for cid, status, n, _error in write_keyed_json(records, config["json-out-path"])
    )
    append_log(config["logfile-path"], [f"{line} ({n})" for _, _, n, line in audit])
    return audit


def append_log(log_dir: str, lines: list[str]) -> None:
    """Append audit lines to `cuttlefish.log`, rotating daily (A24,
    reference logger.rkt:54-63: an hourly alarm restarts the log file
    at hour 0 — here the day boundary is checked on write, which is
    the driver-side equivalent without a daemon thread). A log last
    written on an earlier day is renamed `cuttlefish-YYYY-MM-DD.log`
    before the append starts the fresh file. No lines append nothing."""
    import datetime as _dt

    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, "cuttlefish.log")
    today = _dt.date.today()
    if os.path.exists(path):
        stamp = _dt.date.fromtimestamp(os.path.getmtime(path))
        if stamp < today:
            os.replace(path, os.path.join(log_dir, f"cuttlefish-{stamp.isoformat()}.log"))
    with open(path, "a", encoding="utf-8") as fh:
        fh.writelines(f"{line}\n" for line in lines)


def main() -> None:
    from cuttlefish_spark.session import get_spark

    spark = get_spark("cuttlefish-run")
    spark.sparkContext.setLogLevel("ERROR")
    audit = run_pipeline(spark, config_arg=sys.argv[1] if len(sys.argv) > 1 else None)
    for _cid, _status, n, line in audit:
        print(f"{line} ({n})")


if __name__ == "__main__":
    main()
