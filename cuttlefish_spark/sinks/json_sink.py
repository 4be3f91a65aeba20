"""Per-key JSON sink + audit accounting.

Reference parity:
- `write-chapter-response` writes each chapter's events map as
  `{out}/{id}.json` in replace mode
  (/root/reference/private/api-runner.rkt:39-52).
- The result thread logs one `WROTE: <id>` / `ERROR: <msg>` line per
  outcome (api-runner.rkt:80-89); here that audit is a DataFrame.

`write_keyed_json` keeps exact filename parity with the reference
(`{key}.json`, one JSON object keyed by event_id per file): rows are
repartitioned BY KEY so each key's rows are colocated, then each
executor partition writes its keys' files directly — distributed; only
the per-key event counts come back to the driver. The one-file-per-key
contract implies one task's worth of data per key.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_keyed_json(df: DataFrame, out_dir: str, key_col: str = "chapter_id",
                     id_col: str = "event_id") -> dict:
    """One `{key}.json` per key holding `{event_id: record}` — byte-
    shape parity with api-runner.rkt:39-52 (replace mode; each file is
    written to a dot-tmp and renamed into place, so readers never see a
    torn file). Rows are hash-repartitioned by key into
    `defaultParallelism` partitions: a fixed count, so AQE cannot
    coalesce the write into one serial task. Returns `{key: n_events}`,
    the number of events in each written file, collected from the same
    job that writes the files — the WROTE: counts of the audit
    (api-runner.rkt:80-89) without a second scan. Rows repeating an
    event id count once, as they are written once."""
    os.makedirs(out_dir, exist_ok=True)
    cols = [c for c in df.columns if c != key_col]
    n_parts = df.sparkSession.sparkContext.defaultParallelism

    def write_partition(rows):
        by_key: dict[str, dict] = {}
        for row in rows:
            d = row.asDict(recursive=True)
            key = d.pop(key_col)
            by_key.setdefault(key, {})[d.get(id_col)] = d
        for key, events in by_key.items():
            tmp = os.path.join(out_dir, f".{key}.json.tmp")
            with open(tmp, "w") as fh:
                json.dump(events, fh, sort_keys=True, default=str)
            os.replace(tmp, os.path.join(out_dir, f"{key}.json"))
        return [(key, len(events)) for key, events in by_key.items()]

    keyed = df.select(key_col, *cols).repartition(n_parts, F.col(key_col))
    return dict(keyed.rdd.mapPartitions(write_partition).collect())


def audit_counts(df: DataFrame, key_col: str = "chapter_id",
                 status_col: str = "status") -> DataFrame:
    """WROTE:/ERROR: accounting as a DataFrame (api-runner.rkt:80-89):
    one row per (key, status) with the event count."""
    return (
        df.groupBy(key_col, status_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "log_line",
            F.concat(
                F.when(F.col(status_col) == "OK", F.lit("WROTE: ")).otherwise(F.lit("ERROR: ")),
                F.col(key_col),
            ),
        )
    )
