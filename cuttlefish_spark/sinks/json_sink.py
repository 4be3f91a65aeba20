"""Per-key JSON sink + audit accounting.

Reference parity:
- `write-chapter-response` writes each chapter's events map as
  `{out}/{id}.json` in replace mode
  (/root/reference/private/api-runner.rkt:39-52).
- The result thread logs one `WROTE: <id>` / `ERROR: <msg>` line per
  outcome (api-runner.rkt:80-89); here that audit is a DataFrame.

`write_keyed_json` keeps exact filename parity with the reference
(`{key}.json`, one JSON object keyed by event_id per file) and writes
each partition's keys where they sit, with no repartition: the batch
fetch puts every chapter's rows in one partition, as the reference's
worker both fetches and writes a chapter (api-runner.rkt:118-168). The
same job returns one `(key, status, n, error)` per key, so the audit
needs no second scan, and the driver rejects a key that came back from
two partitions. The one-file-per-key contract implies one task's worth
of data per key.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_keyed_json(df: DataFrame, out_dir: str, key_col: str = "chapter_id",
                     id_col: str = "event_id") -> list[tuple]:
    """One `{key}.json` per OK key holding `{event_id: record}` — byte-
    shape parity with api-runner.rkt:39-52 (replace mode; each file is
    written to a dot-tmp and renamed into place, so readers never see a
    torn file). `df` carries the Either columns `status`/`error`,
    which are not written. Each partition writes its own keys, so all
    of a key's rows must sit in one partition: a key that comes back
    from two partitions raises ValueError naming it.

    Returns one `(key, status, n, error)` per key, collected
    from the job that writes the files — the WROTE:/ERROR: audit
    (api-runner.rkt:80-89). `n` is the number of events in the file
    for an OK key (rows repeating an event id count once, as they are
    written once) and the number of rows for any other status."""
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows):
        audit: dict[str, list] = {}
        events: dict[str, dict] = {}
        for row in rows:
            d = row.asDict(recursive=True)
            key, status, error = d.pop(key_col), d.pop("status"), d.pop("error")
            audit.setdefault(key, [key, status, 0, error])[2] += 1
            if status == "OK":
                events.setdefault(key, {})[d.get(id_col)] = d
        for key, evs in events.items():
            tmp = os.path.join(out_dir, f".{key}.json.tmp")
            with open(tmp, "w") as fh:
                json.dump(evs, fh, sort_keys=True, default=str)
            os.replace(tmp, os.path.join(out_dir, f"{key}.json"))
            audit[key][2] = len(evs)
        return [tuple(a) for a in audit.values()]

    out = df.rdd.mapPartitions(write_partition).collect()
    spread = sorted(k for k, c in Counter(r[0] for r in out).items() if c > 1)
    if spread:
        raise ValueError(f"keys written from more than one partition: {spread}")
    return out


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
