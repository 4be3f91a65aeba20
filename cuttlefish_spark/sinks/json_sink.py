"""Per-key JSON sink + audit accounting.

Reference parity:
- `write-chapter-response` writes each chapter's events map as
  `{out}/{id}.json` in replace mode
  (/root/reference/private/api-runner.rkt:39-52).
- The result thread logs one `WROTE: <id>` / `ERROR: <msg>` line per
  outcome (api-runner.rkt:80-89); here that audit is the list of
  tuples `write_keyed_json` returns.

`write_keyed_json` keeps exact filename parity with the reference
(`{key}.json`, one JSON object keyed by event_id per file) and writes
each partition's keys in the task that holds them: the chapter
pipeline's tasks fetch, convert and write one chunk of chapters each,
as the reference's worker both fetches and writes a chapter
(api-runner.rkt:118-168). The same job returns one
`(key, status, n, error)` per key, so the audit needs no second scan,
and the driver rejects a key that came back from two partitions. A key
that is not a safe file name, or whose file cannot be written, becomes
that key's ERROR tuple, so one bad chapter never fails the job.

Each write task stages its files in its own directory,
`{out}/.{task attempt id}.tmp`, as Hadoop's FileOutputCommitter gives
each task attempt a temporary directory: it writes a file there, then
renames it to `{out}/{key}.json`, and removes the directory when the
partition ends. Creating a file locks the directory it is made in, so
tasks that all created their files in `{out}` waited on each other;
only the cheap rename now touches the shared directory. The staging
directory sits inside `{out}`, so the rename never crosses a
filesystem.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from contextlib import suppress

from pyspark import RDD, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _safe_name(key: str) -> bool:
    """Usable as `{key}.json` inside the out dir: non-empty, no `/` or
    NUL, not `.` or `..`, at most 250 bytes."""
    return (key not in ("", ".", "..") and "/" not in key and "\0" not in key
            and len(key.encode("utf-8", "surrogatepass")) <= 250)


def write_keyed_json(records: RDD, out_dir: str) -> list[tuple]:
    """One `{key}.json` per OK key holding `{event_id: record}` — byte-
    shape parity with api-runner.rkt:39-52 (replace mode; each file is
    written in the task attempt's staging directory and renamed into
    place, so readers never see a torn file and two attempts of a task
    never share a tmp file). `records` are dicts carrying `chapter_id`
    (the key) and the Either fields `status`/`error`, which are not
    written. Each partition writes its own keys, so all of a key's
    records must sit in one partition: a key that comes back from two
    partitions raises ValueError naming it.

    Returns one `(key, status, n, error)` per key, collected from the
    job that writes the files — the WROTE:/ERROR: audit
    (api-runner.rkt:80-89). `n` is the number of events in the file
    for an OK key (records repeating an event id count once, as they
    are written once) and the number of records for any other key. An
    OK key that is not a safe file name, or whose write raises, turns
    ERROR with `Couldn't write {key!r}: {reason}`; so does every OK key
    of a partition whose staging directory cannot be created."""
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows):
        stage = os.path.join(out_dir, f".{TaskContext.get().taskAttemptId()}.tmp")
        tmp = os.path.join(stage, "chapter.json.tmp")
        audit: dict[str, list] = {}
        events: dict[str, dict] = {}
        for row in rows:
            d = dict(row)
            key, status, error = d.pop("chapter_id"), d.pop("status"), d.pop("error")
            audit.setdefault(key, [key, status, 0, error])[2] += 1
            if status == "OK":
                events.setdefault(key, {})[d.get("event_id")] = d
        try:
            os.makedirs(stage, exist_ok=True)
            staged = None
        except OSError as exc:
            staged = exc
        for key, evs in events.items():
            try:
                if not _safe_name(key):
                    raise ValueError("not a safe file name")
                if staged is not None:
                    raise staged
                # dumps runs the C one-shot encoder; dump, the Python one.
                text = json.dumps(evs, sort_keys=True, default=str)
                with open(tmp, "w") as fh:
                    fh.write(text)
                os.replace(tmp, os.path.join(out_dir, f"{key}.json"))
                audit[key][2] = len(evs)
            except (OSError, ValueError) as exc:
                audit[key][1], audit[key][3] = "ERROR", f"Couldn't write {key!r}: {exc}"
                with suppress(OSError):
                    os.remove(tmp)
        shutil.rmtree(stage, ignore_errors=True)
        return [tuple(a) for a in audit.values()]

    out = records.mapPartitions(write_partition).collect()
    spread = sorted(k for k, c in Counter(r[0] for r in out).items() if c > 1)
    if spread:
        raise ValueError(f"keys written from more than one partition: {spread}")
    return out


def audit_counts(df: DataFrame) -> DataFrame:
    """WROTE:/ERROR: accounting as a DataFrame (api-runner.rkt:80-89):
    one row per (chapter_id, status) with the event count."""
    return (
        df.groupBy("chapter_id", "status")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "log_line",
            F.concat(
                F.when(F.col("status") == "OK", F.lit("WROTE: ")).otherwise(F.lit("ERROR: ")),
                F.col("chapter_id"),
            ),
        )
    )
