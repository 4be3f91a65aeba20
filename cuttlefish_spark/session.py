"""SparkSession factory.

Every knob here is executor-count independent so the same code runs on
local[32] and on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune at any scale factor.
- Broadcast threshold 64 MiB: the TPC-H-ish dims (region/nation/
  customer/supplier/part) broadcast instead of shuffling the fact side.
- Arrow on: every pandas/mapInPandas exchange is vectorized.
- Session timezone pinned to UTC: the reference normalizes all event
  times to epoch-millis UTC (+ explicit utcOffset), see
  /root/reference/private/workers/facebook.rkt:22-28 and
  eventbrite.rkt:54-66 — UTC-pinned sessions make timestamp semantics
  reproducible across drivers and match the DuckDB oracle.
- ANSI off: the reference is lenient (missing paths -> defaults, see
  /root/reference/private/hash.rkt:30-35); legacy mode gives
  null-on-miss semantics for element_at/casts instead of runtime errors.
- Python worker daemon `cuttlefish_spark.daemon`: Spark puts
  `$SPARK_HOME/python/lib/pyspark.zip` first on the workers' path, and
  zipimport caches no bytecode, so each worker pool's daemon compiled
  pyspark from source (about 0.7 s before its first task). The daemon
  module imports the installed, bytecode-cached pyspark instead when
  its version is the zip's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cuttlefish-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine, on
    `local[$SPARK_GRAFT_CPUS]` (default: every core)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "cuttlefish_spark.daemon")
        # Long-session hygiene (r13, measured; re-measured r14): a
        # periodic System.gc() (spark.cleaner.periodicGC.interval) is a
        # full stop-the-world pause that lands mid-query and made
        # allocation-heavy stages bimodal (minhash_accuracy at sf0.1:
        # 11-92 s across runs at a 2-minute interval against 3.8-11 s
        # at 60 minutes), so the interval is left at Spark's 30-minute
        # default; bench.py runs an untimed System.gc() between queries
        # instead. Driver-state retention stays capped: AQE re-plans
        # large queries many times and the status store otherwise
        # retains 1000 executions of plan strings.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
