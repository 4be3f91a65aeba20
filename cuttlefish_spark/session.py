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
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine."""
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
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
        # Long-session hygiene (r13, measured; RE-MEASURED r14):
        # localCheckpoint / broadcast / shuffle state is reclaimed by
        # ContextCleaner only after the JVM garbage-collects the owning
        # objects, so a session running hundreds of queries accumulates
        # dead MEMORY_AND_DISK blocks whose eviction churn slows later
        # queries ~5-20x (r13 bench.py numbers). r13 bounded that with a
        # 2-MINUTE periodic GC — but r14 measured the other edge of that
        # knob: a periodic System.gc() is a full stop-the-world pause
        # that lands MID-QUERY and made allocation-heavy stages bimodal
        # (minhash_accuracy at sf0.1: 11-92 s across runs at 2min vs a
        # stable 3.8-11 s at 60min; r13's whole 32-core anti-scaling
        # cluster reads the same way). The interval therefore stays at
        # Spark's 30min default unless overridden
        # (SPARK_GRAFT_PERIODIC_GC); per-query engines (bench.py) do an
        # explicit untimed System.gc() between runs, which is where the
        # r13 leak is actually reclaimed. Driver-state retention stays
        # capped: AQE re-plans large queries many times and the status
        # store otherwise retains 1000 executions of plan strings.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "30min"),
        )
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
