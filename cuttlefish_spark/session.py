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
- One Python worker pool per session: Spark keys its worker pools by
  the job's environment variables, and its SQL-side Python runners
  (`pandas_udf`, `udf`, `mapInPandas`/`mapInArrow`, `applyInPandas`,
  UDTFs) add `SPARK_SIMPLIFIED_TRACEBACK=1`, which RDD jobs (the
  pipeline's fetch-convert-write job, `createDataFrame` over local
  rows) lack. `spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK=1` puts the
  variable in `sc.environment`, which both kinds of job carry, so they
  share one daemon and its warm workers instead of starting a second
  daemon; RDD task errors get the SQL side's short tracebacks.
- Class-data sharing: a fresh driver JVM maps a dynamic AppCDS archive
  of the classes an earlier run loaded (JEP 350), which roughly halves
  its start-up. One archive is kept per JDK and Spark jar set, as
  `<key>.jsa` under `$XDG_CACHE_HOME/cuttlefish-spark/` (default
  `~/.cache/cuttlefish-spark/`); `<key>` hashes the java binary, its
  `release` file and every jar's path, size and mtime. With no archive
  for the key, the JVM dumps one to `<key>.<pid>.tmp` when it exits,
  and an exit hook waits for it and renames it to `<key>.jsa` only if
  the JVM exited 0, so concurrent dumps never tear an archive and a
  killed dump is never mapped. CDS refuses a non-empty directory on the
  classpath, and Spark puts its conf dir there: a conf dir holding
  only `*.template` files (which Spark never reads) is swapped for an
  empty one in the cache; one holding any other file is kept, and the
  JVM starts without CDS. So does a JVM whose cache dir cannot be
  written. A stale or corrupt archive falls back to a normal start
  (`-Xshare:auto`); once the JVM is up, an archive that it did not map
  (absent from `/proc/<pid>/maps`) is deleted, so the next start dumps
  a fresh one. The JVM's CDS log goes to `<key>.log`, not stdout.
- No JVM outlives Python: every session that launched its JVM
  registers one exit hook that stops the SparkContext, closes the
  gateway's stdin and waits for the JVM to exit.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# How long the exit hook waits for the JVM to exit before it kills it:
# a dumping JVM writes its archive (10-20 s) first.
DUMP_WAIT_S = 300
STOP_WAIT_S = 30


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
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
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
    # Only a session that launches the JVM can choose its flags.
    launches = SparkContext._gateway is None
    flags, jsa, tmp = _class_data_sharing() if launches else ("", None, None)
    if flags:
        builder = builder.config("spark.driver.defaultJavaOptions", flags)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None)
    if launches and proc is not None:
        if jsa is not None and tmp is None:
            _drop_refused_archive(proc.pid, jsa)
        atexit.register(_stop_jvm, proc, tmp, jsa)
    return spark


def _class_data_sharing() -> tuple[str, str | None, str | None]:
    """The driver JVM's CDS flags ("" to start without CDS), the
    archive's `jsa` path (None without CDS) and, when this JVM dumps the
    archive, its `tmp` path (else None). Points `SPARK_CONF_DIR` at the
    cache's empty conf dir when CDS is on."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    with contextlib.suppress(FileNotFoundError):
        if any(not name.endswith(".template") for name in os.listdir(conf_dir)):
            return "", None, None
    cache = os.path.join(
        os.path.abspath(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")),
        "cuttlefish-spark",
    )
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    except OSError:
        return "", None, None
    if not os.access(cache, os.W_OK):
        return "", None, None
    os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "conf")
    base = os.path.join(cache, _archive_key(spark_home))
    flags = f'"-Xlog:cds*=off" "-Xlog:cds*=warning:file={base}.log::filecount=0"'
    jsa = base + ".jsa"
    if os.path.exists(jsa):
        return f'{flags} "-XX:SharedArchiveFile={jsa}"', jsa, None
    _remove_orphan_dumps(cache)
    tmp = f"{base}.{os.getpid()}.tmp"
    return f'{flags} "-XX:ArchiveClassesAtExit={tmp}"', jsa, tmp


def _archive_key(spark_home: str) -> str:
    """Hash of the JDK that Spark's launcher runs (`$JAVA_HOME/bin/java`,
    else `java` on the PATH: its resolved path and `release` file) and
    of every Spark jar's path, size and mtime, so a new JDK or jar set
    gets its own archive."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java") or "java"
    java = os.path.realpath(java)
    h = hashlib.sha256(java.encode())
    with contextlib.suppress(OSError):
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
            h.update(fh.read())
    with contextlib.suppress(OSError):
        for jar in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
            st = jar.stat()
            h.update(f"\n{jar.path} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _remove_orphan_dumps(cache: str) -> None:
    """Delete `<key>.<pid>.tmp` dumps whose Python process is gone (it
    was killed before its exit hook ran), so they cannot pile up."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) != 3 or parts[2] != "tmp" or not parts[1].isdigit():
            continue
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cache, name))
        except PermissionError:
            pass


def _drop_refused_archive(pid: int, jsa: str) -> None:
    """Delete `jsa` when the running JVM `pid` did not map it (a corrupt
    or mismatched archive, refused under `-Xshare:auto`), so the next
    start dumps a fresh one instead of mapping it again. A mapped archive
    shows in `/proc/<pid>/maps`; where that cannot be read, the archive
    is kept."""
    try:
        with open(f"/proc/{pid}/maps") as fh:
            mapped = os.path.realpath(jsa) in fh.read()
    except OSError:
        return
    if not mapped:
        with contextlib.suppress(OSError):
            os.remove(jsa)


def _stop_jvm(proc: subprocess.Popen, tmp: str | None, jsa: str | None) -> None:
    """Exit hook of a session that launched its JVM: stop the
    SparkContext (its accumulator server would otherwise print the JVM's
    hang-up as an EOFError), close the gateway's stdin (the JVM exits on
    EOF, dumping the archive to `tmp` if it was asked to) and wait for
    it, so no JVM outlives Python. A dump is kept as `jsa` only if the
    JVM exited 0, so a torn dump is never mapped. After an explicit
    `stop()` that already waited for the JVM, this does nothing more."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    proc.stdin.close()
    try:
        ok = proc.wait(timeout=STOP_WAIT_S if tmp is None else DUMP_WAIT_S) == 0
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        ok = False
    if tmp is not None:
        with contextlib.suppress(OSError):
            if ok:
                os.replace(tmp, jsa)
            else:
                os.remove(tmp)
