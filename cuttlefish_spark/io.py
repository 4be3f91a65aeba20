"""Table IO over the driver-generated parquet test data.

The reference reads one JSON config table (chapters) at
/root/reference/private/api-runner.rkt:171-178 and crashes out on a
missing path; `load_table` keeps that fail-fast contract
(AnalysisException on missing parquet) while the engine reads columnar
parquet — filters and column projections reach the scan (verified by
cuttlefish_spark.plans.checks).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; missing path fails fast (api-runner.rkt:171-178).

    TIMESTAMP(NANOS) parquet (the `events.ts` column) is illegal for
    Spark's vectorized reader, so nanos are read as raw longs
    (legacy.parquet.nanosAsLong) and converted to microsecond
    timestamps here — set at runtime so it works under any session,
    including the verification driver's. Integer `div` keeps the
    conversion exact (the data is microsecond-clean).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Engine contract: all timestamps are UTC (reference normalizes to
    # epoch-millis UTC, data_formats.md:21-22). Pinned at runtime so
    # results are identical under any caller's session, not just ours.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet timestamp[us] with isAdjustedToUTC=false would otherwise
    # arrive as TIMESTAMP_NTZ, which unix_millis() et al. reject.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, TimestampNTZType):
            # Exact under the UTC session tz pinned above; covers any
            # NTZ-encoded timestamp column regardless of name.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition to the session's default parallelism.

    For compute-heavy operators (hashing every shingle, scoring every
    vector) partition count must follow CPU, not input bytes: a small
    parquet file arrives as ONE partition and serializes the whole
    computation onto one core. At 100 TB inputs are already wide and
    this is a no-op cost-wise; on small inputs it unlocks the cluster.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register temp views so the SQL front-end works (`spark.sql`)."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(df: DataFrame, name: str, path: str, key: str,
                   buckets: int = 8) -> None:
    """Persist a table hash-bucketed (and bucket-sorted) by `key`.

    The 100 TB co-location play: two tables bucketed by the same key
    into the same bucket count join WITHOUT an exchange — the shuffle
    happened once at write time and is amortized over every subsequent
    join. This is the engine's answer to repeated fact-to-fact joins
    (l_orderkey = o_orderkey) where a broadcast is impossible and a
    per-query shuffle of the larger side would dominate the runtime.
    """
    (df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
     .option("path", path).format("parquet").saveAsTable(name))


def memo_key(spark: SparkSession, sf_dir: str, table: str) -> tuple:
    """Session-scoped memo key for derived-model caches (trained
    weights, BPE merges, PCA direction): (applicationId, realpath,
    mtime_ns, size) of the source parquet — localCheckpoints die with
    their session, and a regenerated corpus must invalidate. One
    definition so the recipe cannot drift between caches."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = (sf_dir, 0, 0)
    return (spark.sparkContext.applicationId,) + key


def memo_put(cache: dict, key: tuple, value) -> None:
    """Insert into a derived-model memo (key = memo_key(...) + extras),
    evicting entries for the SAME (applicationId, corpus path) whose
    corpus identity (mtime, size) has changed — a regenerated corpus
    must not leave superseded entries accumulating, nor their
    localCheckpointed frames pinned in executor storage for the
    session's lifetime. DataFrames inside an evicted value are
    unpersisted; non-frame payloads (weight vectors) just drop."""
    stale = [k for k in cache if k[:2] == key[:2] and k[2:4] != key[2:4]]
    for k in stale:
        for item in _flat(cache.pop(k)):
            unpersist = getattr(item, "unpersist", None)
            if callable(unpersist):
                try:
                    unpersist()
                except Exception:  # session already gone — nothing pinned
                    pass
    cache[key] = value


def _flat(v) -> tuple:
    return tuple(v) if isinstance(v, tuple) else (v,)


# Registry of every module-level derived-model memo dict (r13 VERDICT
# item 2): per-query benchmarks must be able to evict ALL session memos
# between timed runs so each reading is the query's self-contained plan
# cost, not a cache-read of a family neighbour's build. Operators
# register their memo dict once at module import; bench.py calls
# clear_memos() before every timed run. The bucketed-table LAYOUT memo
# (operators.scale._bucket_memo) is deliberately NOT registered: it
# keys parquet files already on disk, and the query it serves measures
# the join against a write-once layout (guide §6) — rewriting the
# layout per run would charge the query for work the design amortizes
# by contract (its oracle pins n_exchanges_bucketed=0, not write cost).
_MEMO_REGISTRY: list[dict] = []


def register_memo() -> dict:
    """A new session-scoped memo dict, registered for eviction."""
    d: dict = {}
    _MEMO_REGISTRY.append(d)
    return d


def memos_active() -> bool:
    """True if any registered session memo currently holds entries —
    bench.py uses this to detect that the query just measured BUILT a
    derived model inside its timed region (and therefore already
    reports a self-contained build+plan cost)."""
    return any(cache for cache in _MEMO_REGISTRY)


def clear_memos() -> None:
    """Evict every registered memo, unpersisting cached DataFrames."""
    for cache in _MEMO_REGISTRY:
        for v in list(cache.values()):
            for item in _flat(v):
                unpersist = getattr(item, "unpersist", None)
                if callable(unpersist):
                    try:
                        unpersist()
                    except Exception:  # session already gone
                        pass
        cache.clear()
