"""Structured Streaming twins of the batch windowed operators.

The reference is strictly one-shot batch (main.rkt:61-62); its only
cross-row mutable state is the throttle boxes (meetup.rkt:9-10). The
engine adds the streaming surface the build spec mandates: watermarked
tumbling windows and session windows over the same `events` schema,
sharing aggregate expressions with the batch queries
(operators.relational.tumbling_window / sessionize) so batch and
stream provably compute the same thing — tests/test_streaming.py
asserts stream(availableNow) == batch on identical input.

Scale posture: these are the standard stateful-aggregation patterns —
state store keyed by (window, key), watermark bounds state size, and
`maxFilesPerTrigger` is the file-source rate limit (the streaming
analogue of the reference's API throttle, meetup.rkt:12-17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuttlefish_spark.functions import dec_sum

# Event-time watermark delay of every stream below: a row older than
# the stream's max event time minus this is late and dropped.
WATERMARK = "2 hours"
SESSION_GAP = "30 minutes"
# Interval joins pair a purchase with the clicks of the preceding hour.
HORIZON_MINUTES = 60
# running_totals_stream evicts a user idle for this much event time.
TTL_HOURS = 24


def _ts_column_index(path: str) -> int:
    """Index of the `ts` column in a parquet file's physical layout."""
    import pyarrow.parquet as pq

    return list(pq.read_schema(path).names).index("ts")


def _events_file_schema(source_dir: str) -> tuple[T.StructType, bool]:
    """Schema for the events file stream, derived from the parquet
    footers of the input files (driver-side footer reads at
    stream-definition time — no data scan).

    The writer's timestamp flavor has changed under the engine before
    (TIMESTAMP(NANOS) in r1, timestamp[us]/NTZ in r2), so the contract
    is: whatever the footers say, `ts` comes out as a UTC TIMESTAMP.
    ALL footers present at definition time must agree on the ts
    encoding — a mixed-encoding directory (nanos file + us/NTZ file)
    would otherwise be read with one file's schema, silently corrupting
    the other files' timestamps; that's a data bug worth failing loudly
    on. Files arriving later are the stream's normal growth and are
    assumed to follow the directory's encoding (enforced where the
    source dir is built).
    Returns (schema, nanos_as_long): nanos files must be read as raw
    longs (vectorized reader rejects NANOS) and converted."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{source_dir}/*.parquet"))
    nanos = False
    ts_field = T.StructField("ts", T.TimestampType())
    if files:
        import pyarrow as pa

        ts_types = {f: pq.read_schema(f).field("ts").type for f in files}
        distinct = set(map(str, ts_types.values()))
        if len(distinct) > 1:
            raise ValueError(
                f"mixed ts encodings in stream source dir {source_dir!r}: "
                f"{sorted(distinct)} — all files must share one encoding "
                f"(per-file: { {f.rsplit('/', 1)[-1]: str(t) for f, t in ts_types.items()} })"
            )
        arrow_ts = next(iter(ts_types.values()))
        # INT96 (legacy Spark/Hive writer) also surfaces as timestamp[ns]
        # in the arrow schema, but Spark's vectorized reader handles it
        # natively as TIMESTAMP — only true TIMESTAMP(NANOS)/int64-nanos
        # need the read-as-long conversion. Physical type disambiguates.
        first_file = files[0]
        phys = (
            pq.ParquetFile(first_file)
            .metadata.row_group(0)
            .column(_ts_column_index(first_file))
            .physical_type
        )
        if phys != "INT96" and (
            getattr(arrow_ts, "unit", None) == "ns" or arrow_ts == pa.int64()
        ):
            # TIMESTAMP(NANOS) or raw int64 nanos: read as long, convert.
            nanos = True
            ts_field = T.StructField("ts", T.LongType())
        elif phys != "INT96" and getattr(arrow_ts, "tz", None) is None:
            ts_field = T.StructField("ts", T.TimestampNTZType())
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            ts_field,
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, nanos


def read_documents_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of documents — the ingest side of streaming
    text curation (streaming_quality_gate). Schema comes from the
    parquet footers (driver-side footer read at stream-definition
    time, no batch data scan — the read_events_stream discipline);
    documents carry no timestamp, so none of the ts-encoding
    gymnastics apply."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(glob.glob(f"{source_dir}/*.parquet"))
    if not files:
        raise ValueError(f"no parquet files in {source_dir!r}")
    schema = from_arrow_schema(pq.read_schema(files[0]))
    return spark.readStream.schema(schema).parquet(source_dir)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events; `max_files_per_trigger` is the
    ingest rate limit (A22's streaming analogue)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, nanos = _events_file_schema(source_dir)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    if nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_stream(events: DataFrame) -> DataFrame:
    """Watermarked per-hour tumbling aggregate — the streaming twin of
    operators.relational.tumbling_window (same output columns)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), alias="total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "total_value"
        )
    )


def session_stream(events: DataFrame) -> DataFrame:
    """Watermarked session windows (30-min gap) — the streaming twin of
    operators.relational.sessionize. F.session_window keeps per-key
    open sessions in the state store; the watermark closes and evicts
    them once event time passes end+gap."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), alias="session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


DEDUP_OUT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup, first-seen wins: the streaming twin of
    the reference's id re-key dedup (meetup.rkt:40-41 / A14 — there
    last-write-wins inside one batch; across an unbounded stream the
    stable contract is first-seen) and of batch
    dropDuplicates(["event_id"]).

    Custom stateful operator via applyInPandasWithState: state store
    keyed by event_id holds one `seen` flag per key; a row is emitted
    only on the key's first appearance. Arrow-batched per key-group —
    the dedup hot path a training-data pipeline runs in front of every
    sink. State is per-key-minimal (8 bytes) so the store scales to
    billions of keys; in production add a state TTL via timeout conf.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def first_seen(key, pdf_iter, state):
        already = state.exists
        if not already:
            state.update((1,))
        emitted = False
        for pdf in pdf_iter:
            if already or emitted or len(pdf) == 0:
                continue
            first = pdf.sort_values("ts").head(1)
            emitted = True
            yield first[["event_id", "ts", "user_id", "event_type", "value"]]

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("event_id")
        .applyInPandasWithState(
            first_seen,
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType="seen integer",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def interval_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks from the preceding HORIZON_MINUTES — the streaming
    twin of the batch as-of/range joins (operators.relational_ext.
    asof_join, operators.scale.range_join_bucketed).

    Both sides carry watermarks and the join predicate bounds the
    event-time range, so Spark can size the state store and evict
    matched/expired rows — the two requirements that make an unbounded
    stream-stream join feasible at all. State is keyed by user_id;
    shuffle is one exchange per side on the equi-key."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {HORIZON_MINUTES} MINUTES")
        ),
        "inner",
    ).select("p_user", "purchase_id", "purchase_ts", "purchase_value",
             "click_id", "click_ts")


def run_available_now(stream_df: DataFrame, query_name: str, mode: str = "complete"):
    """Drain all available input through the streaming plan into an
    in-memory sink and block until done.

    TEST-ONLY for bounded outputs: a memory sink is driver-resident by
    definition, so this is the right harness for AGGREGATE streams
    (hours x event types, per-user totals — bounded rows) and wrong for
    O(corpus) outputs like the dedup stream. Production — and the
    dedup query — uses run_available_now_to_parquet below."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_available_now_to_parquet(stream_df: DataFrame, out_dir: str,
                                 checkpoint_dir: str):
    """Drain all available input through the streaming plan into a
    PARQUET FILE SINK (append mode — the only mode file sinks support)
    and block until done.

    This is the production drain: output lands as distributed parquet
    written by the executors, the checkpoint dir carries the file-sink
    manifest + state, and nothing round-trips the driver — exactly what
    an O(corpus) stream (e.g. streaming dedup in front of a training
    corpus sink) needs at 100 TB where a memory sink + toPandas is a
    guaranteed driver OOM. Read the result back with
    spark.read.parquet(out_dir)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


RUNNING_OUT_SCHEMA = "user_id long, n_events long, total_value double"


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Per-user RUNNING totals with TTL state eviction — the custom
    stateful-aggregation pattern dedup_stream's docstring defers to:
    state keyed by user_id holds (count, sum, last-seen event time);
    every micro-batch emits the user's updated lifetime totals (update
    mode), and a user idle past TTL_HOURS of EVENT TIME is evicted
    via EventTimeTimeout — the state-store-bounding contract that keeps
    an unbounded keyed stream at O(active keys), not O(all keys ever).

    This is the streaming twin of the batch groupBy(user_id) lifetime
    aggregate (and the stateful sibling of window_running's cumulative
    frame). At scale: one shuffle on user_id per micro-batch, Arrow-
    batched state access, 24 bytes of state per key.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    import pandas as pd  # noqa: PLC0415

    ttl_ms = TTL_HOURS * 3600 * 1000

    def update(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        n, tot, last_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            tot += float(pdf["value"].sum())
            last_ms = max(last_ms, int(pdf["ts"].astype("int64").max()) // 1000)
        state.update((n, tot, last_ms))
        state.setTimeoutTimestamp(last_ms + ttl_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [tot]}
        )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_OUT_SCHEMA,
            stateStructType="n long, total double, last_ms long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_left_join_stream(events: DataFrame, cutoff_ts) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every purchase paired
    with the same user's preceding-hour clicks, and purchases with NO
    such click emitted with null click columns — the state-EVICTION
    output path the inner join never exercises (an unmatched left row
    is emitted only when the right-side watermark proves no future
    click can match, i.e. on eviction, not on arrival).

    `cutoff_ts` bounds the left side away from the stream's tail: an
    availableNow drain terminates with final watermark max(ts) -
    watermark_delay, so unmatched purchases NEWER than that are still
    in state at shutdown and correctly unreported (they might yet
    match in a resumed run — that is checkpoint semantics, not data
    loss). Callers pick cutoff <= max(ts) - delay - horizon so every
    in-scope purchase is provably resolved, making the closed-input
    result equal to the batch left join under the same cutoff. The
    no-data final micro-batch (on by default) is what advances the
    watermark and flushes the last evictions before termination."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    # The cutoff must be applied AFTER the watermark node: the
    # purchase-side watermark is computed from rows flowing through
    # withWatermark, and the global watermark is the MIN across both
    # inputs — filtering first would cap the purchase watermark at
    # cutoff - delay and strand the newest in-scope unmatched
    # purchases in state forever (observed: exactly the tail rows
    # within delay+horizon of the cutoff went missing).
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
        .filter(F.col("purchase_ts") <= F.lit(cutoff_ts))
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {HORIZON_MINUTES} MINUTES")
        ),
        "leftOuter",
    ).select("p_user", "purchase_id", "purchase_ts", "purchase_value",
             "click_id", "click_ts")
