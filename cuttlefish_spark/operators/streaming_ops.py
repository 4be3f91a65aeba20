"""Driver-checkable streaming surface: the watermarked tumbling-window
stream drained to completion and returned as a batch frame.

The reference is strictly one-shot batch (main.rkt:61-62); the engine's
streaming twins (streaming/pipeline.py) are normally asserted
stream==batch in tests only. This query makes that equivalence
ORACLE-CHECKED by the external driver too: the stream runs availableNow
over the same events data, and the drained result must hash-match the
SAME DuckDB SQL as the batch tumbling_window — a streaming plan held to
a batch engine's answer, exactly the guarantee a lambda-architecture
replacement needs.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from cuttlefish_spark.io import register_memo
from cuttlefish_spark.registry import query

# Shuffle partitions of every ephemeral stateful stream below.
_STREAM_PARTITIONS = 4


@contextmanager
def _stream_partitions(spark: SparkSession):
    """Bound shuffle partitions for an ephemeral stateful stream.

    Every shuffle partition of a stateful operator owns a state store
    whose open/commit cost is paid per micro-batch regardless of data
    volume — measured 9.5s -> 2.6s on the interval join by going
    32 -> 4 partitions for the same 371-row result, and the warm
    three-query trio drops 8 -> 4 partitions from ~9s to ~6.4s at
    sf0.1 (2 saves only ~0.6s more). Stateful streams therefore
    size partitions by STATE VOLUME, not CPU (the opposite of the
    batch `spread()` rule); production picks the count once at stream
    birth since it is frozen into the checkpoint."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@query(
    "streaming_tumbling_hourly",
    layer="C",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling aggregate computed BY THE STREAMING ENGINE
    (file source -> withWatermark -> window -> memory sink, drained
    with availableNow), returned as the finished batch table.

    Scale posture is Structured Streaming's standard stateful-agg
    story: state keyed by (window, event_type), watermark (2h) bounds
    state size, the file source paces intake via maxFilesPerTrigger
    when throttled. The oracle is the identical SQL the batch
    tumbling_window answers — stream and batch are interchangeable on
    closed input, which is the micro-batch model's core claim.

    The memory sink (and the collect off it) is the harness contract
    only — a memory sink is driver-resident by definition and the
    drained aggregate is bounded (hours x event types). Production
    points the same writeStream at a file/table sink and never drives
    results through the driver."""
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        tumbling_stream,
    )

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    name = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_available_now(tumbling_stream(read_events_stream(spark, d)), name)
    return _drain_memory_sink(spark, name, d)


def _drain_memory_sink(spark: SparkSession, name: str, src_dir: str) -> DataFrame:
    """Materialize the memory-sink table so the temp source dir can be
    removed and sink tables don't accumulate across repeated calls.
    BOUNDED-OUTPUT streams only (aggregates: hours x types, per-user
    totals); the O(corpus) dedup stream drains through the parquet
    file sink instead (see streaming_dedup). Arrow OUT (toPandas),
    but the hand-back is a plain row-tuple pass, not Arrow: a vanilla
    driver session takes the non-Arrow createDataFrame path, which
    re-coerces nullable-int object columns to floats and rejects
    pd.Timestamp by exact type — correctness under the driver's
    session beats the Arrow round-trip's speed at these bounded row
    counts."""
    out = spark.table(name)
    pdf = out.toPandas()
    # Nullable integer columns (the outer join's click columns) come
    # back from pandas NaN-padded as float64/objects, and the
    # non-Arrow createDataFrame path — what a vanilla driver session
    # uses — re-coerces even an object column of ints+None back to
    # floats, which LongType then rejects. Hand the rows over as
    # plain tuples with exact Python types instead; outputs here are
    # bounded (aggregates / per-purchase pairs), so the row pass is
    # driver-cheap.
    from pyspark.sql import types as T

    int_idx = {
        i
        for i, f in enumerate(out.schema.fields)
        if isinstance(f.dataType, (T.LongType, T.IntegerType))
    }
    ts_idx = {
        i
        for i, f in enumerate(out.schema.fields)
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
    }
    # TIMESTAMP (instant) values must be handed back timezone-AWARE:
    # toPandas renders them as naive wall times in the SESSION timezone
    # (UTC here — read_events_stream pins it), but the non-Arrow
    # createDataFrame path interprets a NAIVE datetime in the Python
    # process's LOCAL timezone (the TZ env var), not the session zone —
    # under TZ=America/New_York every memory-sink timestamp came back
    # shifted by the UTC offset (wild-caught by a TZ-varied driver_sim
    # run; the parquet-sink streams were immune because their values
    # never leave the JVM). Attaching the session zone makes the
    # round-trip an exact identity under ANY process TZ. NTZ columns
    # stay naive by definition.
    from zoneinfo import ZoneInfo

    session_tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    aware_idx = {
        i
        for i, f in enumerate(out.schema.fields)
        if isinstance(f.dataType, T.TimestampType)
    }
    # Float/double columns too (ADVICE r5): a NULL double (e.g. an
    # outer join's null-padded value column) round-trips through pandas
    # as NaN and must be handed back as NULL. This deliberately
    # conflates a GENUINE NaN value with NULL — accepted for these
    # sinks, whose double columns are sums/values of finite inputs
    # that cannot produce NaN; a stream whose semantics emit real NaNs
    # would need a sentinel column instead.
    dbl_idx = {
        i
        for i, f in enumerate(out.schema.fields)
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
    }

    nullable_nan = int_idx | ts_idx | dbl_idx  # hoisted: not per-cell

    def _one(i, v):
        if v is None or (i in nullable_nan and v != v):
            return None
        if i in int_idx:
            return int(v)  # exact-type check: np/float -> int
        if i in ts_idx:
            dt = v.to_pydatetime()  # exact-type check: pd.Timestamp -> datetime
            return dt.replace(tzinfo=session_tz) if i in aware_idx else dt
        return v

    def _clean(row):
        return tuple(_one(i, v) for i, v in enumerate(row))

    data = [_clean(r) for r in pdf.itertuples(index=False, name=None)]
    result = spark.createDataFrame(data, out.schema)
    spark.catalog.dropTempView(name)
    shutil.rmtree(src_dir, ignore_errors=True)
    return result


@query(
    "streaming_sessionize",
    layer="C",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM numbered GROUP BY user_id, sid
    """,
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) computed BY THE STREAMING ENGINE
    (F.session_window + watermarked state) and hash-checked against
    the gap-and-cumsum SQL the batch sessionize answers.

    Semantics pinned empirically: an event exactly `gap` after its
    predecessor MERGES (Spark starts a new session only when the gap
    is strictly exceeded), matching the batch `> gap` rule, so the
    same oracle covers both engines; session_end = last event + gap.
    State is keyed by (user, open session) and the watermark closes
    and evicts sessions once event time passes end+gap. Memory-sink
    caveats as streaming_tumbling_hourly."""
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        session_stream,
    )

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_available_now(session_stream(read_events_stream(spark, d)), name)
    return _drain_memory_sink(spark, name, d)


@query(
    "streaming_dedup",
    layer="C",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication run BY THE STREAMING ENGINE: the
    source dir holds the events file TWICE (2N input rows), and the
    drained output must hash-match the plain N-row events table — every
    event_id exactly once, duplicates dropped by the state store.

    This is the Spark-NATIVE dedup path (`dropDuplicates` on a
    streaming frame — JVM state store keyed by event_id, no Python in
    the loop), the front door a training-data pipeline puts before
    every sink; the custom applyInPandasWithState variant
    (streaming/pipeline.dedup_stream, first-seen-wins with per-key
    state) covers the same contract in tests/test_streaming.py. At
    scale: one shuffle on event_id, state is one empty value per key;
    production bounds the store with dropDuplicatesWithinWatermark.

    Drain: PARQUET FILE SINK (run_available_now_to_parquet), not the
    memory sink the bounded aggregate streams use — this stream's
    output is the whole deduped corpus, O(input), and a memory sink +
    toPandas round-trip is a driver OOM at 100 TB. Executors write the
    parquet, the read-back is a distributed scan, and the harness
    materializes it executor-side (localCheckpoint) only so the temp
    dirs can be reclaimed; production just keeps the sink directory."""
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now_to_parquet,
    )

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    sink = tempfile.mkdtemp(prefix="cuttlefish_stream_sink_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-001.parquet"))
    out_dir = os.path.join(sink, "out")
    ckpt_dir = os.path.join(sink, "ckpt")
    with _stream_partitions(spark):
        deduped = (
            read_events_stream(spark, d)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .withWatermark("ts", "2 hours")
            .dropDuplicates(["event_id"])
        )
        run_available_now_to_parquet(deduped, out_dir, ckpt_dir)
    result = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
    return result


@query(
    "streaming_restart_dedup",
    layer="C",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    """,
)
def streaming_restart_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART proof as a driver-verified query: the
    streaming dedup is run as TWO SEPARATE checkpointed executions of
    the same plan. Run 1 drains only the even event_ids; the stream is
    then shut down, a second file arrives carrying the FULL corpus
    (every even id again — now a duplicate — plus all the odd ids), and
    run 2 RESUMES from the same checkpoint dir. The oracle is the plain
    N-row events table, so the driver hash passes only if all three
    recovery layers work: source offsets (file 1 must not be re-read),
    the dedup state store (re-arriving even ids must not re-emit — the
    state predates the restart), and the file-sink manifest (run 1's
    committed output must be visible exactly once alongside run 2's).
    A kill mid-batch (abort, not clean stop) is pinned by
    tests/test_streaming.py::test_checkpoint_kill_and_resume_exactly_once;
    this query keeps the driver-checked variant deterministic.

    This is the operational contract the streaming engine's 100 TB
    story rests on: a daily-crawl dedup front-end is stopped, upgraded,
    and resumed for years against one checkpoint, and every restart
    must deliver exactly-once across the seam. Both phases' input files
    are rewritten from load_table so the source dir holds ONE timestamp
    encoding (the mixed-encoding guard in _events_file_schema rejects
    mixing a rewritten file with the raw TIMESTAMP(NANOS) original).
    Costs one extra drain + two tiny batch writes vs streaming_dedup —
    the price of exercising a restart for real.

    Deliberately NO watermark on the dedup: the checkpoint persists the
    watermark across restarts, so a watermarked dropDuplicates would
    classify run 2's odd ids — event-time OLDER than run 1's final
    watermark — as late data and silently drop them (observed: run 2
    emitted zero rows). A restartable crawl dedup cannot assume later
    increments carry newer event times; it keeps unbounded keyed state
    (one empty value per id) and production switches to
    dropDuplicatesWithinWatermark only where arrival order is
    guaranteed within the delay."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now_to_parquet,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    sink = tempfile.mkdtemp(prefix="cuttlefish_stream_sink_")
    out_dir = os.path.join(sink, "out")
    ckpt_dir = os.path.join(sink, "ckpt")

    def add_source_file(df: DataFrame, name: str) -> None:
        stage = os.path.join(sink, f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        shutil.move(os.path.join(stage, part), os.path.join(d, name))
        shutil.rmtree(stage, ignore_errors=True)

    def run_once() -> None:
        with _stream_partitions(spark):
            deduped = (
                read_events_stream(spark, d)
                .select("event_id", "ts", "user_id", "event_type", "value")
                .dropDuplicates(["event_id"])
            )
            run_available_now_to_parquet(deduped, out_dir, ckpt_dir)

    # try/finally so a failed drain cannot leave source/sink/checkpoint
    # dirs behind (r6 ADVICE item 2 — matches incremental_dedup_persisted)
    try:
        add_source_file(ev.filter(F.col("event_id") % 2 == 0), "part-000.parquet")
        run_once()  # run 1: evens only; checkpoint records offsets + state
        add_source_file(ev, "part-001.parquet")
        run_once()  # run 2: resumes — evens are dups, odds are new
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


@query(
    "streaming_running_totals",
    layer="C",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime totals maintained by the CUSTOM STATEFUL
    operator (streaming/pipeline.running_totals_stream:
    applyInPandasWithState, update mode, EventTimeTimeout TTL) and
    hash-checked against the batch GROUP BY — the driver-verified proof
    that the Arrow-batched Python state path computes exactly what the
    batch engine does.

    Floating-point discipline: `value` is scaled to integer micros
    BEFORE the stream (round(value*1e6) — exact in float64 up to 2^53),
    so the per-key Python accumulation is exact integer arithmetic and
    the final /1e6 is the same IEEE op DuckDB performs; without this
    the pandas pairwise sum vs DuckDB sequential sum could differ in
    the last ulp and break the hash. Update-mode emits one cumulative
    row per (user, micro-batch); the drain keeps each user's last
    (= max, totals are monotone) row, which on closed input is the
    lifetime aggregate. Memory-sink caveats as
    streaming_tumbling_hourly."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        running_totals_stream,
    )

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    name = f"stream_rt_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        micros = read_events_stream(spark, d).withColumn(
            "value", F.round(F.col("value") * 1_000_000)
        )
        run_available_now(running_totals_stream(micros), name, mode="update")
    out = _drain_memory_sink(spark, name, d)
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        (F.max("total_value") / 1_000_000.0).alias("total_value"),
    )


@query(
    "streaming_interval_join",
    layer="C",
    oracle="""
    SELECT p.user_id AS p_user,
           p.event_id AS purchase_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS purchase_value,
           c.event_id AS click_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 60 MINUTE
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (each purchase x the same user's
    clicks from the preceding hour) run BY THE STREAMING ENGINE and
    hash-checked against the equivalent batch SQL.

    Both sides carry watermarks and the event-time range bounds state,
    the two requirements that make an unbounded stream-stream join
    feasible; on closed input the emitted pair set must equal the
    batch range join exactly, which the oracle enforces. Memory-sink
    caveats as streaming_tumbling_hourly."""
    from cuttlefish_spark.streaming.pipeline import (
        interval_join_stream,
        read_events_stream,
        run_available_now,
    )

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    name = f"stream_ij_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_available_now(
            interval_join_stream(read_events_stream(spark, d)), name, mode="append"
        )
    return _drain_memory_sink(spark, name, d)


@query(
    "streaming_hopping_halfhour",
    layer="C",
    oracle="""
    SELECT CAST(ws AS TIMESTAMP) AS w_start,
           CAST(ws + INTERVAL '1 hour' AS TIMESTAMP) AS w_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM (
        SELECT e.value,
               time_bucket(INTERVAL '30 minutes', e.ts)
                   - k.k * INTERVAL '30 minutes' AS ws
        FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k) k
    )
    GROUP BY ws
    """,
)
def streaming_hopping_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (1-hour / 30-minute slide) aggregate computed BY THE
    STREAMING ENGINE and hash-checked against the SAME explicit
    two-assignments-per-event SQL the batch hopping_window answers —
    overlapping-window state is the piece of the streaming agg story
    tumbling windows don't cover (each event updates TWO state rows;
    the watermark still closes them in slide-aligned order).

    State is keyed by window start on the 30-minute grid: 2x the
    tumbling row count, same eviction bound. Memory-sink caveats as
    streaming_tumbling_hourly."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
    )

    from cuttlefish_spark.functions import dec_sum

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    name = f"stream_hop_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        hopped = (
            read_events_stream(spark, d)
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dec_sum(F.col("value"), alias="total_value"),
            )
            .select(
                F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "n_events",
                "total_value",
            )
        )
        run_available_now(hopped, name)
    return _drain_memory_sink(spark, name, d)


# Memo key includes the events file's (mtime_ns, size): a test or
# harness that regenerates the data at the same path within one process
# must not reuse a stale cutoff (ADVICE r5 — a stale cutoff silently
# filters to the wrong purchase set).
_LOJ_CUTOFFS: dict[tuple[str, int, int], object] = register_memo()


def _loj_memo_key(sf_dir: str) -> tuple[str, int, int]:
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    return (sf_dir, st.st_mtime_ns, st.st_size)


@query(
    "streaming_left_interval_join",
    layer="C",
    oracle="""
    SELECT p.user_id AS p_user,
           p.event_id AS purchase_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS purchase_value,
           c.event_id AS click_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase'
            AND ts <= (SELECT least(
                           MAX(CASE WHEN event_type = 'click' THEN ts END),
                           MAX(CASE WHEN event_type = 'purchase' THEN ts END))
                       FROM events) - INTERVAL 4 HOUR) p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 60 MINUTE
    """,
)
def streaming_left_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join run BY THE STREAMING
    ENGINE and hash-checked against the batch left join: purchases
    with no preceding-hour click from the same user come out with
    NULL click columns — rows produced by state EVICTION (the
    watermark proving no future click can match), the output path the
    inner streaming_interval_join never takes and the one that makes
    outer stream-stream joins the hardest correctness case in the
    micro-batch model.

    The left side is cut off at least(max click ts, max purchase ts)
    - 4h: the GLOBAL watermark is the MIN of the two sides' watermarks
    (each its max observed event time - 2h), and in this data clicks
    stop hours before purchases — a cutoff keyed to the global max(ts)
    measurably stranded the newest unmatched purchases in state.
    Purchases newer than the final watermark are legitimately still in
    state at shutdown (resumable via checkpoint, not lost); the cutoff
    keeps the CLOSED-input result provably equal to the batch join,
    and the oracle applies the identical least-of-maxima cutoff via
    scalar subquery on the same data. Memory-sink
    caveats as streaming_tumbling_hourly (output is purchase-bounded,
    not corpus-bounded)."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import (
        interval_left_join_stream,
        read_events_stream,
        run_available_now,
    )

    # The provable-emission bound keys off the MIN of the two sides'
    # max event times: the global watermark is min(click_wm,
    # purchase_wm), and in this data clicks stop hours before
    # purchases do — a cutoff from the GLOBAL max(ts) left the newest
    # unmatched purchases above the click-side watermark, stranded in
    # state at shutdown (observed before this fix). The cutoff must be
    # a LITERAL in the streaming plan, so this one column-pruned batch
    # aggregate is unavoidable — but it runs once per data version
    # (memoized on path + events.parquet mtime/size), not once per
    # invocation. (Every query in this module
    # executes its stream inside fn() by design, so there is no lazy
    # build to preserve.)
    memo_key = _loj_memo_key(sf_dir)
    cutoff = _LOJ_CUTOFFS.get(memo_key)
    if cutoff is None:
        ev = load_table(spark, sf_dir, "events")
        cutoff = (
            ev.agg(
                (
                    F.least(
                        F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                    )
                    - F.expr("INTERVAL 4 HOURS")
                ).alias("c")
            ).collect()[0]["c"]
        )
        _LOJ_CUTOFFS[memo_key] = cutoff
    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    name = f"stream_loj_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_available_now(
            interval_left_join_stream(read_events_stream(spark, d), cutoff),
            name,
            mode="append",
        )
    return _drain_memory_sink(spark, name, d)


def _write_stream_file(df: DataFrame, src_dir: str, stage_root: str,
                       name: str, mtime: float) -> None:
    """Land `df` as ONE parquet file named `name` in the stream source
    dir with an explicit mtime — the file-source admits unseen files in
    (modTime, path) order, so ascending mtimes + ascending names make
    the micro-batch sequence deterministic (the restart_dedup
    discipline, plus the explicit utime the late-data semantics need)."""
    stage = os.path.join(stage_root, f"stage_{name}")
    df.coalesce(1).write.parquet(stage)
    part = next(
        f for f in os.listdir(stage)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    dst = os.path.join(src_dir, name)
    shutil.move(os.path.join(stage, part), dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(stage, ignore_errors=True)


_LATE_ORACLE = """
    WITH m AS (SELECT max(ts) AS mx FROM events),
    base AS (
        SELECT e.ts, e.value,
               (e.event_id % 5 = 0 AND e.ts <= m.mx - INTERVAL 30 MINUTE)
                   AS is_late
        FROM events e, m
    ),
    arrived AS (
        SELECT ts, value FROM base WHERE NOT is_late
        UNION ALL
        SELECT mx, 0.0 FROM m
        UNION ALL
        SELECT b.ts, b.value FROM base b, m
        WHERE b.is_late
          AND date_trunc('hour', b.ts) + INTERVAL 1 HOUR
              > m.mx - INTERVAL 2 HOUR
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM arrived GROUP BY 1
"""


@query("streaming_late_data", layer="C", oracle=_LATE_ORACLE)
def streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-DATA drop/keep boundary of a watermarked streaming
    aggregate, pinned as a driver-verified query (r9 VERDICT item 3 —
    the one Structured Streaming semantic the other streaming
    queries never provoke): 20% of events (event_id % 5 == 0, at least
    30 min older than the stream max) ARRIVE LATE, in a micro-batch
    AFTER the watermark has advanced past most of their event times,
    and the drained hourly aggregate must equal the batch SQL that
    applies Spark's exact drop rule.

    That rule, pinned empirically on this engine (Spark 4 multi-batch
    semantics; see tests/test_streaming.py::test_late_data_boundary):
    a late row is DROPPED iff its window END <= the late-event
    watermark, INCLUSIVE, where the late-event watermark of batch k is
    the watermark USED in batch k-1 (eviction uses batch k's own —
    Spark separates watermarkForLateEvents from watermarkForEviction),
    and rows for windows still in state merge regardless of lateness.
    The four-file choreography makes every quantity closed-form:
      file 0  on-time events (carries the global max ts M, because the
              late set excludes anything within 30 min of M);
      file 1  one carrier row at ts = M (batch 1 exists solely so the
              late batch's late-event watermark is already M - 2h; its
              own filter watermark is still batch 0's initial 0);
      file 2  the late set — kept iff hour-window end > M - 2h;
      file 3  a flush sentinel at M + 24h whose no-data follow-up
              advances eviction past every real window; the sentinel's
              OWN window (end M + 25h > final watermark M + 22h) stays
              in state, correctly unemitted, so it self-excludes.
    All watermarks stay exactly M - 2h until the sentinel registers —
    the carrier never raises the max — so no kept-late window can have
    been evicted early (the re-created-state duplicate-emission hazard
    the carrier design eliminates). A filter on event_type could NOT
    exclude the sentinel instead: Catalyst pushes that predicate below
    the EventTimeWatermark node into the parquet scan, row-group stats
    prune the sentinel file entirely, and the watermark never advances
    (observed — the stream ends with every window stranded in state).

    Scale posture: identical to streaming_tumbling_hourly (state keyed
    by window, bounded by watermark); the split/carrier/sentinel files
    are the TEST's arrival choreography, not operator cost — production
    reads whatever files arrive and pays one stateless filter less.
    Memory-sink caveats as streaming_tumbling_hourly."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.functions import dec_sum
    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    mx = F.broadcast(ev.agg(F.max("ts").alias("mx")))
    with_mx = ev.crossJoin(mx)
    is_late = (F.col("event_id") % 5 == 0) & (
        F.col("ts") <= F.col("mx") - F.expr("INTERVAL 30 MINUTES")
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    on_time = with_mx.filter(~is_late).select(cols)
    late = with_mx.filter(is_late).select(cols)
    carrier = mx.select(
        F.lit(-1).alias("event_id"),
        F.col("mx").alias("ts"),
        F.lit(-1).alias("user_id"),
        F.lit("carrier").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sentinel = mx.select(
        F.lit(-2).alias("event_id"),
        (F.col("mx") + F.expr("INTERVAL 24 HOURS")).alias("ts"),
        F.lit(-2).alias("user_id"),
        F.lit("flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    sink = tempfile.mkdtemp(prefix="cuttlefish_stream_stage_")
    name = f"stream_late_{uuid.uuid4().hex[:8]}"
    try:
        t0 = os.stat(f"{sf_dir}/events.parquet").st_mtime
        for i, df in enumerate([on_time, carrier, late, sentinel]):
            _write_stream_file(
                df, d, sink, f"part-{i:03d}.parquet", t0 + 10 * (i + 1)
            )
        with _stream_partitions(spark):
            agg = (
                read_events_stream(spark, d, max_files_per_trigger=1)
                .withWatermark("ts", "2 hours")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    dec_sum(F.col("value"), alias="total_value"),
                )
                .select(
                    F.col("w.start").alias("hour_start"),
                    "n_events",
                    "total_value",
                )
            )
            run_available_now(agg, name, mode="append")
        return _drain_memory_sink(spark, name, d)
    finally:
        shutil.rmtree(sink, ignore_errors=True)
        # _drain_memory_sink already removes d on success; ignore_errors
        # makes this a no-op there and the real cleanup on failure.
        shutil.rmtree(d, ignore_errors=True)


_DDWW_ORACLE = """
    WITH m AS (SELECT max(ts) AS mx FROM events)
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    UNION ALL
    SELECT -1, CAST(mx AS TIMESTAMP), -1, 'carrier', 0.0 FROM m
    UNION ALL
    SELECT e.event_id + 1000000000, CAST(e.ts AS TIMESTAMP), e.user_id,
           e.event_type, e.value
    FROM events e, m
    WHERE e.event_id % 7 = 0 AND e.ts > m.mx - INTERVAL 2 HOUR
"""


@query("streaming_dedup_within_watermark", layer="C", oracle=_DDWW_ORACLE)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — the BOUNDED-STATE streaming
    dedup the unbounded streaming_dedup/restart_dedup pair defers to
    ("production bounds the store with dropDuplicatesWithinWatermark",
    their shared caveat) — as a driver-verified query. State per key is
    evicted once the watermark passes its event time + delay, so the
    store holds O(keys within the delay window), not O(all keys ever:
    the contract that makes a years-long crawl dedup run in fixed
    memory).

    Semantics pinned empirically (tests/test_streaming.py::
    test_dedup_within_watermark_semantics): with dedup delay == the
    watermark delay, the post-expiry re-emission window is EMPTY —
    a row can outlive its key's state only by being late, and the
    late filter (row ts <= the late-event watermark, INCLUSIVE; the
    same one-batch-lagged watermark the aggregates use — a +1 us row
    is kept, an exactly-equal row dropped) removes it before the
    dedup sees it. On closed input the output is therefore exactly
    "first occurrence of every key that passes the late filter",
    which is what the closed-form oracle states.

    Choreography (3 files, deterministic mtime order): file 0 = the
    full events table (establishes watermark M - 2h and every key's
    state); file 1 = one carrier row at ts = M (advances the
    late-event watermark for file 2 without raising the max); file 2 =
    every event AGAIN (all on-time copies are dup-dropped against
    live state, all late copies are late-dropped — zero emissions
    either way) plus a FRESH-KEY twin (event_id + 1e9) of every
    event_id % 7 == 0 row, which exercises the late path on keys with
    no state: kept iff ts > M - 2h. Output is O(corpus) so it drains
    through the parquet file sink exactly like streaming_dedup, never
    the driver."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now_to_parquet,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    mx = F.broadcast(ev.agg(F.max("ts").alias("mx")))
    carrier = mx.select(
        F.lit(-1).alias("event_id"),
        F.col("mx").alias("ts"),
        F.lit(-1).alias("user_id"),
        F.lit("carrier").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    fresh = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(1_000_000_000)
    )
    replay = ev.unionByName(fresh)

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    sink = tempfile.mkdtemp(prefix="cuttlefish_stream_sink_")
    out_dir = os.path.join(sink, "out")
    ckpt_dir = os.path.join(sink, "ckpt")
    try:
        t0 = os.stat(f"{sf_dir}/events.parquet").st_mtime
        for i, df in enumerate([ev, carrier, replay]):
            _write_stream_file(
                df, d, sink, f"part-{i:03d}.parquet", t0 + 10 * (i + 1)
            )
        with _stream_partitions(spark):
            deduped = (
                read_events_stream(spark, d, max_files_per_trigger=1)
                .select("event_id", "ts", "user_id", "event_type", "value")
                .withWatermark("ts", "2 hours")
                .dropDuplicatesWithinWatermark(["event_id"])
            )
            run_available_now_to_parquet(deduped, out_dir, ckpt_dir)
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def _streaming_gate_oracle() -> str:
    from cuttlefish_spark.operators.curation import _GOPHER_SQL

    return f"""
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN g.keep THEN 1 END) AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN g.keep THEN d.n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars
    FROM documents d JOIN ({_GOPHER_SQL}) g USING (doc_id)
    GROUP BY d.source
    """


@query("streaming_quality_gate", layer="C", oracle=_streaming_gate_oracle())
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text curation ON THE STREAMING ENGINE: the full Gopher rule set
    (gopher_quality_rules' exact column program, via the shared
    _gopher_flags body) applied to a DOCUMENT stream (file source ->
    stateless per-row rules -> per-source keep accounting -> memory
    sink, drained with availableNow) — the shape of a live-crawl
    curation front-end, where quality gating happens as pages arrive
    rather than in a nightly batch. The oracle is the identical batch
    SQL, so the drained stream is held to the batch engine's answer
    like the other eight streaming queries.

    Scale posture: the rule program is a stateless narrow map
    (streaming-legal with NO state store, no watermark needed); the
    only stateful operator is the bounded per-source aggregate
    (complete mode, O(sources) rows). Production swaps the memory sink
    for the keyed file sink and keeps the same plan; kept documents
    themselves would flow through the parquet file sink
    (run_available_now_to_parquet) exactly like streaming_dedup's
    O(corpus) output."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.operators.curation import _gopher_flags

    from cuttlefish_spark.streaming.pipeline import read_documents_stream

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_docs_")
    shutil.copy(
        f"{sf_dir}/documents.parquet", os.path.join(d, "part-000.parquet")
    )
    stream = read_documents_stream(spark, d)
    flags = _gopher_flags(stream, extra=("source", "n_chars"))
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("keep"), F.lit(1))).alias("n_keep"),
        F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )
    from cuttlefish_spark.streaming.pipeline import run_available_now

    name = f"stream_qgate_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_available_now(agg, name)
    return _drain_memory_sink(spark, name, d)


def _streaming_psi_oracle() -> str:
    from cuttlefish_spark.operators.profiling import _PSI_SQL

    return _PSI_SQL


@query("streaming_drift_psi", layer="C", oracle=_streaming_psi_oracle())
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitoring ON THE STREAMING ENGINE — the twelfth
    streaming query: the per-(source, bucket) length histogram behind
    distribution_drift_psi accumulates as documents ARRIVE (file
    source -> stateless bucket map -> bounded complete-mode aggregate,
    drained availableNow), and the PSI arithmetic then runs on the
    drained monitoring table via the shared psi_from_counts — exactly
    how a production monitor works: the STREAM maintains the cheap
    O(sources x buckets) histogram state; the drift score is
    read-side arithmetic on the monitoring store, recomputed on
    whatever cadence alerting wants without touching the stream.

    The oracle is the identical batch PSI SQL, so the streamed
    histogram is held to the batch engine's answer like the other
    eleven streaming queries — and because every histogram cell is an
    integer count, streamed-vs-batch equality is exact, not
    approximate. Stateless map + one bounded aggregate: no watermark
    needed, state is O(sources x 10 buckets) rows regardless of
    corpus size.
    """
    from pyspark.sql import functions as F

    from cuttlefish_spark.operators.profiling import (
        _PSI_BUCKETS,
        _PSI_WIDTH,
        psi_from_counts,
    )
    from cuttlefish_spark.streaming.pipeline import (
        read_documents_stream,
        run_available_now,
    )

    d = tempfile.mkdtemp(prefix="cuttlefish_stream_psi_")
    shutil.copy(
        f"{sf_dir}/documents.parquet", os.path.join(d, "part-000.parquet")
    )
    stream = read_documents_stream(spark, d)
    b = stream.select(
        "source",
        F.least(
            F.lit(_PSI_BUCKETS - 1), F.expr(f"n_chars div {_PSI_WIDTH}")
        ).alias("bucket"),
    )
    counts = b.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("c"))
    name = f"stream_psi_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        run_available_now(counts, name)
    drained = _drain_memory_sink(spark, name, d)
    return psi_from_counts(spark, drained)


# "heavy user" bar: per-user lifetime counts are ~45-99 at every SF
# (users scale with events in the testdata), so 75 puts ~15% of users
# above the bar — both branches populated at all scales.
_SSE_HEAVY = 75


@query(
    "streaming_static_enrich",
    layer="C",
    oracle=f"""
    WITH dim AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS user_total
        FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(SUM(dim.user_total) AS BIGINT) AS sum_user_totals,
           CAST(COALESCE(SUM(CASE WHEN dim.user_total >= {_SSE_HEAVY}
                                  THEN 1 END), 0) AS BIGINT)
               AS n_heavy_user_events
    FROM events e JOIN dim USING (user_id)
    GROUP BY e.event_type
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join — the one Structured Streaming
    join mode the 13-query streaming surface did not yet exercise
    (stream-stream interval joins are streaming_interval_join/
    _left_interval_join): each streamed event is joined against a
    STATIC dimension (per-user lifetime totals computed from the batch
    corpus — the production shape is a user-profile table the stream
    enriches on every micro-batch), then aggregated per event_type
    with the enrichment riding into the aggregate (activity mass
    sum_user_totals, heavy-user event count at the
    >= {_SSE_HEAVY}-events bar).

    Stream-static joins need no watermark and no join state — the
    static side is re-planned per micro-batch (broadcast at dim size,
    shuffled join beyond), which is exactly why production prefers
    them over stream-stream joins for slowly-changing dimensions. On
    closed input the drained result must hash-match the identical
    batch join+aggregate the DuckDB oracle states.

    Scale shape: the static dim is one batch aggregate (uniform
    user_id shuffle); the per-micro-batch join is broadcast at test
    scale and a standard keyed shuffle at 100 TB; the stateful agg
    holds 5 event_type keys. value sums ride DECIMAL(18,6) partials
    (dec_sum's contract) so the drain is order-independent."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
    )

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    d = tempfile.mkdtemp(prefix="cuttlefish_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(d, "part-000.parquet"))
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        enriched = read_events_stream(spark, d).join(dim, "user_id")
        agg = enriched.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "tv_micros"
            ),
            F.sum("user_total").alias("sum_user_totals"),
            F.coalesce(
                F.sum(F.when(F.col("user_total") >= _SSE_HEAVY, 1)), F.lit(0)
            ).cast("long").alias("n_heavy_user_events"),
        )
        run_available_now(agg, name)
    out = _drain_memory_sink(spark, name, d)
    return out.select(
        "event_type",
        "n_events",
        (F.col("tv_micros") / 1_000_000.0).alias("total_value"),
        "sum_user_totals",
        "n_heavy_user_events",
    )
