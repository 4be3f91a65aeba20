"""Streaming == batch: drain the events table through the watermarked
streaming plans and compare with the batch queries on identical input.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from cuttlefish_spark.registry import load_all
from cuttlefish_spark.streaming.pipeline import (
    read_events_stream,
    run_available_now,
    session_stream,
    tumbling_stream,
)


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_tumbling_stream_matches_batch(spark, sf_dir, stream_dir):
    stream = tumbling_stream(read_events_stream(spark, stream_dir))
    run_available_now(stream, "tumbling_mem")
    got = (
        spark.sql("SELECT * FROM tumbling_mem")
        .toPandas()
        .sort_values(["hour_start", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        load_all()["tumbling_window"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values(["hour_start", "event_type"])
        .reset_index(drop=True)
    )
    assert got.equals(want[got.columns])


def test_session_stream_plausible(spark, stream_dir, sf_dir):
    """Session windows: same session count as the batch sessionizer and
    no session shorter than its event count allows."""
    stream = session_stream(read_events_stream(spark, stream_dir))
    run_available_now(stream, "sessions_mem")
    got = spark.sql("SELECT * FROM sessions_mem").toPandas()
    batch = load_all()["sessionize"].fn(spark, sf_dir).toPandas()
    assert len(got) == len(batch)
    assert int(got["n_events"].sum()) == int(batch["n_events"].sum())


def test_rate_limited_ingest(spark, stream_dir):
    """maxFilesPerTrigger bounds per-batch intake (A22 analogue)."""
    stream = tumbling_stream(read_events_stream(spark, stream_dir, max_files_per_trigger=1))
    q = run_available_now(stream, "tumbling_rl")
    assert q.lastProgress is not None
    assert spark.sql("SELECT count(*) FROM tumbling_rl").first()[0] > 0


def test_dedup_stream_first_seen(spark, sf_dir, tmp_path):
    """Stateful streaming dedup: the input dir holds the same events
    file TWICE; across micro-batches every event_id must come out
    exactly once (state survives between triggers)."""
    import shutil

    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import dedup_stream

    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-001.parquet")

    stream = dedup_stream(
        read_events_stream(spark, str(d), max_files_per_trigger=1)
    )
    run_available_now(stream, "dedup_mem", mode="append")
    got = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM dedup_mem").first()
    n_ids = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got["n"] == got["d"] == n_ids


def test_interval_join_stream_matches_batch(spark, sf_dir, stream_dir):
    """Stream-stream interval join == the equivalent batch range join
    on identical input (purchases x same-user clicks within 1h)."""
    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import interval_join_stream

    stream = interval_join_stream(read_events_stream(spark, stream_dir))
    run_available_now(stream, "ij_mem", mode="append")
    got = spark.sql("SELECT * FROM ij_mem")

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").selectExpr(
        "user_id c_user", "ts click_ts", "event_id click_id"
    )
    purchases = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id p_user", "ts purchase_ts", "event_id purchase_id", "value purchase_value"
    )
    want = purchases.join(
        clicks,
        (purchases.p_user == clicks.c_user)
        & (clicks.click_ts <= purchases.purchase_ts)
        & (clicks.click_ts >= purchases.purchase_ts - F.expr("INTERVAL 60 MINUTES")),
    )
    assert got.count() == want.count() > 0
    a = sorted(tuple(r) for r in got.select("purchase_id", "click_id").collect())
    b = sorted(tuple(r) for r in want.select("purchase_id", "click_id").collect())
    assert a == b


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: in append mode a row older than the
    watermark (event time < max_seen - delay) arriving in a later
    micro-batch must NOT resurrect its already-finalized window."""
    import time as _time

    from pyspark.sql import Row

    def write_batch(path, rows, mtime):
        import glob
        import os
        import shutil

        tmp = path + "_tmp"
        spark.createDataFrame(
            [Row(event_id=i, ts=ts, user_id=1, event_type="click",
                 value=1.0, props="{}") for i, ts in rows],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).repartition(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        shutil.move(part, path)  # ONE plain file per batch
        shutil.rmtree(tmp)
        os.utime(path, (mtime, mtime))  # file source orders by mod time

    base = 1_700_000_000_000_000_000  # ns epoch, matches file schema
    hour = 3_600 * 1_000_000_000
    d = tmp_path / "late_stream"
    d.mkdir()
    now = _time.time()
    # batch 0: events at T and T+6h. Watermarks lag one batch: the wm
    # *computed* from batch N's data (max - 2h) governs state eviction
    # at the end of batch N+1 and input filtering in batch N+2.
    write_batch(str(d / "b0.parquet"), [(1, base), (2, base + 6 * hour)], now - 120)
    # batch 1: fresh event; at its end the T-hour window (end < T+4h
    # watermark) is finalized and emitted with ONE event.
    write_batch(str(d / "b1.parquet"), [(3, base + 6 * hour + 1)], now - 60)
    # batch 2: a late duplicate back at T - below the active watermark,
    # must be dropped, NOT re-emitted as a second T-hour row.
    write_batch(str(d / "b2.parquet"), [(4, base), (5, base + 7 * hour)], now)

    stream = tumbling_stream(
        read_events_stream(spark, str(d), max_files_per_trigger=1),
    )
    run_available_now(stream, "late_mem", mode="append")
    got = {
        (r["hour_start"].isoformat(), r["n_events"])
        for r in spark.sql("SELECT * FROM late_mem").collect()
    }
    # The T-hour window finalized with ONE event; the late duplicate
    # (event_id=3) was dropped, not merged.
    t_hour = [g for g in got if g[0].startswith("2023-11-14T22")]
    assert t_hour == [("2023-11-14T22:00:00", 1)]  # one emit, late row dropped


def test_running_totals_stream_matches_batch(spark, sf_dir, stream_dir):
    """Stateful running totals (applyInPandasWithState + TTL): after a
    full availableNow drain, each user's LAST update-mode row must
    equal the batch lifetime aggregate."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
        running_totals_stream,
    )

    stream = running_totals_stream(read_events_stream(spark, stream_dir))
    run_available_now(stream, "running_totals", mode="update")
    got = (
        spark.sql("SELECT * FROM running_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["n_events"] == want["n_events"]).all()
    assert (got["total_value"] - want["total_value"]).abs().max() < 1e-6


def test_mixed_ts_encoding_source_dir_rejected(spark, tmp_path):
    """A stream source dir whose files disagree on the ts encoding
    (nanos vs us — the round-to-round testdata drift) must be rejected
    at stream definition, not read with one file's schema and silently
    corrupt the others' timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from cuttlefish_spark.streaming.pipeline import _events_file_schema

    d = tmp_path / "mixed"
    d.mkdir()
    base = {
        "event_id": [1], "user_id": [2], "event_type": ["click"],
        "value": [1.0], "props": ["{}"],
    }
    pq.write_table(
        pa.table({**base, "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))}),
        str(d / "a.parquet"),
    )
    pq.write_table(
        pa.table({**base, "ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))}),
        str(d / "b.parquet"),
    )
    with _pytest.raises(ValueError, match="mixed ts encodings"):
        _events_file_schema(str(d))


def test_multibatch_state_equals_batch(spark, sf_dir, tmp_path):
    """State must survive ACROSS micro-batches: the events table is
    split chronologically into four files and drained with
    maxFilesPerTrigger=1 (four micro-batches), so tumbling windows and
    sessions that straddle a batch boundary are finished by LATER
    batches out of the state store. The drained result must equal the
    single-batch drain bit-for-bit — if state were lost or re-emitted
    between batches, counts or sums would differ. Chronological splits
    keep every event ahead of the watermark, so nothing is legitimately
    droppable."""
    from cuttlefish_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").orderBy("ts")
    n = ev.count()
    pdf = ev.toPandas()
    d = tmp_path / "chrono"
    d.mkdir()
    step = (n + 3) // 4
    for i in range(4):
        part = pdf.iloc[i * step : (i + 1) * step]
        spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
            str(d / f"batch-{i}.parquet")
        )
    # one file per source subdir; the reader globs the parent
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        files = list((d / f"batch-{i}.parquet").glob("part-*.parquet"))
        assert len(files) == 1
        shutil.copy(files[0], src / f"part-{i:03d}.parquet")

    def drain(max_files):
        name = f"mb_{max_files}"
        stream = tumbling_stream(
            read_events_stream(spark, str(src), max_files_per_trigger=max_files)
        )
        q = run_available_now(stream, name)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        out = (
            spark.table(name)
            .toPandas()
            .sort_values(["hour_start", "event_type"])
            .reset_index(drop=True)
        )
        spark.catalog.dropTempView(name)
        return out, n_batches

    multi, nb_multi = drain(1)
    single, _ = drain(100)
    assert nb_multi >= 4, "expected one micro-batch per file"
    assert multi.equals(single)


def test_left_outer_interval_join_emits_null_on_eviction(spark, tmp_path):
    """Crafted two-user fixture for the outer join's distinctive
    output: a purchase with NO preceding-hour click must come out with
    null click columns once the watermark proves no match can arrive —
    and the matched purchase must come out exactly once, joined."""
    import datetime as _dt

    from pyspark.sql import Row

    from cuttlefish_spark.streaming.pipeline import interval_left_join_stream

    base = 1_700_000_000_000_000_000  # ns epoch, matches file schema
    minute = 60 * 1_000_000_000
    rows = [
        # user 1: click 30 min before their purchase -> joins.
        Row(event_id=1, ts=base + 30 * minute, user_id=1,
            event_type="click", value=1.0, props="{}"),
        Row(event_id=2, ts=base + 60 * minute, user_id=1,
            event_type="purchase", value=9.0, props="{}"),
        # user 2: purchase with no click at all -> null-emitted.
        Row(event_id=3, ts=base + 60 * minute, user_id=2,
            event_type="purchase", value=7.0, props="{}"),
        # watermark pushers on BOTH sides (the global watermark is the
        # min across inputs), 12h out so the cutoff (min-maxima - 4h)
        # keeps the two real purchases in scope.
        Row(event_id=98, ts=base + 720 * minute, user_id=99,
            event_type="click", value=0.0, props="{}"),
        Row(event_id=99, ts=base + 720 * minute, user_id=99,
            event_type="purchase", value=0.0, props="{}"),
    ]
    d = tmp_path / "loj_stream"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).repartition(1).write.mode("overwrite").parquet(str(d / "b0.parquet"))

    cutoff = _dt.datetime.fromtimestamp(
        (base + 480 * minute) / 1_000_000_000, _dt.timezone.utc
    ).replace(tzinfo=None)
    stream = interval_left_join_stream(
        read_events_stream(spark, str(d / "b0.parquet")), cutoff
    )
    run_available_now(stream, "loj_mem", mode="append")
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM loj_mem").collect()
    }
    assert got == {(2, 1), (3, None)}


def test_checkpoint_kill_and_resume_exactly_once(spark, sf_dir, tmp_path):
    """Checkpoint-recovery proof (r5 VERDICT item 5): a CHECKPOINTED
    stateful streaming dedup over a 12-file source is STOPPED mid-drain
    (processingTime trigger + maxFilesPerTrigger=1; stop() fires right
    after the first committed micro-batch, aborting whatever batch is
    in flight), then RESUMED from the same checkpoint dir with
    availableNow. The resumed run must (a) not re-emit event_ids whose
    state predates the kill, (b) pick up exactly the unprocessed files,
    and (c) leave a parquet file sink whose manifest-visible rows equal
    the batch dedup answer bit-for-bit — exactly-once across a restart,
    with the aborted batch's orphan files excluded by the sink
    manifest. The 12 identical source files make every post-kill batch
    a pure re-dup test: any state loss re-emits, any offset loss
    re-reads, any manifest failure double-counts."""
    import time

    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.streaming.pipeline import (
        dedup_stream,
        read_events_stream,
    )

    src = tmp_path / "ckpt_src"
    src.mkdir()
    for i in range(12):
        shutil.copy(f"{sf_dir}/events.parquet", src / f"part-{i:03d}.parquet")
    out_dir = str(tmp_path / "ckpt_out")
    ckpt_dir = str(tmp_path / "ckpt_state")

    def start(trigger_kwargs):
        stream = dedup_stream(
            read_events_stream(spark, str(src), max_files_per_trigger=1)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # Phase 1: run, then kill as soon as one micro-batch has committed.
    # 1-second trigger spacing guarantees the kill lands mid-drain even
    # on a fast machine (r6 ADVICE item 3: with a 0-second trigger all
    # 12 single-file batches could commit between the poll detecting
    # batch 1 and stop() taking effect, failing the <12 assert
    # spuriously; now a spurious full drain needs stop() delayed >11 s).
    q = start({"processingTime": "1 second"})
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if done:
            break
        time.sleep(0.05)
    assert q.recentProgress, "no micro-batch committed before the kill"
    q.stop()  # mid-drain: 11 files were still queued at stop-issue time
    q.awaitTermination()
    n_committed = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert 1 <= n_committed < 12, (
        f"kill was not mid-drain ({n_committed}/12 batches committed)"
    )

    # Phase 2: resume from the SAME checkpoint; drain to completion.
    q2 = start({"availableNow": True})
    q2.awaitTermination()
    resumed_batches = len(
        [p for p in q2.recentProgress if p["numInputRows"] > 0]
    )
    assert resumed_batches >= 1, "resume processed nothing"

    # Manifest-visible output == batch dedup, exactly once.
    got = spark.read.parquet(out_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .dropDuplicates(["event_id"])
    )
    n_ids = want.count()
    counts = got.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("d"),
    ).first()
    assert counts["n"] == counts["d"] == n_ids, (
        f"exactly-once violated: {counts['n']} rows / {counts['d']} distinct "
        f"ids vs {n_ids} expected"
    )
    # The 12 copies are identical, so first-seen == the unique row:
    # full row set must match, not just counts. (Compared in pandas —
    # exceptAll over a dropDuplicates plan trips a Catalyst attribute-
    # binding INTERNAL_ERROR in Spark 4.1; the result is n_ids rows,
    # driver-small.)
    got_pd = got.toPandas().sort_values("event_id").reset_index(drop=True)
    want_pd = want.toPandas().sort_values("event_id").reset_index(drop=True)
    assert got_pd.equals(want_pd[got_pd.columns])


def test_read_documents_stream_schema_and_empty_dir(spark, sf_dir, tmp_path):
    """read_documents_stream derives its schema from parquet footers
    (matching the batch read exactly) and fails loudly on an empty
    source dir instead of silently streaming nothing."""
    import shutil as _sh

    import pytest

    from cuttlefish_spark.streaming.pipeline import read_documents_stream

    d = tmp_path / "docs_src"
    d.mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        read_documents_stream(spark, str(d))
    _sh.copy(f"{sf_dir}/documents.parquet", str(d / "part-000.parquet"))
    stream = read_documents_stream(spark, str(d))
    assert stream.isStreaming
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert [f.name for f in stream.schema.fields] == [
        f.name for f in batch.schema.fields
    ]


def test_late_data_boundary(spark, tmp_path):
    """The exact late-row rule streaming_late_data's oracle encodes,
    pinned empirically (Spark separates watermarkForLateEvents from
    watermarkForEviction):
      1. the late-event watermark of batch k is the watermark USED in
         batch k-1 (one-batch lag) — so rows arriving one batch after
         the max-setter are NOT yet filtered;
      2. a late row whose window is STILL IN STATE merges, even with
         event time far below the eviction watermark;
      3. once evicted, a row with window end == late-event watermark is
         dropped INCLUSIVELY (<=), not resurrected as a duplicate.
    """
    import os as _os
    import shutil as _shutil
    import time as _time
    from datetime import datetime

    def write_batch(path, rows, mtime):
        import glob

        tmp = path + "_tmp"
        spark.createDataFrame(
            [(i, datetime.fromisoformat("2024-01-01 " + t), 1, "click", 1.0, "{}")
             for i, t in rows],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).repartition(1).write.mode("overwrite").parquet(tmp)
        _shutil.move(glob.glob(tmp + "/part-*.parquet")[0], path)
        _shutil.rmtree(tmp)
        _os.utime(path, (mtime, mtime))

    d = tmp_path / "boundary_stream"
    d.mkdir()
    now = _time.time()
    # batch 0: max 10:00 -> watermark becomes 08:00 from batch 1 on.
    write_batch(str(d / "b0.parquet"),
                [(1, "05:30:00"), (2, "10:00:00")], now - 400)
    # batch 1: late-event wm here is still batch 0's initial epoch-0, so
    # these rows (below the 08:00 EVICTION wm that same batch applies)
    # MERGE into live state and flush with it at batch end.
    write_batch(str(d / "b1.parquet"),
                [(10, "05:30:00"), (11, "07:30:00")], now - 300)
    # batch 2: late-event wm = 08:00 now. Window ends 06:00 (< wm) and
    # 08:00 (== wm, the inclusive boundary) both dropped; 09:00 kept.
    write_batch(str(d / "b2.parquet"),
                [(20, "05:45:00"), (21, "07:45:00"), (22, "08:10:00")], now - 200)
    # batch 3: sentinel one day ahead flushes all real windows; its own
    # window (end > final wm) stays in state, self-excluded.
    write_batch(str(d / "b3.parquet"), [(99, "23:59:59")], now - 100)

    agg = (
        read_events_stream(spark, str(d), max_files_per_trigger=1)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    run_available_now(agg, "boundary_mem", mode="append")
    got = {
        (r["ws"].strftime("%H:%M"), r["n"])
        for r in spark.sql("SELECT * FROM boundary_mem").collect()
    }
    assert got == {
        ("05:00", 2),  # rows 1 + 10: late row MERGED into live state
        ("07:00", 1),  # row 11 merged; row 21 (end == wm) NOT added back
        ("08:00", 1),  # row 22 kept (window end 09:00 > wm 08:00)
        ("10:00", 1),  # row 2, flushed by the sentinel
        # rows 20, 21 dropped; sentinel window (23:00) unemitted
    }


def test_dedup_within_watermark_semantics(spark, tmp_path):
    """The dropDuplicatesWithinWatermark contract the query's oracle
    encodes, plus the state bound it exists for:
      1. late filter is row-level and INCLUSIVE against the one-batch-
         lagged watermark: ts == wm dropped, ts == wm + 1us kept;
      2. with dedup delay == watermark delay the post-expiry
         re-emission window is empty (a state-expired key's duplicate
         is always late), so output == first occurrence of every
         non-late row;
      3. state is EVICTED as the watermark passes ts + delay — the
         store holds the delay window, not every key ever seen
         (numRowsTotal at the last batch < keys seen), and
         numRowsDroppedByWatermark records the late drops.
    """
    import os as _os
    import shutil as _shutil
    import time as _time
    from datetime import datetime

    def write_batch(path, rows, mtime):
        import glob

        tmp = path + "_tmp"
        spark.createDataFrame(
            [(i, datetime.fromisoformat("2024-01-01 " + t), 1, "click", 1.0, "{}")
             for i, t in rows],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).repartition(1).write.mode("overwrite").parquet(tmp)
        _shutil.move(glob.glob(tmp + "/part-*.parquet")[0], path)
        _shutil.rmtree(tmp)
        _os.utime(path, (mtime, mtime))

    d = tmp_path / "ddww_stream"
    d.mkdir()
    now = _time.time()
    # batch 0: keys at 01:00 and 10:00 -> wm 08:00 from batch 1 on
    write_batch(str(d / "b0.parquet"),
                [(1, "01:00:00"), (2, "10:00:00")], now - 300)
    # batch 1: carrier at the max (keeps wm at 08:00 for batch 2)
    write_batch(str(d / "b1.parquet"), [(3, "10:00:00")], now - 200)
    # batch 2: dup of the EXPIRED key 1 (state evicted at end of b1:
    # 01:00 + 2h <= 08:00) -> late-dropped, NOT re-emitted; dup of the
    # LIVE key 2 -> dup-dropped; fresh keys at the exact boundary,
    # 1us above, 1us below.
    write_batch(str(d / "b2.parquet"),
                [(1, "01:00:00"), (2, "10:00:00"),
                 (10, "08:00:00"), (11, "08:00:00.000001"),
                 (12, "07:59:59.999999")], now - 100)

    dd = (
        read_events_stream(spark, str(d), max_files_per_trigger=1)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        dd.writeStream.format("memory").queryName("ddww_sem")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM ddww_sem").collect()
    )
    # 1,2,3 first occurrences; 11 the +1us fresh key; 10 (== wm) and
    # 12 (late) dropped; neither dup re-emitted.
    assert got == [1, 2, 3, 11]
    state = [
        (p["batchId"], p["stateOperators"][0])
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    last = state[-1][1]
    # 5 distinct keys seen by the store's lifetime; eviction keeps the
    # final store strictly smaller (key 1 evicted; boundary drops never
    # entered).
    assert last["numRowsTotal"] < 5
    assert sum(s["numRowsDroppedByWatermark"] for _, s in state) >= 2


def test_memory_sink_drain_tz_independent():
    """The memory-sink drain must be exact under ANY process timezone:
    the non-Arrow createDataFrame path interprets NAIVE datetimes in
    the Python process's LOCAL zone (TZ env), not the session zone, so
    a naive hand-back shifted every memory-sink timestamp by the UTC
    offset under TZ=America/New_York (wild-caught by a TZ-varied
    driver_sim run; 6 queries). _drain_memory_sink now hands back
    timezone-AWARE datetimes in the session zone — this subprocess
    pins the whole oracle round-trip under a non-UTC TZ."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    env = {**os.environ, "TZ": "America/New_York",
           "SPARK_SIM_MASTER": "local[4]"}
    r = subprocess.run(
        [sys.executable, "scripts/quick_check.py",
         "streaming_tumbling_hourly", "--sf", "/root/testdata/sf0.001"],
        env=env, capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-1000:])
