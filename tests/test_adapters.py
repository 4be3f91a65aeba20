"""Adapter normalization tests — the golden-fixture strategy of the
reference (eventbrite.rkt:123-146: run convert-json on a captured
payload, assert canonical shape), extended with the DST cases the
reference never tested.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cuttlefish_spark.sinks.json_sink import audit_counts
from cuttlefish_spark.sources import fixtures
from cuttlefish_spark.sources.adapters import ADAPTERS, FLAT_DDL, flat_record
from cuttlefish_spark.sources.datasource import _fetch_rows

CANONICAL_KEYS = {
    "chapter_id", "event_id", "url", "time", "utcOffset", "title",
    "description", "venue", "photos",
}
VENUE_KEYS = {"name", "address1", "address2", "country", "city", "postalCode", "lon", "lat"}


def _replay(chapters=fixtures.CHAPTERS) -> list[dict]:
    """The fetch body's rows for `chapters` over the fixture transport."""
    return list(_fetch_rows(chapters, "replay", None))


def _events(chapter_id: str) -> dict:
    """The golden fixture events of `chapter_id`, by event id."""
    return {r["event_id"]: r for r in _replay() if r["chapter_id"] == chapter_id}


def _synth_chapters(n: int) -> list[tuple]:
    """An n-chapter work-list cycling the four golden protos: chapter i
    re-fetches proto CHAPTERS[i % 4] under the fresh id c{i:05d}, so the
    expected output is the golden table fanned out by a pure formula."""
    out = []
    for i in range(n):
        _cid, title, adapter, sid, org = fixtures.CHAPTERS[i % len(fixtures.CHAPTERS)]
        out.append((f"c{i:05d}", title, adapter, sid, org))
    return out


def _write_chapters_json(n: int, path: str) -> None:
    """_synth_chapters(n) in the chapters.json work-list format
    `chapters.load_chapters` reads (the reference's config table,
    api-runner.rkt:171-178)."""
    doc = {}
    for cid, title, adapter, sid, org in _synth_chapters(n):
        ds: dict = {"adapter": adapter, "id": sid}
        if org is not None:
            ds["organization"] = org
        doc[cid] = {"title": title, "dataService": ds}
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)


def test_canonical_shape():
    """Shape parity with the reference's golden test
    (eventbrite.rkt:136-146): every OK row holds the canonical key set
    and the venue key set; an ERROR row holds only its Either fields."""
    rows = _replay()
    assert {r["status"] for r in rows} == {"OK", "ERROR"}
    for r in rows:
        if r["status"] == "OK":
            assert set(r) == CANONICAL_KEYS | {"status", "error"}
            assert set(r["venue"]) == VENUE_KEYS
        else:
            assert set(r) == {"chapter_id", "status", "error"}


def test_meetup_normalization():
    rows = _events("newyork")
    e = rows["zvbxrpl2"]
    assert e["url"].startswith("https://www.meetup.com/")  # link -> url rename
    assert e["time"] == 1526425200000 and e["utcOffset"] == -14400000  # epoch pass-through
    assert e["venue"]["postalCode"] == "10013"  # zip -> postalCode
    assert [p["url"] for p in e["photos"]] == [
        "https://photos.meetupstatic.com/p1.jpeg",
        "https://photos.meetupstatic.com/p2.jpeg",
    ]
    assert e["photos"][0]["width"] is None  # null-defaulted (meetup.rkt:55-58)
    # default-on-miss: absent venue/photo_album degrade to nulls/empty
    m = rows["qxw9yzl3"]
    assert m["venue"]["name"] is None and m["photos"] == []


def test_facebook_offset_and_markdown():
    rows = _events("stlouis")
    e = rows["186112975332637"]
    # 2018-05-15T19:00:00-0500 == 2018-05-16T00:00:00Z
    assert e["time"] == 1526428800000
    assert e["utcOffset"] == -18000000  # -05:00 in millis (facebook.rkt:22-28)
    assert e["url"] == "https://facebook.com/186112975332637"  # url synthesis
    assert e["description"].startswith('<div class="event-api-content">')
    assert "<strong>" in e["description"]  # markdown rendered
    assert e["photos"] is None  # facebook.rkt:55


def test_eventbrite_dst_offsets():
    rows = _events("london")
    # Europe/London before DST: offset 0
    assert rows["44544109937"]["utcOffset"] == 0
    assert rows["44544109937"]["time"] == 1520533800000  # == fixture utc
    # Europe/London after DST: +1h
    assert rows["44544109938"]["utcOffset"] == 3600000
    assert rows["44544109938"]["time"] == 1523554200000
    # America/New_York on the DST transition day: EDT -4h
    assert rows["44544109939"]["utcOffset"] == -14400000
    assert rows["44544109939"]["time"] == 1520791200000
    # stringified lat/lon cast to double
    assert abs(rows["44544109937"]["venue"]["lat"] - 51.5229) < 1e-9


def test_unknown_adapter_dead_letter():
    """Unknown adapter -> ERROR row (api-runner.rkt:144-147)."""
    rows = _replay()
    errs = [r for r in rows if r["status"] == "ERROR"]
    assert len(errs) == 1
    assert errs[0]["chapter_id"] == "atlantis"
    assert "carrierpigeon" in errs[0]["error"]
    assert sum(r["status"] == "OK" for r in rows) == 7  # 2 meetup + 2 fb + 3 eb


def test_audit_counts(spark):
    golden = spark.createDataFrame([flat_record(r) for r in _replay()], FLAT_DDL)
    audit = {
        (r["chapter_id"], r["status"]): (r["n_events"], r["log_line"])
        for r in audit_counts(golden).collect()
    }
    assert audit[("newyork", "OK")][0] == 2
    assert audit[("newyork", "OK")][1] == "WROTE: newyork"
    assert audit[("atlantis", "ERROR")][1] == "ERROR: atlantis"


def _flat_tuples(rows) -> list[tuple]:
    return sorted(tuple(flat_record(r).values()) for r in rows)


def test_datasource_matches_replay(spark, sf_dir, tmp_path):
    """The batch fetch (scheduler-owned fan-out, one chunk per core)
    must produce identical flat records to the driver-side fetch, on
    the fixture work-list and on a 1,003-chapter one with 404
    chapters."""
    from cuttlefish_spark.operators.ingest import (
        fetch_records,
        ingest_datasource,
        ingest_normalize,
    )
    from cuttlefish_spark.sources.chapters import load_chapters

    a = sorted(tuple(r) for r in ingest_datasource(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in ingest_normalize(spark, sf_dir).collect())
    assert a == b
    assert len(a) == 8

    path = str(tmp_path / "chapters.json")
    _worklist_with_404s(path)
    a = _flat_tuples(fetch_records(spark, chapters_path=path).collect())
    assert a == _flat_tuples(_fetch_rows(load_chapters(path), "replay", None))
    # 250 cycles of the 4 protos (2 + 2 + 3 events + 1 error) + 3 lost
    assert len(a) == 2003
    lost = [r for r in a if r[0].startswith("lost_")]
    assert len(lost) == 3 and all(r[-1].endswith(": 404") for r in lost)
    errs = {r[0]: r[-1] for r in a if r[-2] == "ERROR"}
    assert errs["c00003"] == "No adapter found: carrierpigeon"


def test_read_chapters_json(tmp_path):
    """A2/A3 parity: map-shaped chapters JSON -> one work item per
    chapter with dynamic keys as the id; missing nested fields -> null;
    missing file -> error."""
    import json

    import pytest

    from cuttlefish_spark.sources.chapters import load_chapters

    doc = {
        "newyork": {"title": "New York",
                    "dataService": {"adapter": "meetup", "id": "papers-we-love"}},
        "london": {"title": "London",
                   "dataService": {"adapter": "eventbrite",
                                   "id": "pwl-london", "organization": "2417467656"}},
        "ghost": {"title": "No Service"},
    }
    p = tmp_path / "chapters.json"
    p.write_text(json.dumps(doc))

    wl = load_chapters(str(p))
    rows = {r[0]: r for r in wl}
    assert set(rows) == {"newyork", "london", "ghost"}
    assert rows["newyork"][2] == "meetup" and rows["newyork"][4] is None
    assert rows["london"][4] == "2417467656"
    assert rows["ghost"][2] is None  # lenient path access
    assert ("london", "London", "eventbrite", "pwl-london", "2417467656") in wl

    with pytest.raises(FileNotFoundError):
        load_chapters(str(tmp_path / "missing.json"))


def test_chapters_drive_dispatch(tmp_path):
    """End-to-end config->pipeline: a chapters file drives the fetch
    body exactly like the inline fixture work-list."""
    from cuttlefish_spark.sources.chapters import load_chapters

    doc = {"newyork": {"title": "New York",
                       "dataService": {"adapter": "meetup", "id": "papers-we-love"}}}
    p = tmp_path / "chapters.json"
    p.write_text(json.dumps(doc))
    rows = _replay(load_chapters(str(p)))
    assert [r["status"] for r in rows] == ["OK", "OK"]  # the two meetup fixture events


def test_load_config_not_json_names_file(tmp_path):
    """A .cuttlefishrc that is not JSON fails naming the file, as one
    whose top level is not an object does."""
    import pytest

    from cuttlefish_spark.sources.config import load_config

    (tmp_path / ".cuttlefishrc").write_text("json-out-path: /data/out\n")
    with pytest.raises(ValueError, match=".cuttlefishrc"):
        load_config(cwd=str(tmp_path))


def test_fetch_events_ok_and_throttle_update():
    """fetch_events drives the full worker body (meetup.rkt:66-95):
    backoff waited out per request, headers fed back to the throttle,
    envelope unwrapped per adapter."""
    from cuttlefish_spark.sources.fetch import FixtureTransport, fetch_events
    from cuttlefish_spark.sources.throttle import Throttle

    naps = []
    clock_now = [0.0]

    def clock():
        return clock_now[0]

    def sleep(s):
        naps.append(s)
        clock_now[0] += s

    # remaining below MIN_REMAINING => next wait backs off reset+2s
    transport = FixtureTransport(ratelimit_remaining=1, ratelimit_reset=5.0)
    throttle = Throttle(clock=clock, sleep=sleep)
    events, error = fetch_events(
        "meetup", "papers-we-love", None, transport=transport, throttle=throttle
    )
    assert error is None and len(events) > 0
    (url, params), = transport.calls
    assert url == "https://api.meetup.com/papers-we-love/events"
    assert params["status"] == "upcoming,past"  # meetup.rkt:31-36
    throttle.wait()
    assert naps and abs(sum(naps) - 7.0) < 1e-9  # reset(5) + 2


def test_fetch_events_404_and_read_error():
    """HTTP error -> \"Couldn't fetch id: 404\" (README.md:66-72);
    transport raise -> read-error message (meetup.rkt:76-80)."""
    from cuttlefish_spark.sources.fetch import FixtureTransport, fetch_events
    from cuttlefish_spark.sources.throttle import Throttle

    events, error = fetch_events(
        "meetup", "no-such-chapter", None,
        transport=FixtureTransport(), throttle=Throttle(),
    )
    assert events is None and error == "Couldn't fetch no-such-chapter: 404"

    def broken(url, params):
        raise OSError("connection reset")

    events, error = fetch_events(
        "meetup", "x", None, transport=broken, throttle=Throttle()
    )
    assert events is None and error == "Could not read data for x"


def test_fetch_events_bad_json():
    from cuttlefish_spark.sources.fetch import fetch_events
    from cuttlefish_spark.sources.throttle import Throttle

    def junk(url, params):
        return 200, {}, "not json {"

    events, error = fetch_events(
        "facebook", "svc", None, transport=junk, throttle=Throttle()
    )
    assert events is None and error == "Couldn't format svc into correct JSON"


def test_fetch_request_shapes():
    """facebook/eventbrite URL + param parity (facebook.rkt:67-83,
    eventbrite.rkt:98-114), config-driven tokens."""
    from cuttlefish_spark.sources.fetch import build_request

    url, params = build_request(
        "facebook", "svc1", None, {"facebook-access-token": "tok"}
    )
    assert url == "https://graph.facebook.com/v2.9/svc1/events"
    assert params == {"since": "132001640", "access_token": "tok"}
    url, params = build_request(
        "eventbrite", "svc2", "org9", {"eventbrite-access-tokens": {"svc2": "ebtok"}}
    )
    assert url == "https://www.eventbriteapi.com/v3/organizations/org9/events/"
    assert params == {"expand": "venue.address", "token": "ebtok"}


def test_fetch_ids_that_are_not_one_path_segment_are_never_requested():
    """A dataService id, or an eventbrite organization, that is empty,
    `.` or `..`, or holds `/`, `?`, `#` or `%` would make the request
    name another endpoint, query or fragment (`pwl/../other?x=1`,
    `123#frag` hiding the access token). Such a chapter is a read
    error, and no request is made."""
    from cuttlefish_spark.sources.datasource import _fetch_rows
    from cuttlefish_spark.sources.fetch import FixtureTransport, fetch_events
    from cuttlefish_spark.sources.throttle import Throttle

    transport = FixtureTransport()
    events, _ = fetch_events("meetup", "papers-we-love", None,
                             transport=transport, throttle=Throttle())
    assert len(events) == 2 and len(transport.calls) == 1

    bad = [".", "..", "pwl/../other?x=1", "123#frag", "a%2Fb", "papers-we-love?x=1"]
    cases = ([("meetup", sid, None) for sid in ["", *bad]]
             + [("facebook", sid, None) for sid in ["", *bad]]
             + [("eventbrite", "papers-we-love-london", org) for org in bad])
    for adapter, sid, org in cases:
        got = fetch_events(adapter, sid, org, transport=transport, throttle=Throttle())
        assert got == (None, f"Could not read data for {sid}"), (adapter, sid, org)
    assert len(transport.calls) == 1

    rows = list(_fetch_rows([(f"c{i}", "t", *case) for i, case in enumerate(cases)],
                            "replay", None))
    assert [(r["chapter_id"], r["status"], r["error"]) for r in rows] == [
        (f"c{i}", "ERROR", f"Could not read data for {sid}")
        for i, (_, sid, _) in enumerate(cases)]


def test_datasource_404_rows_flow_to_error_channel(spark):
    """A chapter whose fixture is missing surfaces the HTTP 404 through
    the batch fetch's Either columns instead of failing the job."""
    from cuttlefish_spark.operators.ingest import datasource_canonical

    df = datasource_canonical(spark)
    errs = {
        r["error"] for r in df.filter("status = 'ERROR'").collect() if r["error"]
    }
    assert any("Couldn't fetch" in e or "No adapter found" in e for e in errs)


def test_runtime_config_defaults_and_override(spark, tmp_path):
    """A1 (main.rkt:35-62): missing rc file -> defaults; rc file keys
    override; resolved chapter-json-file drives the chapters scan."""
    import json as _json

    from cuttlefish_spark.sources.config import load_config, resolve_config_path

    cwd = str(tmp_path)
    cfg = load_config(cwd=cwd)
    assert cfg["json-out-path"] == "/tmp"
    assert cfg["chapter-json-file"] == str(tmp_path / "chapters.json")
    assert resolve_config_path(cwd=cwd) == tmp_path / ".cuttlefishrc"

    chapters = tmp_path / "my_chapters.json"
    chapters.write_text(_json.dumps({
        "boston": {"title": "Boston",
                   "dataService": {"adapter": "meetup", "id": "papers-we-love"}}
    }))
    (tmp_path / ".cuttlefishrc").write_text(_json.dumps({
        "chapter-json-file": str(chapters), "json-out-path": str(tmp_path / "out")
    }))
    cfg = load_config(cwd=cwd)
    assert cfg["chapter-json-file"] == str(chapters)   # overridden
    assert cfg["json-out-path"] == str(tmp_path / "out")
    assert cfg["logfile-path"] == str(tmp_path / "logs")  # default kept

    from cuttlefish_spark.sources.chapters import load_chapters

    rows = load_chapters(cfg["chapter-json-file"])
    assert [(r[0], r[2], r[3]) for r in rows] == [
        ("boston", "meetup", "papers-we-love")
    ]

    explicit = tmp_path / "alt.rc"
    explicit.write_text(_json.dumps({"json-out-path": "/data/out"}))
    assert load_config(arg=str(explicit), cwd=cwd)["json-out-path"] == "/data/out"


def test_run_pipeline_end_to_end(spark, tmp_path):
    """main.rkt twin: config -> chapters-driven DataSource fetch ->
    normalize -> per-chapter JSON files -> audit log. The rc file
    narrows the work-list to two chapters plus a dead-letter one."""
    import json as _json

    from cuttlefish_spark.run import run_pipeline
    from cuttlefish_spark.sources.config import load_config

    chapters = tmp_path / "chapters.json"
    chapters.write_text(_json.dumps({
        "newyork": {"title": "New York",
                    "dataService": {"adapter": "meetup", "id": "papers-we-love"}},
        "london": {"title": "London",
                   "dataService": {"adapter": "eventbrite",
                                   "id": "papers-we-love-london",
                                   "organization": "2417467656"}},
        "atlantis": {"title": "Atlantis",
                     "dataService": {"adapter": "carrierpigeon", "id": "deep-six"}},
        "ghost": None,
        "odd": {"dataService": "x"},
    }))
    (tmp_path / ".cuttlefishrc").write_text(_json.dumps({
        "chapter-json-file": str(chapters),
        "json-out-path": str(tmp_path / "out"),
        "logfile-path": str(tmp_path / "logs"),
    }))
    audit = run_pipeline(spark, config=load_config(cwd=str(tmp_path)))
    rows = {(cid, status): n for cid, status, n, _line in audit}
    assert rows[("newyork", "OK")] == 2
    assert rows[("london", "OK")] == 3
    assert rows[("atlantis", "ERROR")] == 1
    # malformed chapters read as null fields: one ERROR row each
    assert rows[("ghost", "ERROR")] == 1
    assert rows[("odd", "ERROR")] == 1

    out_files = sorted(p.name for p in (tmp_path / "out").iterdir())
    assert out_files == ["london.json", "newyork.json"]
    ny = _json.loads((tmp_path / "out" / "newyork.json").read_text())
    assert set(ny) == {"qxw9yzl3", "zvbxrpl2"}  # {event_id: record} shape

    log = (tmp_path / "logs" / "cuttlefish.log").read_text()
    assert "ERROR: atlantis" in log and "WROTE: newyork" in log
    assert "ERROR: ghost (1)" in log and "ERROR: odd (1)" in log


def test_log_rotation_daily(tmp_path):
    """A24 twin (logger.rkt:54-63): a log last written on an earlier
    day is rolled to cuttlefish-YYYY-MM-DD.log before the next append."""
    import datetime as dt
    import os

    from cuttlefish_spark.run import append_log

    d = str(tmp_path / "logs")
    append_log(d, ["WROTE: a (1)"])
    # age the current log file to yesterday
    y = dt.date.today() - dt.timedelta(days=1)
    old_mtime = dt.datetime.combine(y, dt.time(12)).timestamp()
    os.utime(os.path.join(d, "cuttlefish.log"), (old_mtime, old_mtime))
    append_log(d, ["WROTE: b (2)"])
    files = sorted(os.listdir(d))
    assert files == [f"cuttlefish-{y.isoformat()}.log", "cuttlefish.log"]
    assert (tmp_path / "logs" / "cuttlefish.log").read_text() == "WROTE: b (2)\n"


def test_append_log_no_lines_appends_nothing(tmp_path):
    """An empty work-list audits no chapter, so it adds no line to
    cuttlefish.log (a bare newline is neither WROTE: nor ERROR:)."""
    from cuttlefish_spark.run import append_log

    d = str(tmp_path / "logs")
    append_log(d, ["WROTE: a (1)"])
    append_log(d, [])
    assert (tmp_path / "logs" / "cuttlefish.log").read_text() == "WROTE: a (1)\n"


def test_run_pipeline_missing_chapters_raises(spark, tmp_path):
    """A misconfigured run must fail loudly, not silently replay the
    built-in fixture chapters (reference: an unreadable chapters table
    aborts the run)."""
    import pytest as _pytest

    from cuttlefish_spark.run import run_pipeline

    config = {
        "chapter-json-file": str(tmp_path / "nope.json"),
        "json-out-path": str(tmp_path / "out"),
        "logfile-path": str(tmp_path / "logs"),
    }
    with _pytest.raises(FileNotFoundError, match="chapter-json-file"):
        run_pipeline(spark, config=config)

    listed = tmp_path / "list.json"
    listed.write_text('[{"newyork": {}}]')
    with _pytest.raises(ValueError, match="list.json"):
        run_pipeline(spark, config={**config, "chapter-json-file": str(listed)})

    garbled = tmp_path / "garbled.json"
    garbled.write_text('{"newyork": ')
    with _pytest.raises(ValueError, match="garbled.json"):
        run_pipeline(spark, config={**config, "chapter-json-file": str(garbled)})


def test_datasource_chapter_batching_invariance():
    """The chunking changes ONLY the partitioning, not the rows: the
    4-chapter fixture work-list fetched chunk by chunk, at one chapter
    per chunk up to all four in one, gives the rows of one fetch over
    the whole list, in order (and the expected chunk counts)."""
    from cuttlefish_spark.operators.ingest import chapter_chunks
    from cuttlefish_spark.sources.chapters import load_chapters

    items = load_chapters()
    want = _replay(items)
    for transport, parallelism, n_chunks in [
        ("replay", 8, 4), ("replay", 3, 2), ("replay", 1, 1), ("live", 1, 4),
    ]:
        chunks = chapter_chunks(items, transport, parallelism)
        assert len(chunks) == n_chunks
        assert [r for chunk in chunks for r in _replay(chunk)] == want


def test_datasource_replay_auto_batching(tmp_path):
    """Replay transport makes one chunk per core, ceil(n/parallelism)
    chapters each (r9 VERDICT item 5 — at 1 task per chapter each
    chapter pays the task's scheduling and Python setup; one wave pays
    it once per core); live transport keeps 1/partition so the
    scheduler owns per-item retry granularity. Either way the chunks
    hold the work-list in order, each chapter once."""
    from cuttlefish_spark.operators.ingest import chapter_chunks
    from cuttlefish_spark.sources.chapters import load_chapters

    path = str(tmp_path / "chapters.json")
    _write_chapters_json(1000, path)
    items = load_chapters(path)

    # replay + parallelism 8: per = ceil(1000 / 8) = 125 -> 8 chunks
    assert len(chapter_chunks(items, "replay", 8)) == 8
    # live ignores the auto size
    assert len(chapter_chunks(items, "live", 8)) == 1000
    # tiny work-lists never batch below 1/partition
    assert len(chapter_chunks(load_chapters(), "replay", 8)) == 4
    for transport in ("replay", "live"):
        chunks = chapter_chunks(items, transport, 8)
        assert [c for chunk in chunks for c in chunk] == items


def test_stream_reader_offsets_and_recovery():
    """The simpleStreamReader's offset walk: read() advances index by
    one chapter, an exhausted list returns an empty slice at a
    fixed offset (so processAllAvailable terminates), and
    readBetweenOffsets replays EXACTLY the rows the original read()
    served for the same offset range (the recovery contract)."""
    from cuttlefish_spark.sources.datasource import ChapterReplayStreamReader

    r = ChapterReplayStreamReader()
    off = r.initialOffset()
    assert off == {"index": 0}
    all_rows, n_batches = [], 0
    while True:
        rows, nxt = r.read(off)
        rows = list(rows)
        if nxt == off:
            assert rows == []
            break
        assert nxt["index"] == off["index"] + 1
        replay = list(r.readBetweenOffsets(off, nxt))
        assert replay == rows, "recovery replay diverged from original read"
        all_rows.extend(rows)
        off = nxt
        n_batches += 1
    assert n_batches == len(r._items)
    assert len(all_rows) >= n_batches  # every chapter yields >= 1 row


def test_streaming_datasource_matches_batch(spark):
    """The drained stream's canonical frame equals the batch
    DataSource's — the streaming source held to its batch twin row
    for row (the driver holds both to the same golden oracle; this
    pins their mutual identity without DuckDB)."""
    from cuttlefish_spark.operators.ingest import (
        datasource_canonical,
        streaming_ingest_canonical,
    )

    a = streaming_ingest_canonical(spark)
    b = datasource_canonical(spark)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_unknown_adapter_spends_no_throttle_token(monkeypatch):
    """The throttle gates requests only (throttle.py, meetup.rkt:67,86):
    an unknown-adapter chapter makes no request, so a work-list of only
    unknown adapters never waits on it, while a known adapter waits
    once per GET."""
    from cuttlefish_spark.sources.datasource import _fetch_rows
    from cuttlefish_spark.sources.throttle import Throttle

    calls = []
    monkeypatch.setattr(Throttle, "wait", lambda self: calls.append(1))
    unknown = [(f"x{i}", "X", "carrierpigeon", "deep-six", None) for i in range(20)]
    rows = list(_fetch_rows(unknown, "replay", None))
    assert [r["status"] for r in rows] == ["ERROR"] * 20
    assert calls == []

    known = [("newyork", "New York", "meetup", "papers-we-love", None)]
    list(_fetch_rows(known, "replay", None))
    assert len(calls) == 1


def _worklist_with_404s(path: str) -> None:
    """_write_chapters_json(1000) plus one unknown-service chapter per
    adapter, which the fixture transport answers with HTTP 404."""
    import json as _json

    _write_chapters_json(1000, path)
    with open(path, encoding="utf-8") as fh:
        doc = _json.load(fh)
    doc["lost_meetup"] = {"title": "Lost", "dataService": {
        "adapter": "meetup", "id": "no-such-group"}}
    doc["lost_facebook"] = {"title": "Lost", "dataService": {
        "adapter": "facebook", "id": "0000000000"}}
    doc["lost_eventbrite"] = {"title": "Lost", "dataService": {
        "adapter": "eventbrite", "id": "no-such-org", "organization": "0"}}
    with open(path, "w", encoding="utf-8") as fh:
        _json.dump(doc, fh)


def test_run_pipeline_matches_format_composition(spark, tmp_path):
    """run_pipeline's files, audit log and audit tuples equal the
    composition of its parts over the golden frame's body
    (fetch_records -> flat_record under FLAT_DDL, as
    datasource_canonical builds it): write_keyed_json for the files,
    audit_counts for the audit."""
    import json as _json

    from cuttlefish_spark.operators.ingest import fetch_records
    from cuttlefish_spark.run import run_pipeline
    from cuttlefish_spark.sinks.json_sink import write_keyed_json

    path = str(tmp_path / "chapters.json")
    _worklist_with_404s(path)

    out = spark.createDataFrame(
        fetch_records(spark, chapters_path=path).map(flat_record), FLAT_DDL)
    old_dir = tmp_path / "old"
    write_keyed_json(out.rdd.map(lambda r: r.asDict()), str(old_dir))
    old_audit = audit_counts(out).orderBy("chapter_id", "status").collect()
    old_lines = [f"{r['log_line']} ({r['n_events']})" for r in old_audit]

    new_dir, log_dir = tmp_path / "new", tmp_path / "logs"
    audit = run_pipeline(spark, config={
        "chapter-json-file": path, "json-out-path": str(new_dir),
        "logfile-path": str(log_dir)})

    old_files = sorted(p.name for p in old_dir.iterdir())
    assert old_files == sorted(p.name for p in new_dir.iterdir())
    assert len(old_files) == 750  # 3 of every 4 synth chapters fetch OK
    for name in old_files:
        assert (old_dir / name).read_bytes() == (new_dir / name).read_bytes()
    assert (log_dir / "cuttlefish.log").read_text().splitlines() == old_lines
    assert audit == [tuple(r) for r in old_audit]
    assert _json.loads((new_dir / "c00000.json").read_text()).keys() == {
        "qxw9yzl3", "zvbxrpl2"}


def test_run_pipeline_is_one_spark_job(spark, tmp_path):
    """Fetch, convert, write and audit run in one Spark job: every
    chapter's rows stay in their fetch partition, so there is no
    checkpoint, shuffle or second collect."""
    from cuttlefish_spark.run import run_pipeline

    path = str(tmp_path / "chapters.json")
    _worklist_with_404s(path)
    sc = spark.sparkContext
    group = "test_run_pipeline_is_one_spark_job"
    sc.setJobGroup(group, group)
    try:
        audit = run_pipeline(spark, config={
            "chapter-json-file": path, "json-out-path": str(tmp_path / "out"),
            "logfile-path": str(tmp_path / "logs")})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(audit) == 1003
    # no staging directory or tmp file is left next to the files
    assert sorted(p.name for p in (tmp_path / "out").iterdir()) == sorted(
        f"{cid}.json" for cid, status, _n, _line in audit if status == "OK")


def test_fetch_events_event_without_id_is_format_error():
    """An event that is not an object or has no id cannot be keyed in
    the chapter's file, so the chapter becomes one format ERROR instead
    of crashing the write (json.dump of a None key next to str keys
    raises TypeError)."""
    import json as _json

    from cuttlefish_spark.sources.fetch import fetch_events
    from cuttlefish_spark.sources.throttle import Throttle

    for events in ([{"id": "e1"}, {"name": "no id"}], [{"id": "e1"}, {"id": None}],
                   [{"id": "e1"}, "not an object"]):
        body = _json.dumps(events)
        got = fetch_events(
            "meetup", "svc", None, transport=lambda url, params: (200, {}, body),
            throttle=Throttle(),
        )
        assert got == (None, "Couldn't format svc into correct JSON")


def test_fetch_rows_sends_config_tokens(monkeypatch):
    """The run's config reaches each live request: the facebook and
    eventbrite tokens from .cuttlefishrc are in the request params."""
    import json as _json

    from cuttlefish_spark.sources import fetch
    from cuttlefish_spark.sources.datasource import _fetch_rows

    calls = []

    def recorder(url, params):
        calls.append((url, params))
        return 200, {}, _json.dumps({"data": [], "events": []})

    monkeypatch.setattr(fetch, "http_transport", recorder)
    cfg = {"facebook-access-token": "fbtok",
           "eventbrite-access-tokens": {"pwl-london": "ebtok"}}
    chapters = [("stlouis", "St. Louis", "facebook", "pwl-stl", None),
                ("london", "London", "eventbrite", "pwl-london", "2417467656")]
    list(_fetch_rows(chapters, "live", cfg))
    assert [p.get("access_token", p.get("token")) for _, p in calls] == ["fbtok", "ebtok"]


def test_replay_fetch_rows_never_sleeps(monkeypatch):
    """The header backoff is the one throttle (meetup.rkt:9-26): replay
    reports plenty of requests remaining, so 2,000 fixture chapters
    through one _fetch_rows call never sleep."""
    import functools

    from cuttlefish_spark.sources import throttle

    sleeps = []
    monkeypatch.setattr(throttle, "Throttle",
                        functools.partial(throttle.Throttle, sleep=sleeps.append))
    rows = _replay(_synth_chapters(2000))
    assert sum(r["status"] == "OK" for r in rows) == 500 * 7  # 7 events per 4 protos
    assert sleeps == []


def test_fetch_rows_header_backoff_delays_next_request(monkeypatch):
    """Within one _fetch_rows call every request shares the throttle: a
    response with X-Ratelimit-Remaining 1 and Reset 5 delays the next
    chapter's request by reset + 2 = 7 s, and the rows are unchanged."""
    import functools

    from cuttlefish_spark.sources import fetch, fixtures, throttle
    from cuttlefish_spark.sources.datasource import _fetch_rows

    now = [0.0]

    def sleep(s):
        now[0] += s

    monkeypatch.setattr(throttle, "Throttle", functools.partial(
        throttle.Throttle, clock=lambda: now[0], sleep=sleep))
    replay = fetch.FixtureTransport(ratelimit_remaining=1, ratelimit_reset=5.0)
    sent = []

    def transport(url, params):
        sent.append(now[0])
        return replay(url, params)

    expected = list(_fetch_rows(fixtures.CHAPTERS, "replay", None))
    assert now[0] == 0.0
    monkeypatch.setattr(fetch, "FixtureTransport", lambda: transport)
    rows = list(_fetch_rows(fixtures.CHAPTERS, "replay", None))
    assert sent == [0.0, 7.0, 14.0]  # three known adapters, one request each
    assert rows == expected


def test_live_fetch_failures_are_error_rows(monkeypatch):
    """A live fetch that fails with something other than an OSError is
    that chapter's ERROR row, not a crashed run: a URL http.client
    rejects (a space, a non-ASCII id) and a truncated body read as read
    errors, a body that is not UTF-8 as a format error. Sockets are
    disabled, so nothing leaves the process."""
    import http.client
    import socket
    import urllib.request

    from cuttlefish_spark.sources.datasource import _fetch_rows

    def no_network(*args, **kwargs):
        raise AssertionError("the test must not open a connection")

    for name in ("create_connection", "getaddrinfo"):
        monkeypatch.setattr(socket, name, no_network)
    monkeypatch.setattr(socket.socket, "connect", no_network)

    class Response:
        status, headers = 200, {}

        def __init__(self, read):
            self.read = read

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def truncated():
        raise http.client.IncompleteRead(b'[{"id": "e1"', 40)

    bodies = {"latin1": lambda: b'[{"id": "caf\xe9"}]', "cut": truncated}
    real_urlopen = urllib.request.urlopen

    def urlopen(req, timeout=None):
        service_id = req.full_url.split("/")[3]
        if service_id in bodies:
            return Response(bodies[service_id])
        return real_urlopen(req, timeout=timeout)

    monkeypatch.setattr(urllib.request, "urlopen", urlopen)
    chapters = [(sid, sid, "meetup", sid, None)
                for sid in ("bad id", "m\u00fcnchen", "latin1", "cut")]
    rows = list(_fetch_rows(chapters, "live", None))
    assert [(r["chapter_id"], r["status"], r["error"]) for r in rows] == [
        ("bad id", "ERROR", "Could not read data for bad id"),
        ("m\u00fcnchen", "ERROR", "Could not read data for m\u00fcnchen"),
        ("latin1", "ERROR", "Couldn't format latin1 into correct JSON"),
        ("cut", "ERROR", "Could not read data for cut"),
    ]


def _replay_payload(monkeypatch, adapter: str, events: list) -> dict:
    """The fetch body over the fixture chapter of `adapter`, with its
    replayed payload holding `events`; rows by event id (None for an
    ERROR row)."""
    table, key, body, chapter = {
        "meetup": ("MEETUP_RAW", "papers-we-love", events, 0),
        "facebook": ("FACEBOOK_RAW", "1776622612568197", {"data": events}, 1),
        "eventbrite": ("EVENTBRITE_RAW", "2417467656", {"events": events}, 2),
    }[adapter]
    monkeypatch.setitem(getattr(fixtures, table), key, body)
    return {r.get("event_id"): r for r in _replay([fixtures.CHAPTERS[chapter]])}


def test_convert_wrong_typed_field_reads_null(monkeypatch):
    """A field of the wrong JSON type reads null; the event's other
    fields survive."""
    rows = _replay_payload(monkeypatch, "meetup", [
        {"id": "w1", "time": "soon", "utc_offset": -14400000, "name": "Kept",
         "venue": {"city": "New York", "lon": [1]}}])
    e = rows["w1"]
    assert e["time"] is None
    assert e["utcOffset"] == -14400000 and e["title"] == "Kept"
    assert e["venue"]["city"] == "New York" and e["venue"]["lon"] is None


def test_convert_numeric_event_id_is_its_string(monkeypatch):
    """An integer id becomes its decimal string: it is the file key."""
    rows = _replay_payload(monkeypatch, "meetup", [{"id": 7, "name": "Seven"}])
    assert list(rows) == ["7"] and rows["7"]["title"] == "Seven"
    rows = _replay_payload(monkeypatch, "facebook", [{"id": 186112975332637}])
    assert rows["186112975332637"]["url"] == "https://facebook.com/186112975332637"


def test_convert_non_object_photo_empties_photos(monkeypatch):
    """A `photo_sample` element that is not an object empties the
    photos; a null element is a photo with null fields."""
    rows = _replay_payload(monkeypatch, "meetup", [
        {"id": "p1", "photo_album": {"photo_sample": [{"photo_link": "u1"}, 3]}},
        {"id": "p2", "photo_album": {"photo_sample": [None, {"photo_link": "u2"}]}}])
    assert rows["p1"]["photos"] == []
    assert [p["url"] for p in rows["p2"]["photos"]] == [None, "u2"]


def test_convert_facebook_z_time_reads_null(monkeypatch):
    """Facebook times carry a ±HHMM offset; a `Z` time has neither a
    time nor an offset."""
    rows = _replay_payload(monkeypatch, "facebook", [
        {"id": "z1", "start_time": "2018-05-15T19:00:00Z"},
        {"id": "z2", "start_time": "2018-05-15T19:00:00+0530"}])
    assert rows["z1"]["time"] is None and rows["z1"]["utcOffset"] is None
    assert rows["z2"]["time"] == 1526391000000 and rows["z2"]["utcOffset"] == 19800000


def test_convert_eventbrite_local_without_seconds(monkeypatch):
    """An Eventbrite local time without seconds parses; 01:30 on the
    2018-11-04 overlap in New York takes the earlier offset (EDT), and
    02:30 in the 2018-03-11 gap moves forward by the gap."""
    start = {"timezone": "America/New_York"}
    rows = _replay_payload(monkeypatch, "eventbrite", [
        {"id": "o1", "start": {**start, "local": "2018-11-04 01:30"}},
        {"id": "g1", "start": {**start, "local": "2018-03-11T02:30:00"}}])
    assert rows["o1"]["time"] == 1541309400000 and rows["o1"]["utcOffset"] == -14400000
    assert rows["g1"]["time"] == 1520753400000 and rows["g1"]["utcOffset"] == -18000000


def test_eventbrite_unknown_zone_reads_null(monkeypatch):
    """An unknown IANA zone (or an unparseable local time) gives that
    event null time and utcOffset; the chapter stays OK and its other
    events convert (the zone lookup used to fail the whole fetch)."""
    rows = _replay_payload(monkeypatch, "eventbrite", [
        {"id": "b1", "name": {"text": "Kept"},
         "start": {"timezone": "Bogus/Zone", "local": "2018-03-08T18:30:00"}},
        {"id": "b2", "start": {"timezone": "Europe/London", "local": "soon"}},
        {"id": "g1", "start": {"timezone": "Europe/London", "local": "2018-03-08T18:30:00"}}])
    assert {r["status"] for r in rows.values()} == {"OK"}
    assert rows["b1"]["time"] is None and rows["b1"]["utcOffset"] is None
    assert rows["b1"]["title"] == "Kept"
    assert rows["b2"]["time"] is None and rows["b2"]["utcOffset"] is None
    assert rows["g1"]["time"] == 1520533800000 and rows["g1"]["utcOffset"] == 0


def test_convert_lenient_reads(monkeypatch):
    """How the normalizers read values of another JSON type: a
    coordinate held in a string reads as its number for every adapter;
    a float, boolean, object or array in a string field reads null; an
    Eventbrite local time with a zone suffix reads null; an event whose
    id is neither a string nor an integer makes its chapter a format
    error."""
    rows = _replay_payload(monkeypatch, "meetup", [
        {"id": "m1", "name": 3.5, "description": True,
         "venue": {"lat": "40.7", "lon": " -74.0 ", "zip": {"a": 1}, "city": ["x"]}}])
    v = rows["m1"]["venue"]
    assert (v["lat"], v["lon"], v["postalCode"], v["city"]) == (40.7, -74.0, None, None)
    assert rows["m1"]["title"] is None and rows["m1"]["description"] is None
    rows = _replay_payload(monkeypatch, "facebook", [
        {"id": "f1", "place": {"location": {"latitude": "38.6", "longitude": "west"}}}])
    assert (rows["f1"]["venue"]["lat"], rows["f1"]["venue"]["lon"]) == (38.6, None)
    rows = _replay_payload(monkeypatch, "eventbrite", [
        {"id": "e1", "start": {"timezone": "UTC", "local": "2018-11-04T01:30:00Z"}}])
    assert rows["e1"]["time"] is None
    for bad_id in (1.5, True, {"x": 1}):
        rows = _replay_payload(monkeypatch, "meetup", [{"id": bad_id}])
        assert rows[None]["error"] == "Couldn't format papers-we-love into correct JSON"


def test_run_pipeline_bad_chapter_ids_and_failed_writes(spark, tmp_path):
    """A chapter id that is not a safe file name, or whose file cannot
    be written, is that chapter's ERROR row: the other chapters' files
    and log lines still appear, nothing lands outside json-out-path and
    no tmp file is left behind."""
    import json as _json

    from cuttlefish_spark.run import run_pipeline

    meetup = {"title": "NY", "dataService": {"adapter": "meetup", "id": "papers-we-love"}}
    bad = ["a/b", "../escape", "x" * 300, "..", "nul\x00"]
    doc = {cid: meetup for cid in bad + ["good", "blocked", "y" * 250]}
    path = tmp_path / "chapters.json"
    path.write_text(_json.dumps(doc))
    out = tmp_path / "out"
    (out / "blocked.json").mkdir(parents=True)  # the rename onto it fails
    audit = run_pipeline(spark, config={
        "chapter-json-file": str(path), "json-out-path": str(out),
        "logfile-path": str(tmp_path / "logs")})

    rows = {cid: (status, n) for cid, status, n, _line in audit}
    assert rows == {**{cid: ("ERROR", 2) for cid in bad + ["blocked"]},
                    "good": ("OK", 2), "y" * 250: ("OK", 2)}
    assert sorted(p.name for p in out.iterdir()) == sorted(
        ["blocked.json", "good.json", "y" * 250 + ".json"])
    assert not (tmp_path / "escape.json").exists()
    log = (tmp_path / "logs" / "cuttlefish.log").read_text().splitlines()
    assert "WROTE: good (2)" in log and "ERROR: blocked (2)" in log
    assert "ERROR: ../escape (2)" in log and len(log) == len(doc)


# Any JSON value json.loads can give: null, booleans, integers, floats
# (NaN and infinities included), strings, arrays and objects.
_JSON = st.recursive(
    st.none() | st.booleans() | st.integers() | st.floats() | st.text(max_size=20),
    lambda inner: st.lists(inner, max_size=3) | st.dictionaries(st.text(max_size=5), inner,
                                                                max_size=3),
    max_leaves=8,
)
# The values a raw event field is meant to hold, so that the typed
# branches (ids, epoch millis, decimal coordinates, offset and local
# times, IANA zones) run as well as the lenient ones.
_TEXT = st.text(max_size=20)
_ID = _TEXT | st.integers()
_MILLIS = st.integers(-(2**64), 2**64)
_COORD = st.floats() | st.floats(allow_nan=False).map(str) | st.integers().map(str) | _TEXT
_FB_TIME = st.builds(lambda d, off: d.strftime("%Y-%m-%dT%H:%M:%S") + f"{off:+05d}",
                     st.datetimes(), st.integers(-9999, 9999))
_LOCAL = st.builds(lambda d, sep, spec: d.isoformat(sep, spec), st.datetimes(),
                   st.sampled_from("T "), st.sampled_from(["auto", "minutes", "seconds"]))
_ZONE = st.sampled_from(["UTC", "Europe/London", "America/New_York", "Asia/Kolkata",
                         "Australia/Lord_Howe", "Bogus/Zone", "../etc", ""])


def _shaped(shape):
    """Values for a raw event path: three times in four what `shape`
    names (a strategy for a field, a dict for an object, a one-item
    list for an array), else any JSON value in its place."""
    if isinstance(shape, dict):
        typed = _object(shape)
    elif isinstance(shape, list):
        typed = st.lists(_shaped(shape[0]), max_size=3)
    else:
        typed = shape
    return st.integers(0, 3).flatmap(lambda i: typed if i else _JSON)


@st.composite
def _object(draw, shape: dict) -> dict:
    """A raw JSON object of `shape`, each key missing one time in five."""
    return {k: draw(_shaped(v)) for k, v in shape.items() if draw(st.integers(0, 4))}


_RAW_EVENTS = {
    "meetup": {
        "id": _ID, "link": _TEXT, "time": _MILLIS, "utc_offset": _MILLIS, "name": _TEXT,
        "description": _TEXT,
        "venue": {**dict.fromkeys(["name", "address_1", "address_2", "country", "city",
                                   "zip"], _ID), "lon": _COORD, "lat": _COORD},
        "photo_album": {"photo_sample": [{"photo_link": _TEXT}]},
    },
    "facebook": {
        "id": _ID, "name": _TEXT, "description": _TEXT, "start_time": _FB_TIME,
        "place": {"name": _TEXT, "location": {
            **dict.fromkeys(["street", "country", "city", "zip"], _ID),
            "longitude": _COORD, "latitude": _COORD}},
    },
    "eventbrite": {
        "id": _ID, "url": _TEXT, "name": {"text": _TEXT}, "description": {"text": _TEXT},
        "start": {"timezone": _ZONE, "local": _LOCAL},
        "venue": {"name": _TEXT, "latitude": _COORD, "longitude": _COORD, "address": {
            **dict.fromkeys(["address_1", "address_2", "city", "postal_code", "country"],
                            _ID),
            "latitude": _COORD, "longitude": _COORD}},
    },
}


def _str_or_none(v) -> bool:
    return v is None or type(v) is str


def _long_or_none(v) -> bool:
    return v is None or (type(v) is int and -(2**63) <= v < 2**63)


def _float_or_none(v) -> bool:
    return v is None or type(v) is float


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.sampled_from(sorted(ADAPTERS)).flatmap(
    lambda adapter: st.tuples(st.just(adapter), _object(_RAW_EVENTS[adapter]))))
def test_normalizers_give_canonical_types(adapter_event):
    """Whatever JSON an event holds in any field, its adapter's
    normalizer returns exactly the canonical keys, each value of its
    canonical type or null: strings, int64 epoch millis, float
    coordinates, and photos null or a list of {url, width, height}."""
    adapter, event = adapter_event
    rec = ADAPTERS[adapter](event)
    assert set(rec) == CANONICAL_KEYS - {"chapter_id"}
    for k in ("event_id", "url", "title", "description"):
        assert _str_or_none(rec[k]), (k, rec[k])
    assert _long_or_none(rec["time"]) and _long_or_none(rec["utcOffset"])
    venue = rec["venue"]
    assert set(venue) == VENUE_KEYS
    for k in VENUE_KEYS - {"lon", "lat"}:
        assert _str_or_none(venue[k]), (k, venue[k])
    assert _float_or_none(venue["lon"]) and _float_or_none(venue["lat"])
    photos = rec["photos"]
    assert photos is None or type(photos) is list
    for photo in photos or []:
        assert set(photo) == {"url", "width", "height"}
        assert _str_or_none(photo["url"])
        assert _long_or_none(photo["width"]) and _long_or_none(photo["height"])
