"""Keyed JSON sink parity tests (api-runner.rkt:39-52: one {id}.json
per chapter, events keyed by event id, replace mode)."""

from __future__ import annotations

import json
import os

from cuttlefish_spark.sinks.json_sink import write_keyed_json
from cuttlefish_spark.sources import fixtures
from cuttlefish_spark.sources.datasource import _fetch_rows


def _records(df):
    """The frame's rows as the dicts write_keyed_json takes."""
    return df.rdd.map(lambda r: r.asDict(recursive=True))


def _ok_fixture_records(spark):
    """The golden fixture work-list's OK rows (canonical records) in
    one partition."""
    rows = [r for r in _fetch_rows(fixtures.CHAPTERS, "replay", None) if r["status"] == "OK"]
    return spark.sparkContext.parallelize(rows, 1)


def test_write_keyed_json_one_file_per_key(spark, tmp_path):
    out = str(tmp_path / "keyed")
    write_keyed_json(_ok_fixture_records(spark), out)
    files = sorted(os.listdir(out))
    assert files == ["london.json", "newyork.json", "stlouis.json"]
    ny = json.load(open(f"{out}/newyork.json"))
    assert set(ny) == {"zvbxrpl2", "qxw9yzl3"}  # keyed by event_id
    assert ny["zvbxrpl2"]["venue"]["postalCode"] == "10013"


def test_write_keyed_json_replace_mode(spark, tmp_path):
    """Re-running replaces outputs (reference overwrite semantics,
    api-runner.rkt:50-51)."""
    out = str(tmp_path / "keyed2")
    records = _ok_fixture_records(spark)
    write_keyed_json(records, out)
    first = os.path.getmtime(f"{out}/london.json")
    write_keyed_json(records, out)
    assert os.path.getmtime(f"{out}/london.json") >= first
    assert len(json.load(open(f"{out}/london.json"))) == 3


def _spread_frame(spark):
    """Key k0's rows in every one of 4 round-robin partitions; k1 in one."""
    rows = [("k0", f"e{i}", "OK", None) for i in range(16)] + [("k1", "only", "OK", None)]
    schema = "chapter_id string, event_id string, status string, error string"
    df = spark.createDataFrame(rows, schema).coalesce(1).repartition(4)
    spread = [p for p in df.rdd.glom().collect() if any(r.chapter_id == "k0" for r in p)]
    assert len(spread) == 4
    return df


def test_write_keyed_json_key_spread_over_partitions_raises(spark, tmp_path, monkeypatch):
    """The sink writes each partition's keys where they sit, so a key
    whose rows arrive from several partitions is an error naming that
    key, and run_pipeline appends no audit for the run."""
    import pytest

    import cuttlefish_spark.operators.ingest as ingest
    from cuttlefish_spark.run import run_pipeline

    with pytest.raises(ValueError, match="k0") as err:
        write_keyed_json(_records(_spread_frame(spark)), str(tmp_path / "spread"))
    assert "k1" not in str(err.value)

    chapters = tmp_path / "chapters.json"
    chapters.write_text("{}")
    monkeypatch.setattr(ingest, "fetch_records",
                        lambda spark, **kw: _records(_spread_frame(spark)))
    with pytest.raises(ValueError, match="k0"):
        run_pipeline(spark, config={
            "chapter-json-file": str(chapters), "json-out-path": str(tmp_path / "out"),
            "logfile-path": str(tmp_path / "logs")})
    assert not (tmp_path / "logs" / "cuttlefish.log").exists()


def test_write_keyed_json_returns_audit_per_key(spark, tmp_path):
    """One (key, status, n, error) per key from the write job: OK keys
    count the events in their file, ERROR keys their rows, and only OK
    keys get a file."""
    rows = [("a", "e1", "OK", None), ("a", "e2", "OK", None),
            ("b", None, "ERROR", "Couldn't fetch b: 404")]
    df = spark.createDataFrame(
        rows, "chapter_id string, event_id string, status string, error string"
    ).coalesce(1)
    out = tmp_path / "audit"
    assert sorted(write_keyed_json(_records(df), str(out))) == [
        ("a", "OK", 2, None), ("b", "ERROR", 1, "Couldn't fetch b: 404")]
    assert sorted(os.listdir(out)) == ["a.json"]
    assert json.loads((out / "a.json").read_text()) == {
        "e1": {"event_id": "e1"}, "e2": {"event_id": "e2"}}


def test_write_keyed_json_counts_events_in_file(spark, tmp_path):
    """A repeated event id is written once into its key's file, so the
    returned WROTE: count is the number of events in the file, not the
    number of rows."""
    rows = [("c1", "e1", 1), ("c1", "e1", 1), ("c1", "e2", 2)]
    df = spark.createDataFrame(
        [r + ("OK", None) for r in rows],
        "chapter_id string, event_id string, v long, status string, error string",
    ).coalesce(1)
    out = tmp_path / "dup"
    counts = write_keyed_json(_records(df), str(out))
    events = json.loads((out / "c1.json").read_text())
    assert sorted(events) == ["e1", "e2"]
    assert counts == [("c1", "OK", 2, None)]


def _next_stage_dirs(spark, out, n=64):
    """The staging directories in `out` of this SparkContext's next `n`
    task attempts: attempt ids only grow, so they follow the id of a
    one-task job run now."""
    from pyspark import TaskContext

    last = spark.sparkContext.parallelize([0], 1).map(
        lambda _: TaskContext.get().taskAttemptId()).collect()[0]
    return [out / f".{last + i}.tmp" for i in range(1, n + 1)]


def test_write_keyed_json_unstageable_partition_is_error_tuples(spark, tmp_path):
    """A task whose staging directory cannot be created (here a file
    holds its name) turns each of its OK keys into that key's ERROR
    tuple and writes no file; the job does not fail."""
    rows = [("a", "e1", "OK", None), ("a", "e2", "OK", None),
            ("b", None, "ERROR", "Couldn't fetch b: 404")]
    df = spark.createDataFrame(
        rows, "chapter_id string, event_id string, status string, error string"
    ).coalesce(1)
    out = tmp_path / "unstaged"
    out.mkdir()
    blockers = _next_stage_dirs(spark, out)
    for path in blockers:
        path.write_text("not a directory")
    (a, b) = sorted(write_keyed_json(_records(df), str(out)))
    assert a[:3] == ("a", "ERROR", 2)
    assert a[3].startswith("Couldn't write 'a': [Errno 17] File exists")
    assert b == ("b", "ERROR", 1, "Couldn't fetch b: 404")
    assert sorted(out.iterdir()) == sorted(blockers)


def test_write_keyed_json_stale_staging_dir_does_not_change_files(spark, tmp_path):
    """A staging directory left by a killed attempt, holding a torn tmp
    file under the tmp name and a stray file, does not change the files
    a new attempt with the same id writes; the new attempt removes it."""
    records = _ok_fixture_records(spark)
    fresh = tmp_path / "fresh"
    want = write_keyed_json(records, str(fresh))
    out = tmp_path / "stale"
    stale = _next_stage_dirs(spark, out)
    for stage in stale:
        stage.mkdir(parents=True)
        (stage / "chapter.json.tmp").write_text('{"torn": ')
        (stage / "stray").write_text("x")
    assert write_keyed_json(records, str(out)) == want
    files = sorted(p.name for p in fresh.iterdir())
    assert files == ["london.json", "newyork.json", "stlouis.json"]
    assert sorted(p.name for p in out.iterdir() if p.suffix == ".json") == files
    for name in files:
        assert (out / name).read_bytes() == (fresh / name).read_bytes()
    assert sum(stage.exists() for stage in stale) == len(stale) - 1
