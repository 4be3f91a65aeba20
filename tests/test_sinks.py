"""Keyed JSON sink parity tests (api-runner.rkt:39-52: one {id}.json
per chapter, events keyed by event id, replace mode)."""

from __future__ import annotations

import json
import os

from cuttlefish_spark.sinks.json_sink import write_keyed_json
from cuttlefish_spark.sources.adapters import dispatch_replay


def test_write_keyed_json_one_file_per_key(spark, tmp_path):
    out = str(tmp_path / "keyed")
    df = dispatch_replay(spark).filter("status = 'OK'")
    write_keyed_json(df, out)
    files = sorted(os.listdir(out))
    assert files == ["london.json", "newyork.json", "stlouis.json"]
    ny = json.load(open(f"{out}/newyork.json"))
    assert set(ny) == {"zvbxrpl2", "qxw9yzl3"}  # keyed by event_id
    assert ny["zvbxrpl2"]["venue"]["postalCode"] == "10013"


def test_write_keyed_json_replace_mode(spark, tmp_path):
    """Re-running replaces outputs (reference overwrite semantics,
    api-runner.rkt:50-51)."""
    out = str(tmp_path / "keyed2")
    df = dispatch_replay(spark).filter("status = 'OK'")
    write_keyed_json(df, out)
    first = os.path.getmtime(f"{out}/london.json")
    write_keyed_json(df, out)
    assert os.path.getmtime(f"{out}/london.json") >= first
    assert len(json.load(open(f"{out}/london.json"))) == 3


def test_write_keyed_json_key_spread_over_partitions(spark, tmp_path):
    """A key whose rows arrive in every one of 16 round-robin input
    partitions is still written once, with all its events, and the
    returned per-key row counts are right."""
    rows = [("k0", f"e{i}", i) for i in range(64)] + [("k1", "only", 0)]
    df = (
        spark.createDataFrame(rows, "chapter_id string, event_id string, v long")
        .coalesce(1)
        .repartition(16)
    )
    spread = [p for p in df.rdd.glom().collect() if any(r.chapter_id == "k0" for r in p)]
    assert len(spread) == 16

    out = str(tmp_path / "spread")
    counts = write_keyed_json(df, out)
    assert counts == {"k0": 64, "k1": 1}
    assert sorted(os.listdir(out)) == ["k0.json", "k1.json"]  # no tmp left
    k0 = json.loads((tmp_path / "spread" / "k0.json").read_text())
    assert k0 == {f"e{i}": {"event_id": f"e{i}", "v": i} for i in range(64)}


def test_write_keyed_json_counts_events_in_file(spark, tmp_path):
    """A repeated event id is written once into its key's file, so the
    returned WROTE: count is the number of events in the file, not the
    number of rows."""
    rows = [("c1", "e1", 1), ("c1", "e1", 1), ("c1", "e2", 2)]
    df = spark.createDataFrame(rows, "chapter_id string, event_id string, v long")
    out = tmp_path / "dup"
    counts = write_keyed_json(df, str(out))
    events = json.loads((out / "c1.json").read_text())
    assert sorted(events) == ["e1", "e2"]
    assert counts == {"c1": 2}
