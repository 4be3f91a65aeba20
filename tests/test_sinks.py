"""Keyed JSON sink parity tests (api-runner.rkt:39-52: one {id}.json
per chapter, events keyed by event id, replace mode)."""

from __future__ import annotations

import json
import os

from cuttlefish_spark.sinks.json_sink import write_keyed_json, write_partitioned_json
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


def test_write_partitioned_json(spark, tmp_path):
    out = str(tmp_path / "part")
    df = dispatch_replay(spark).filter("status = 'OK'")
    write_partitioned_json(df.select("chapter_id", "event_id", "time"), out)
    dirs = {d for d in os.listdir(out) if d.startswith("chapter_id=")}
    assert dirs == {"chapter_id=london", "chapter_id=newyork", "chapter_id=stlouis"}


def test_stream_to_keyed_json(spark, sf_dir, tmp_path):
    """Streaming pipeline -> per-key {key}.json files via foreachBatch:
    the streaming twin of the reference's replace-mode sink."""
    import json
    import shutil

    from cuttlefish_spark.sinks.json_sink import stream_to_keyed_json
    from cuttlefish_spark.streaming.pipeline import read_events_stream

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-000.parquet")

    stream = read_events_stream(spark, str(src)).selectExpr(
        "event_type AS chapter_id", "event_id", "user_id", "value"
    )
    q = stream_to_keyed_json(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    files = sorted(p.name for p in (tmp_path / "out").glob("*.json"))
    assert files == ["click.json", "error.json", "purchase.json",
                     "signup.json", "view.json"]
    with open(tmp_path / "out" / "click.json") as fh:
        clicks = json.load(fh)
    assert len(clicks) > 0 and all("user_id" in v for v in clicks.values())


def test_write_json_with_audit(spark, tmp_path):
    """observe() audit: counters collected during the write job itself
    (no second scan) match the data."""
    from cuttlefish_spark.sinks.json_sink import write_json_with_audit
    from cuttlefish_spark.sources.adapters import dispatch_replay

    out = dispatch_replay(spark)
    metrics = write_json_with_audit(out, str(tmp_path / "audited"))
    assert metrics["n_rows"] == 8
    assert metrics["n_ok"] == 7
    assert metrics["n_error"] == 1


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    """200 tiny files -> the planned file count, same rows."""
    from cuttlefish_spark.io import load_table
    from cuttlefish_spark.sinks.compact import (
        compact_parquet,
        parquet_bytes,
        plan_target_files,
    )

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(200).write.parquet(src)
    n_small = len(list((tmp_path / "fragmented").glob("*.parquet")))
    assert n_small >= 150  # genuinely fragmented input

    written = compact_parquet(spark, src, dst, target_file_mb=128)
    n_files = len(list((tmp_path / "compacted").glob("*.parquet")))
    assert written == plan_target_files(parquet_bytes(src), 128)
    assert n_files == written < n_small
    assert spark.read.parquet(dst).count() == ev.count()


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
