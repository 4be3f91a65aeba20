"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

- A perturbed output (one flipped cell, one missing `{id}.json`) is
  reported as a failed op.
- The same seed gives byte-identical inputs and op order; another seed
  changes them.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import checks  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402


# --- query output checks ---------------------------------------------

def _table():
    return pa.table({"k": ["a", "b", "c"], "v": [1.5, 2.25, None], "n": [1, 2, 3]})


def _expected_for(table) -> dict:
    h, rows = checks.arrow_hash(table)
    return {"queries": {"q": {"hash": h, "rows": rows}}}


def test_query_check_accepts_reordered_rows_and_columns():
    t = _table()
    shuffled = t.select(["n", "k", "v"]).take([2, 0, 1])
    assert checks.check_query(_expected_for(t), "q", shuffled) is None


def test_query_check_flags_one_flipped_cell():
    t = _table()
    flipped = t.set_column(1, "v", pa.array([1.5, 2.26, None]))
    assert checks.check_query(_expected_for(t), "q", flipped) is not None


def test_query_check_flags_a_missing_row():
    t = _table()
    assert checks.check_query(_expected_for(t), "q", t.slice(0, 2)) is not None


def test_query_check_flags_an_unknown_query():
    assert checks.check_query({"queries": {}}, "q", _table()) is not None


# --- etl_fanout output checks ----------------------------------------

@pytest.fixture(scope="module")
def golden():
    return checks.golden_events()


def _write_expected_outputs(rows, golden, out_dir, log_dir):
    """What a correct run_pipeline leaves behind for `rows`."""
    os.makedirs(out_dir)
    os.makedirs(log_dir)
    lines = []
    for r in rows:
        events = golden.get(r["kind"])
        if events is None:
            lines.append(f"ERROR: {r['id']} (1)")
            continue
        with open(os.path.join(out_dir, f"{r['id']}.json"), "w", encoding="utf-8") as fh:
            json.dump(events, fh, sort_keys=True, default=str)
        lines.append(f"WROTE: {r['id']} ({len(events)})")
    with open(os.path.join(log_dir, "cuttlefish.log"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(sorted(lines)) + "\n")


@pytest.fixture()
def etl_run(tmp_path, golden):
    rows = datagen.etl_worklist(seed=3, n=200)
    out_dir, log_dir = str(tmp_path / "out"), str(tmp_path / "logs")
    _write_expected_outputs(rows, golden, out_dir, log_dir)
    return rows, out_dir, log_dir


def test_worklist_has_every_kind(etl_run, golden):
    rows, _, _ = etl_run
    kinds = {r["kind"] for r in rows}
    assert set(golden) <= kinds and {"unknown", "missing"} <= kinds


def test_etl_check_accepts_correct_outputs(etl_run, golden):
    rows, out_dir, log_dir = etl_run
    assert checks.check_etl(rows, golden, out_dir, log_dir) is None


def test_etl_check_flags_a_missing_file(etl_run, golden):
    rows, out_dir, log_dir = etl_run
    victim = next(r["id"] for r in rows if r["kind"] in golden)
    os.remove(os.path.join(out_dir, f"{victim}.json"))
    assert checks.check_etl(rows, golden, out_dir, log_dir) is not None


def test_etl_check_flags_one_flipped_cell(etl_run, golden):
    rows, out_dir, log_dir = etl_run
    victim = next(r["id"] for r in rows if r["kind"] in golden)
    path = os.path.join(out_dir, f"{victim}.json")
    with open(path, encoding="utf-8") as fh:
        events = json.load(fh)
    eid = sorted(events)[0]
    events[eid]["title"] = events[eid]["title"] + "!"
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(events, fh)
    assert checks.check_etl(rows, golden, out_dir, log_dir) is not None


def test_etl_check_flags_a_wrong_audit_line(etl_run, golden):
    rows, out_dir, log_dir = etl_run
    log = os.path.join(log_dir, "cuttlefish.log")
    with open(log, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    lines[0] = lines[0].replace("WROTE:", "ERROR:") if "WROTE:" in lines[0] \
        else lines[0].replace("ERROR:", "WROTE:")
    with open(log, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    assert checks.check_etl(rows, golden, out_dir, log_dir) is not None


# --- seeds -----------------------------------------------------------

def _worklist_bytes(tmp_path, seed: int, name: str) -> bytes:
    path = str(tmp_path / name)
    datagen.write_worklist(datagen.etl_worklist(seed, 500), path)
    with open(path, "rb") as fh:
        return fh.read()


def test_same_seed_same_worklist_bytes(tmp_path):
    assert _worklist_bytes(tmp_path, 7, "a.json") == _worklist_bytes(tmp_path, 7, "b.json")


def test_other_seed_other_worklist(tmp_path):
    assert _worklist_bytes(tmp_path, 7, "a.json") != _worklist_bytes(tmp_path, 8, "b.json")
    assert datagen.etl_mix(7) != datagen.etl_mix(8)


def test_op_order_follows_the_seed():
    same = workloads.run_order("query_mix", 7)
    assert same == workloads.run_order("query_mix", 7)
    assert any(workloads.run_order("query_mix", s) != same for s in (8, 9, 10))
    assert sorted(same) == sorted(workloads.query_names("query_mix"))


def test_query_mix_keeps_family_order():
    order = workloads.run_order("query_mix", 7)
    fams = [next(i for i, f in enumerate(workloads.QUERY_FAMILIES) if n in f) for n in order]
    assert fams == sorted(fams)


def test_tables_do_not_depend_on_the_seed():
    """The expected hashes hold for every seed because the tables come
    from a fixed table seed."""
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert all(a[k].equals(b[k]) for k in a)


def test_documents_follow_the_sf01_profile():
    """Planted duplicates, lengths and vocabulary as datagen.py states."""
    docs = datagen.build_tables(0.1)["documents"].column("text").to_pylist()
    near = sum(t.endswith(" dup") for t in docs) / len(docs)
    assert 0.045 <= near <= 0.06
    exact = len(docs) - len(set(docs))
    assert 0.0016 * len(docs) <= exact <= 0.004 * len(docs)
    base = [t for t in docs if not t.endswith(" dup")]
    assert {len(t.split()) for t in base} <= set(range(10, 100))
    assert {w for t in docs for w in t.split()} == set(datagen._WORDS) | {"dup"}


def test_expected_hashes_are_the_queries_the_workloads_run():
    names = {n for w in workloads.WORKLOADS for n in workloads.query_names(w)}
    assert names == set(checks.load_expected()["queries"])
