"""Regenerate `expected.json`: the result hash of every query the
benchmark runs, over the benchmark's generated tables.

    python3 perfbench/make_expected.py

Each hash comes from the query's DuckDB oracle SQL and is kept only if
the engine's own result (collected the way `run.py` collects it) hashes
the same. Rerun after changing `datagen.py`, `run.SCALE` or the op
lists in `workloads.py`.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def oracle_hash(sql: str, data_dir: str) -> tuple[str, int]:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS "
                            f"SELECT * FROM read_parquet('{data_dir}/{f}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return checks.rows_hash(cols, cur.fetchall())
    finally:
        con.close()


def main() -> int:
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    os.chdir(work)
    run.pin_env(work)
    data_dir = datagen.ensure_tables(os.path.join(HERE, ".data"), run.SCALE)
    sys.path.insert(0, run.ROOT)
    from cuttlefish_spark.io import clear_memos
    from cuttlefish_spark.registry import load_all
    from cuttlefish_spark.session import get_spark

    spark = get_spark("perfbench-expected", extra_conf=run.spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    out, bad = {}, []
    try:
        for wl in workloads.WORKLOADS:
            clear_memos()
            for name in workloads.query_names(wl):
                want = oracle_hash(specs[name].oracle, data_dir)
                got = checks.arrow_hash(specs[name].fn(spark, data_dir).toArrow())
                status = "ok" if got == want else f"MISMATCH engine={got} oracle={want}"
                print(f"{name}: rows={want[1]} {status}", flush=True)
                if got == want:
                    out[name] = {"hash": want[0], "rows": want[1]}
                else:
                    bad.append(name)
    finally:
        spark.stop()
    with open(checks.EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump({"scale": run.SCALE, "data_version": datagen.DATA_VERSION,
                   "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if bad:
        print(f"no expected hash for: {bad}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
