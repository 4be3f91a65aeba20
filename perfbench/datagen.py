"""Seeded input generation for the benchmark.

Two kinds of input:

- The parquet tables the workloads read (`customer`, `orders`,
  `lineitem`, `events`, `documents`, `embeddings`), at the row counts,
  schemas and value distributions of the engine's sf0.1 test data
  (TESTDATA.md), which the engine was tuned on. `scripts/scale_stress.py`
  (`generate`, `generate_tpch`) mirrors the same data at larger scales;
  the recipes below follow its profile, and each marginal was checked
  against the sf0.1 tables with DuckDB. Where the two differ (the
  planted near-duplicates, `l_extendedprice`), the sf0.1 tables win:

  - TPC-H: keys serial from 0, foreign keys uniform, day-aligned dates
    uniform over 1995-01-01..2001-08-01, `l_shipdate` not correlated
    with `o_orderdate` (offsets span -2399..+2496 days at sf0.1),
    `l_extendedprice` uniform on 900..105000 and independent of
    `l_quantity` (correlation 0.001).
  - `events`: `ts` ascending with `event_id`, uniform over 30 days of
    January 2024; 1,500 users; five equally likely event types;
    `value` exponential with mean 50.
  - `documents`: 10-99 tokens over a 30-word vocabulary; 5% of the
    documents are a random document plus the token `dup` (250 of the
    5,000 sf0.1 documents end in ` dup`) and 0.16% are exact copies
    (8 pairs at sf0.1); languages at the observed mix; sources
    `src0..src19` round-robin.
  - `embeddings`: 64-dim unit vectors (normalised standard normals,
    per-dimension std 0.125), labels uniform over 0..9.

  They come from a fixed table seed, so the expected result hashes in
  `expected.json` stay valid for every `--seed`; `--seed` picks the op
  order.
- The chapter work-lists of `etl_fanout`, generated from `--seed`: the
  adapter mix, the unknown-adapter share and the unknown-service
  (HTTP 404) share all come from the seed.

Everything here is pure numpy/pyarrow and runs before Spark starts.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
# Rows at scale 1.0; the benchmark scale multiplies every table.
BASE_ROWS = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
# Bump when the generated tables change, so a stale cache is rebuilt.
DATA_VERSION = 2

# The sf0.1 documents' vocabulary, less the planted `dup` token.
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.412, 0.151, 0.149, 0.148, 0.140])
_NEAR_DUP_SHARE = 0.05
_EXACT_DUP_SHARE = 0.0016
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs
_ORDER_DAYS = 2405  # 1995-01-01..2001-08-01 inclusive


def _rows(name: str, scale: float) -> int:
    return max(1, int(BASE_ROWS[name] * scale))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(scale: float) -> dict[str, pa.Table]:
    """Every table the workloads read, deterministic in TABLE_SEED."""
    rng = np.random.default_rng(TABLE_SEED)
    t: dict[str, pa.Table] = {}
    n_cust = _rows("customer", scale)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000.0, 10000.0, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    n_ord = _rows("orders", scale)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, _ORDER_DAYS, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    n_li = _rows("lineitem", scale)
    # A ship date is 1-95 days after some order's date, not its own.
    ship_days = rng.integers(0, _ORDER_DAYS, n_li) + rng.integers(1, 96, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, max(1, int(200_000 * scale)), n_li),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * scale)), n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995 + ship_days * _DAY_US),
    })
    n_ev = _rows("events", scale)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, _rows("documents", scale))
    n_emb = _rows("embeddings", scale)
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents with planted near-duplicates (a random
    document plus the token `dup`) and exact copies, at the sf0.1
    rates."""
    n_tokens = rng.integers(10, 100, n)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(n_tokens.sum()))]
    texts, pos = [], 0
    for k in n_tokens:
        texts.append(" ".join(words[pos:pos + k].tolist()))
        pos += k
    n_near, n_exact = int(n * _NEAR_DUP_SHARE), int(n * _EXACT_DUP_SHARE)
    targets = rng.choice(n, n_near + n_exact, replace=False)
    sources = rng.integers(0, n, n_near + n_exact)
    for i, (dst, src) in enumerate(zip(targets, sources)):
        texts[dst] = texts[src] + " dup" if i < n_near else texts[src]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS[0], n, p=_LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def ensure_tables(data_dir: str, scale: float) -> str:
    """Write the tables under `data_dir` once; later calls reuse them.
    Returns the directory holding `<table>.parquet`."""
    out = os.path.join(data_dir, f"v{DATA_VERSION}-scale{scale:g}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables(scale).items():
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write("ok\n")
    return out


# --- etl_fanout work-lists -------------------------------------------

# The three golden proto chapters of sources.fixtures, by adapter.
PROTOS = {
    "meetup": ("newyork", "New York", "papers-we-love", None),
    "facebook": ("stlouis", "St. Louis", "1776622612568197", None),
    "eventbrite": ("london", "London", "papers-we-love-london", "2417467656"),
}


def etl_mix(seed: int) -> dict[str, float]:
    """The seeded work-list mix: adapter weights plus the shares of
    unknown-adapter and unknown-service (404) chapters."""
    rng = random.Random(f"etl-mix-{seed}")
    w = [rng.uniform(0.8, 1.2) for _ in PROTOS]
    total = sum(w)
    mix = {a: x / total for a, x in zip(PROTOS, w)}
    mix["unknown_share"] = rng.uniform(0.03, 0.07)
    mix["missing_share"] = rng.uniform(0.03, 0.07)
    return mix


def etl_worklist(seed: int, n: int) -> list[dict]:
    """The `n` chapter rows of a run seeded `seed`. Each row names its
    kind: an adapter proto (expected OK), `unknown` (no adapter) or
    `missing` (a known adapter asked for a service the replay lacks)."""
    mix = etl_mix(seed)
    rng = random.Random(f"etl-list-{seed}")
    adapters = list(PROTOS)
    weights = [mix[a] for a in adapters]
    rows = []
    for i in range(n):
        cid = f"s{seed}c{i:05d}"
        r = rng.random()
        adapter = rng.choices(adapters, weights)[0]
        proto_id, title, sid, org = PROTOS[adapter]
        if r < mix["unknown_share"]:
            rows.append({"id": cid, "kind": "unknown", "title": title,
                         "adapter": "carrierpigeon", "service": f"deep-six-{i}", "org": None})
        elif r < mix["unknown_share"] + mix["missing_share"]:
            rows.append({"id": cid, "kind": "missing", "title": title, "adapter": adapter,
                         "service": f"gone-{i}", "org": f"gone-{i}" if org else None})
        else:
            rows.append({"id": cid, "kind": proto_id, "title": title, "adapter": adapter,
                         "service": sid, "org": org})
    return rows


def write_worklist(rows: list[dict], path: str) -> None:
    """chapters.json in the reference's config-table format."""
    doc = {}
    for r in rows:
        ds = {"adapter": r["adapter"], "id": r["service"]}
        if r["org"] is not None:
            ds["organization"] = r["org"]
        doc[r["id"]] = {"title": r["title"], "dataService": ds}
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
