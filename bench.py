"""Benchmark harness: run every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query executes fully (noop sink — forces every row through the
whole plan without collect/driver materialization, the honest way to
time a distributed plan). A warmup query runs first so JVM/codegen
startup isn't attributed to the first timed query.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from cuttlefish_spark.io import load_table  # noqa: E402
from cuttlefish_spark.registry import load_all  # noqa: E402
from cuttlefish_spark.session import get_spark  # noqa: E402


def main() -> None:
    # --median3 [names...]: noise-diagnosis mode — run each named query
    # (default: all) THREE times and report the median instead of
    # min-of-2, the statistic to quote when adjudicating whether a
    # cross-round per-query swing is host noise or a plan regression
    # (min-of-2 still absorbs one slow run; median-of-3 needs two).
    # --record: the round-close full run (r9 VERDICT item 7) — three
    # runs per query, `queries` stays min-of-first-2 (the statistic
    # every prior BASELINE row uses, so cross-round totals compare),
    # and BENCH_FULL.json additionally carries queries_median3 +
    # queries_hostnorm_median3, the numbers BASELINE rows quote.
    argv = sys.argv[1:]
    median3 = "--median3" in argv
    record = "--record" in argv
    # --record --round N additionally snapshots BENCH_FULL.json as
    # BENCH_FULL_r{N}.json and git-stages both (r11 VERDICT item 1:
    # round-close scripts stage their own outputs).
    record_round = None
    if "--round" in argv:
        i = argv.index("--round")
        try:
            record_round = int(argv[i + 1])
        except (IndexError, ValueError):
            sys.exit("usage: bench.py --record --round N")
        argv = argv[:i] + argv[i + 2 :]
    only = [a for a in argv if not a.startswith("--")]
    if record and (median3 or only):
        sys.exit("--record is the full-set round-close mode; no names/--median3")
    if record_round is not None and not record:
        sys.exit("--round only applies to --record runs")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("cuttlefish-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    unknown = [n for n in only if n not in specs]
    if unknown:
        sys.exit(f"unknown query names (typo?): {unknown}")

    # Warmup: JVM/codegen, parquet footers, AND the Python-UDF worker
    # pool — at production scale these per-session fixed costs amortize
    # to nothing, so excluding them from per-query numbers is the
    # honest steady-state measurement.
    from pyspark.sql import functions as F

    from cuttlefish_spark.functions.markdown import markdown_to_html

    load_table(spark, sf_dir, "lineitem").count()
    # One tiny shuffle so scheduler/AQE/exchange machinery also warms
    # up here rather than inside the first timed query.
    (
        load_table(spark, sf_dir, "events")
        .limit(4096)
        .groupBy("event_type")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # Repartition to default parallelism so ONE worker per core spawns
    # here — a single-partition warmup leaves the other ~31 Python
    # workers to spawn inside the first timed UDF query (~100 ms each).
    (
        load_table(spark, sf_dir, "documents")
        .limit(256)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(markdown_to_html(F.col("text")).alias("h"),
                F.size(F.split(F.col("text"), r"\s+")).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )

    # Each query runs TWICE; reported time is the min. Run 1 includes
    # one-time costs that amortize to zero in production (whole-stage
    # codegen compilation, broadcast warmup) plus any transient host
    # contention; the min is the steady-state plan cost the 100 TB
    # design actually pays per-query. The first-run total is still
    # reported as cold_total_sec for the record.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    medians: dict[str, float] = {}
    names = [n for n in sorted(specs) if not only or n in only]
    n_runs = 3 if (median3 or record) else 2
    from cuttlefish_spark.io import clear_memos, memos_active

    memo_built: dict[str, bool] = {}
    # Per-query host-speed probe (r14): this host's co-tenant load
    # swings the end-of-run host_ref_sec 0.15-4.0 within minutes, so a
    # single reference cannot adjudicate per-query readings. One tiny
    # pure-CPU probe RIGHT AFTER each query (untimed region) records
    # the host speed at that moment; BENCH_FULL.json carries the map
    # (queries_ref) so per-query normalization is possible offline.
    # ~0.1-0.5 s per query — outside every timed region.
    ref_probe: dict[str, float] = {}

    def _probe() -> float:
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id % 7)").collect()
        return round(time.perf_counter() - t0, 4)

    for name in names:
        runs = []
        for run_i in range(n_runs):
            # Per-run hygiene, ALL outside the timed region, so every
            # reading is the query's self-contained plan cost:
            # 1. Memo eviction (r13 VERDICT item 2): the derived-model
            #    family memos (signature tables, trained weights, kNN
            #    graphs) previously survived across queries AND across a
            #    query's own two runs, so min-of-2 reported cache-read
            #    times (0.02-0.08 s) for queries whose build had been
            #    paid by an alphabetically-earlier family member. Every
            #    registered memo is evicted before EVERY run; family
            #    sharing remains the production design (run.py sessions
            #    keep their memos), but the bench now charges each query
            #    its full build.
            clear_memos()
            # 2. Cache hygiene: internally-persisted signature tables
            #    must not leak eviction churn into a neighbour's timing.
            spark.catalog.clearCache()
            # 3. Checkpoint-block hygiene (r13, measured): clearCache()
            #    does NOT free localCheckpoint RDD blocks — they are
            #    cleaned by ContextCleaner only once the JVM garbage-
            #    collects the RDD object, and Spark's periodic-GC
            #    default is 30 MINUTES. Over a 259-query sweep leaked
            #    MEMORY_AND_DISK blocks poisoned queries by alphabetical
            #    position (markdown_html 19.3 s in-sweep vs 1.3 s
            #    isolated before the fix). A Python gc pass releases the
            #    py4j refs of dropped plans/memos, one System.gc() lets
            #    ContextCleaner reclaim the blocks.
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            # Memo-building queries (r14, the second half of r13 VERDICT
            # item 2 — its sanctioned alternative "report cold[name] for
            # memo-building queries"): if this run populated a session
            # memo, the timed region ALREADY contains the query's full
            # derived-model build, so run 1 IS the self-contained
            # build+plan cost. A second evicted run would just rebuild
            # the identical model to take min(build+plan, build+plan) —
            # doubling the sweep's wall-clock (and the 8-core sweep's,
            # which the driver also times) for no information. Plain
            # mode therefore reports these queries by their cold run and
            # skips the redundant rebuild; min-of-2 stays the statistic
            # for every non-memo query. --median3/--record keep all
            # runs (each evicted, so each is a self-contained build) —
            # the median of builds is still a consistent statistic.
            memo_built[name] = memos_active()
            if memo_built[name] and run_i == 0 and not (median3 or record):
                break
        cold[name] = round(runs[0], 3)
        if n_runs == 3 and len(runs) == 3:
            medians[name] = round(sorted(runs)[1], 3)
        timings[name] = round(
            sorted(runs)[len(runs) // 2] if median3 else min(runs[:2]), 3
        )
        ref_probe[name] = _probe()

    # Host-speed reference: a fixed pure-CPU JVM aggregation (no IO, no
    # Python, no shuffle) whose cost depends ONLY on available cycles.
    # Cross-round per-query swings divide by this to separate "the host
    # is slower/busier today" from "the plan regressed" (r7's 0.5-6x
    # same-code swings were unadjudicable without it).
    ref_runs = []
    for _ in range(2):  # min-of-2: one co-tenant spike can't skew the reference
        t0 = time.perf_counter()
        spark.range(500_000_000).selectExpr("sum(id % 7)").collect()
        ref_runs.append(time.perf_counter() - t0)
    host_ref = round(min(ref_runs), 3)

    # Reference-parity microbenchmark (BASELINE.md): the Layer-A
    # normalize-and-account pipeline over `events`, reported as rows/s.
    # The reference sustains ~5 keyed-groups/s network-bound
    # (README.md:66-72 of the reference repo). It serves only the
    # full-run record — skipped in subset / --median3 diagnostic runs.
    normalize_rps = None
    if not only and not median3:
        ev_rows = load_table(spark, sf_dir, "events").count()
        t0 = time.perf_counter()
        specs["keyed_output_counts"].fn(spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        normalize_rps = round(ev_rows / (time.perf_counter() - t0), 1)

    total = round(sum(timings.values()), 3)
    # Fixed-cost accounting (r11 VERDICT item 6): the streaming family
    # pays per-query micro-batch/state-store machinery, not plan cost —
    # report it as its own line so the ANALYTIC per-query trend stays
    # readable across rounds.
    streaming_sec = round(
        sum(t for n, t in timings.items() if n.startswith("streaming_")), 3
    )
    analytic = {n: t for n, t in timings.items() if not n.startswith("streaming_")}
    analytic_sec = round(sum(analytic.values()), 3)
    n_analytic = len(analytic)
    # Host-normalized units (r8 VERDICT item 5, applied automatically):
    # each query's steady time in multiples of host_ref_sec. Cross-round
    # comparisons quote THESE — a query whose hostnorm ratio is stable
    # while its wall-clock doubled ran on a slower/busier host, not a
    # regressed plan.
    hostnorm = {n: round(t / host_ref, 2) for n, t in timings.items()}
    out = {
        "metric": "queryset_wall_clock_median3" if median3 else "queryset_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total_sec": round(sum(cold.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **(
            {"normalize_events_rows_per_sec": normalize_rps}
            if normalize_rps is not None
            else {}
        ),
        # Methodology marker (r13 ADVICE): cross-round diffs can detect
        # measurement-hygiene changes from the artifact alone.
        # r13-gc = inter-query GC; r14-memoevict = per-run memo eviction
        # (each reading is a self-contained build, no family cache-reads);
        # r14-memoevict-cold adds: memo-BUILDING queries report their
        # cold run (build included) and skip the redundant second build.
        "hygiene": "r14-memoevict-cold",
        # Which queries' readings are build-inclusive cold runs (their
        # fn populated a session memo inside the timed region).
        "memo_built": sorted(n for n, b in memo_built.items() if b),
        "host_ref_sec": host_ref,
        "total_hostnorm": round(total / host_ref, 1),
        "streaming_fixed_cost_sec": streaming_sec,
        "analytic_total_sec": analytic_sec,
        "analytic_per_query_sec": (
            round(analytic_sec / n_analytic, 4) if n_analytic else None
        ),
    }
    # The driver's BENCH_r{N}.json keeps only the tail of stdout, which
    # truncates the per-query map (r6 VERDICT item 6: 74/176 survived).
    # Persist the FULL per-query record (min-of-2, cold, AND hostnorm)
    # to a file so cross-round regression diffs cover the whole surface;
    # each round's copy is committed as BENCH_FULL_r{N}.json.
    if not median3 and not only:  # don't clobber the full record from a subset run
        extra = {}
        if record:
            # Median-of-3 per query + its hostnorm: the statistic
            # BASELINE.md rows quote (host_ref_sec itself swings 2.2x
            # intra-day, so single-run hostnorm readings cannot
            # adjudicate single wall-clock readings — measured r9).
            extra = {
                "queries_median3": medians,
                "queries_hostnorm_median3": {
                    n: round(t / host_ref, 2) for n, t in medians.items()
                },
                "total_median3": round(sum(medians.values()), 3),
            }
        full = Path(REPO) / "BENCH_FULL.json"
        with open(full, "w") as f:
            json.dump(
                {**out, "queries_cold": cold, "queries_hostnorm": hostnorm,
                 "queries_ref": ref_probe, **extra},
                f,
                indent=1,
                sort_keys=True,
            )
        if record_round is not None:
            import shutil
            import subprocess

            snap = Path(REPO) / f"BENCH_FULL_r{record_round}.json"
            shutil.copyfile(full, snap)
            res = subprocess.run(["git", "-C", REPO, "add", str(full), str(snap)])
            if res.returncode != 0:
                print(f"WARNING: git add exited {res.returncode} — stage manually")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
