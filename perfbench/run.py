"""Benchmark driver for the cuttlefish_spark engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 40 --trace 0

Runs one seeded, closed-loop pass over a workload's fixed input set (one
client, `local[nproc]`) in a single process, checks every op's output,
and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones. The line before it is a full report (environment,
failed-op ratio, p90 where there are enough samples). See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

# Table scale (1.0 = TPC-H sf1 row counts) and etl_fanout chapters per run.
SCALE = 0.1
ETL_CHAPTERS = 5_000
DRIVER_MEM = "4g"


def declared_metrics() -> tuple[list[str], list[str]]:
    """(end-to-end, per-layer) metric names, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    # A run is one fixed pass, sized to fit in BENCHMARK.json's
    # run_seconds; its length does not depend on --seconds.
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(work: str) -> dict:
    """Environment every run shares, set before pyspark is imported so
    the JVM and its Python workers inherit it."""
    cpus = len(os.sched_getaffinity(0))
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        # Python DataSource workers import cuttlefish_spark by name.
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        # No hsperfdata file under /tmp.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def warmup(spark, data_dir: str) -> None:
    """JVM/codegen, the parquet reader, one shuffle and one Python
    worker per core (bench.py's warm-up)."""
    from pyspark.sql import functions as F

    from cuttlefish_spark.functions.markdown import markdown_to_html
    from cuttlefish_spark.io import load_table

    (load_table(spark, data_dir, "events").limit(4096).groupBy("event_type").count()
     .write.format("noop").mode("overwrite").save())
    (load_table(spark, data_dir, "documents").limit(256)
     .repartition(spark.sparkContext.defaultParallelism)
     .select(markdown_to_html(F.col("text")).alias("h"),
             F.size(F.split(F.col("text"), r"\s+")).alias("n"))
     .write.format("noop").mode("overwrite").save())


def hygiene(spark) -> None:
    """Untimed isolation before the pass: evict memos and cached
    frames, then let the JVM reclaim checkpoint blocks."""
    from cuttlefish_spark.io import clear_memos

    clear_memos()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Bench:
    def __init__(self, args, work: str, data_dir: str) -> None:
        self.args = args
        self.work = work
        self.data_dir = data_dir
        self.ops: list[dict] = []
        self.run_s = 0.0
        self.tracer = None
        self.status = None
        self.stream = None

    # -- setup ---------------------------------------------------------
    def setup(self) -> None:
        from cuttlefish_spark.registry import load_all
        from cuttlefish_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=spark_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.specs = load_all()
        t2 = time.perf_counter()
        warmup(self.spark, self.data_dir)
        self.setup_phases = {"session_s": t1 - t0, "registry_s": t2 - t1,
                             "warmup_s": time.perf_counter() - t2}

    def attach_trace(self) -> None:
        import probes

        self.tracer = probes.Tracer()
        self.status = probes.StatusReader(self.spark)
        sc = self.spark.sparkContext
        group = "perfbench.sources.fetch"
        self.fetch_jobs: set[int] = set()
        self.fetch_tasks = 0

        def enter(_span):
            sc.setLocalProperty("spark.jobGroup.id", group)

        def leave(_span):
            sc.setLocalProperty("spark.jobGroup.id", None)

        self.tracer.hooks["sources.fetch"] = (enter, leave)
        for mod, attr, name in [
            ("cuttlefish_spark.operators.ingest", "datasource_canonical", "sources.fetch"),
            ("cuttlefish_spark.sinks.json_sink", "write_keyed_json", "sinks.write_keyed_json"),
            ("cuttlefish_spark.sinks.json_sink", "audit_counts", "sinks.audit_counts"),
            ("cuttlefish_spark.run", "append_log", "run.append_log"),
            ("cuttlefish_spark.run", "run_pipeline", "run"),
            ("cuttlefish_spark.io", "load_table", "io.load_table"),
        ]:
            __import__(mod)
            self.tracer.patch(mod, attr, name)
        if self.args.workload == "query_mix":
            self.stream = probes.make_stream_listener()
            self.spark.streams.addListener(self.stream)
        self.status_before = self.status.read()
        self.session_delta = {k: 0 for k in self.status_before}

    def _count_fetch_tasks(self) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for jid in tracker.getJobIdsForGroup("perfbench.sources.fetch"):
            if jid in self.fetch_jobs:
                continue
            info = tracker.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                continue
            self.fetch_jobs.add(jid)
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    self.fetch_tasks += st.numTasks

    # -- ops -----------------------------------------------------------
    def run_query(self, name: str) -> dict:
        from checks import check_query

        spec = self.specs[name]
        t0 = time.perf_counter()
        df = spec.fn(self.spark, self.data_dir)
        t1 = time.perf_counter()
        table = df.toArrow()
        t2 = time.perf_counter()
        return {"s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1,
                "module": spec.fn.__module__.rsplit(".", 1)[-1],
                "error": check_query(self.expected, name, table)}

    def run_etl(self, name: str, rows: list[dict]) -> dict:
        """One run_pipeline call over `rows` in a fresh directory, checked
        and then deleted."""
        from checks import check_etl

        from cuttlefish_spark import run as run_mod

        op_dir = os.path.join(self.work, "etl", name)
        out_dir, log_dir = os.path.join(op_dir, "out"), os.path.join(op_dir, "logs")
        os.makedirs(op_dir)
        chapters = os.path.join(op_dir, "chapters.json")
        datagen.write_worklist(rows, chapters)
        config = {"chapter-json-file": chapters, "json-out-path": out_dir,
                  "logfile-path": log_dir}
        t0 = time.perf_counter()
        run_mod.run_pipeline(self.spark, config=config)
        dur = time.perf_counter() - t0
        error = check_etl(rows, self.golden, out_dir, log_dir)
        files = [os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.endswith(".json")]
        rec = {"s": dur, "error": error, "chapters": len(rows),
               "files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
        shutil.rmtree(op_dir, ignore_errors=True)
        return rec

    def run_op(self, name: str) -> dict:
        if self.tracer is not None:
            self.tracer.op = name
        try:
            if self.args.workload == "etl_fanout":
                rec = self.run_etl(name, datagen.etl_worklist(self.args.seed, ETL_CHAPTERS))
            else:
                rec = self.run_query(name)
        except Exception as exc:  # an op that raises is a failed op
            rec = {"s": 0.0, "error": f"{name}: {type(exc).__name__}: {str(exc)[:300]}"}
        rec["name"] = name
        if self.tracer is not None:
            self.tracer.op = None
            if self.stream is not None and name.startswith("streaming_"):
                # Progress events arrive on the listener bus after the
                # query returns.
                self.stream.wait_terminated(self.n_stream_ops() + 1)
            if self.args.workload == "etl_fanout":
                self._count_fetch_tasks()
            self.status.read()
        return rec

    def n_stream_ops(self) -> int:
        return sum(1 for o in self.ops if o["name"].startswith("streaming_"))

    # -- run -----------------------------------------------------------
    def measure(self) -> None:
        """One pass over the workload's fixed input set, in seed order.
        Memos are shared across the pass, as in a production session."""
        from checks import golden_events, load_expected

        wl = self.args.workload
        if wl == "etl_fanout":
            self.golden = golden_events()
        else:
            self.expected = load_expected()
        memos_before = self.memo_entries()
        for name in workloads.run_order(wl, self.args.seed):
            rec = self.run_op(name)
            self.ops.append(rec)
            if rec["error"]:
                print(f"perfbench: failed op: {rec['error']}", file=sys.stderr)
        self.memo_built = self.memo_entries() - memos_before
        self.run_s = sum(o["s"] for o in self.ops)
        if self.status is not None:
            after = self.status.read()
            self.session_delta = {k: after[k] - self.status_before[k] for k in after}

    @staticmethod
    def memo_entries() -> int:
        from cuttlefish_spark.io import _MEMO_REGISTRY

        return sum(len(c) for c in _MEMO_REGISTRY)

    # -- metrics -------------------------------------------------------
    def end_to_end(self, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
        lat = [o["s"] for o in self.ops if not o["error"]]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": self.run_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat) if lat else 0.0, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        }
        extra = {
            "failed_op_ratio": {"value": self.failed() / len(self.ops), "unit": "ratio"},
            "op_samples": {"value": len(lat), "unit": "count"},
        }
        # p90 only with at least ten samples above it.
        if len(lat) >= 100:
            extra["op_p90_s"] = {"value": quantile(lat, 0.9), "unit": "s"}
        if self.args.workload == "etl_fanout":
            ch = sum(o.get("chapters", 0) for o in self.ops)
            extra["etl.chapters_per_s"] = {"value": ch / sum(o["s"] for o in self.ops),
                                           "unit": "1/s"}
        return metrics, extra

    def per_layer(self) -> dict:
        t = self.tracer
        by_mod: dict[str, dict[str, float]] = {}
        for o in self.ops:
            if "module" in o:
                m = by_mod.setdefault(o["module"], {"build_s": 0.0, "exec_s": 0.0})
                m["build_s"] += o["build_s"]
                m["exec_s"] += o["exec_s"]
        out: dict[str, tuple[float, str]] = {}
        for mod in ("relational_ext", "dedup", "similarity", "text", "curation", "streaming_ops"):
            m = by_mod.get(mod, {"build_s": 0.0, "exec_s": 0.0})
            out[f"operators.{mod}.build_s"] = (m["build_s"], "s")
            out[f"operators.{mod}.exec_s"] = (m["exec_s"], "s")

        etl = [o for o in self.ops if "chapters" in o]
        chapters = sum(o["chapters"] for o in etl)
        files = sum(o["files"] for o in etl)
        fetch = sum(t.durations("sources.fetch"))
        write = sum(t.durations("sinks.write_keyed_json"))
        append = sum(t.durations("run.append_log"))
        audit = self._audit_seconds()
        out.update({
            "sources.fetch_s": (fetch, "s"),
            "sources.fetch_tasks": (self.fetch_tasks if etl else 0, "count"),
            "sources.ok_chapter_ratio": (files / chapters if chapters else 0.0, "ratio"),
            "sinks.write_keyed_json_s": (write, "s"),
            "sinks.files_written": (files, "count"),
            "sinks.bytes_written": (sum(o["bytes"] for o in etl), "bytes"),
            "sinks.audit_s": (audit, "s"),
            "run.append_log_s": (append, "s"),
            # run_pipeline's span minus its children, the audit window
            # counted as one child.
            "run.self_s": (sum(t.durations("run")) - fetch - write - audit - append, "s"),
            "io.load_table_calls": (len(t.durations("io.load_table")), "count"),
            "io.scan_bytes": (self.session_delta["input_bytes"], "bytes"),
            "io.memo_entries_built": (self.memo_built, "count"),
        })
        s = self.stream.summary() if self.stream is not None else {}
        for key, unit in [("microbatches", "count"), ("batch_p50_ms", "ms"),
                          ("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
                          ("state_commit_ms", "ms"), ("state_rows_total", "count"),
                          ("state_store_instances", "count")]:
            out[f"streaming.{key}"] = (s.get(key, 0), unit)
        d = self.session_delta
        for key, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                          ("failed_tasks", "count"), ("shuffle_write_bytes", "bytes"),
                          ("spill_bytes", "bytes"), ("jvm_gc_s", "s")]:
            out[f"session.{key}"] = (d[key], unit)
        out["trace.run_s"] = (self.run_s, "s")
        out["trace.bookkeeping_s"] = (t.bookkeeping_s, "s")
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def _audit_seconds(self) -> float:
        """audit_counts plus the collect of the frame it returns, which
        run_pipeline performs right before append_log."""
        spans = self.tracer.spans
        total = 0.0
        for i, s in enumerate(spans):
            if s["name"] != "sinks.audit_counts" or "end" not in s:
                continue
            nxt = next((x for x in spans[i + 1:] if x["parent"] == s["parent"]
                        and x["name"] == "run.append_log" and "start" in x), None)
            if nxt is not None:
                total += nxt["start"] - s["start"]
        return total

    def failed(self) -> int:
        return sum(1 for o in self.ops if o["error"])

    # -- teardown ------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark, the JVM and every Python worker, and wait for them."""
        import probes

        from pyspark import SparkContext

        kids = probes.descendants(os.getpid())
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            # The JVM exits when its stdin closes; its Python workers
            # exit with it.
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    gateway.shutdown()
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
            SparkContext._gateway = None
            SparkContext._jvm = None
            reap(kids)


def reap(pids: set[int], timeout: float = 20.0) -> None:
    t_end = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < t_end:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cuttlefish_spark", "__init__.py")):
        print("perfbench: no cuttlefish_spark package next to perfbench/; "
              "run it from a full checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(work)
    env = pin_env(work)
    data_dir = datagen.ensure_tables(os.path.join(HERE, ".data"), SCALE)
    sys.path.insert(0, ROOT)

    import probes

    rss = probes.RssSampler()
    rss.start()
    bench = Bench(args, work, data_dir)
    t0 = time.perf_counter()
    try:
        bench.setup()
        setup_s = time.perf_counter() - t0
        # Isolation, untimed and before the trace baseline, so the
        # forced GC is not counted as the program's own.
        hygiene(bench.spark)
        if args.trace:
            bench.attach_trace()
        bench.measure()
        if bench.tracer is not None:
            bench.tracer.unpatch()
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            bench.tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl"))
            metrics = bench.per_layer()
        rss.stop()
        e2e, extra = bench.end_to_end(setup_s, rss.peak_bytes)
        if not args.trace:
            metrics = e2e
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
    names = declared_metrics()[1 if args.trace else 0]
    failed = bench.failed()
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {**env, "scale": SCALE, "etl_chapters": ETL_CHAPTERS,
                "python": sys.version.split()[0]},
        "setup_phases": bench.setup_phases,
        "run_s": bench.run_s,
        "ops": [(o["name"], round(o["s"], 4)) for o in bench.ops],
        "metrics": {**e2e, **extra, **(metrics if args.trace else {})},
        "errors": [o["error"] for o in bench.ops if o["error"]][:10],
    }
    print("perfbench report: " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": len(bench.ops),
                      "failed": failed, "metrics": {k: metrics[k] for k in names}}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
