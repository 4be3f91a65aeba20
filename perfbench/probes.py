"""Measurement from outside the program.

- `Tracer` wraps public functions of the engine's layers by replacing
  module attributes, and keeps spans (name, start, end, parent, op) in
  memory.
- `StatusReader` reads Spark's status store (stages, jobs, tasks,
  shuffle, spill) and the JVM's garbage-collector beans through py4j.
- `StreamStats` is a StreamingQueryListener that keeps the progress
  events of every drained streaming query.
- `RssSampler` samples the resident memory of this process and all its
  descendants (the JVM and the Python workers) from /proc.

No file of the engine is changed; everything here is attached at run
time and only when the benchmark asks for it.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.bookkeeping_s = 0.0
        self._undo: list[tuple[object, str, object]] = []
        self.hooks: dict[str, tuple] = {}

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            b0 = time.perf_counter()
            idx = len(tracer.spans)
            span = {"name": name, "op": tracer.op,
                    "parent": tracer._stack[-1] if tracer._stack else None}
            tracer.spans.append(span)
            tracer._stack.append(idx)
            enter, leave = tracer.hooks.get(name, (None, None))
            if enter:
                enter(span)
            span["start"] = time.perf_counter()
            tracer.bookkeeping_s += span["start"] - b0
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()
                if leave:
                    leave(span)
                tracer.bookkeeping_s += time.perf_counter() - span["end"]

        traced.__wrapped_original__ = fn
        return traced

    def patch(self, module_name: str, attr: str, name: str) -> None:
        """Replace `module.attr` and every other engine module's binding
        of the same function object (names imported with `from x import
        f` are separate bindings) with a traced wrapper."""
        original = getattr(sys.modules[module_name], attr)
        wrapper = self.wrap(name, original)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("cuttlefish_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, wrapper)
                    self._undo.append((mod, key, original))

    def unpatch(self) -> None:
        for mod, key, original in reversed(self._undo):
            setattr(mod, key, original)
        self._undo.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        import json

        t0 = min((s["start"] for s in self.spans if "start" in s), default=0.0)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                if "end" in s:
                    fh.write(json.dumps({
                        "name": s["name"], "op": s["op"], "parent": s["parent"],
                        "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6),
                    }) + "\n")


class StatusReader:
    """Cumulative engine counters from the status store. Stages are
    remembered by (stage, attempt) so counts survive the store's cap on
    retained stages, as long as it is read after every op."""

    FIELDS = ("numTasks", "numFailedTasks", "shuffleWriteBytes",
              "memoryBytesSpilled", "diskBytesSpilled", "inputBytes")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        # stageList's Scala defaults are not visible through py4j.
        self._stage_args = (None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
                            sc._jvm.java.util.ArrayList())
        self._stages: dict[tuple[int, int], dict] = {}
        self._jobs: set[int] = set()

    def _seq(self, scala_seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)

    def read(self) -> dict:
        store = self._jsc.statusStore()
        for st in self._seq(store.stageList(*self._stage_args)):
            # Skipped stages ran no tasks; active ones are read later.
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            key = (st.stageId(), st.attemptId())
            if key in self._stages:
                continue
            self._stages[key] = {f: getattr(st, f)() for f in self.FIELDS}
        for job in self._seq(store.jobsList(None)):
            self._jobs.add(job.jobId())
        tot = {f: sum(s[f] for s in self._stages.values()) for f in self.FIELDS}
        return {
            "jobs": len(self._jobs),
            "stages": len(self._stages),
            "tasks": tot["numTasks"],
            "failed_tasks": tot["numFailedTasks"],
            "shuffle_write_bytes": tot["shuffleWriteBytes"],
            "spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
            "input_bytes": tot["inputBytes"],
            "jvm_gc_s": self.gc_seconds(),
        }

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def make_stream_listener():
    """A StreamingQueryListener subclass instance collecting progress
    events; built lazily so pyspark is imported only after the
    benchmark has pinned its environment."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "run": str(p.runId),
                "batch": p.batchId,
                "duration": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_instances": sum(o.numStateStoreInstances for o in ops),
            }
            with self._lock:
                self.progress.append(rec)

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated += 1

        def wait_terminated(self, n: int, timeout: float = 10.0) -> bool:
            t_end = time.monotonic() + timeout
            while time.monotonic() < t_end:
                with self._lock:
                    if self.terminated >= n:
                        return True
                time.sleep(0.02)
            return False

        def summary(self) -> dict:
            with self._lock:
                prog = list(self.progress)
            per_run: dict[str, dict] = {}
            for r in prog:
                last = per_run.get(r["run"])
                if last is None or r["batch"] >= last["batch"]:
                    per_run[r["run"]] = r
            trig = [r["duration"].get("triggerExecution", 0) for r in prog]
            return {
                "microbatches": len(prog),
                "batch_p50_ms": statistics.median(trig) if trig else 0.0,
                "add_batch_ms": sum(r["duration"].get("addBatch", 0) for r in prog),
                "wal_commit_ms": sum(r["duration"].get("walCommit", 0) for r in prog),
                "state_commit_ms": sum(r["state_commit_ms"] for r in prog),
                "state_rows_total": sum(r["state_rows"] for r in per_run.values()),
                "state_store_instances": sum(r["state_instances"] for r in per_run.values()),
            }

    return StreamStats()


class RssSampler:
    """Peak summed RSS of this process and its descendants, sampled
    from /proc every `interval` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        self.peak_bytes = max(self.peak_bytes, total)


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out
