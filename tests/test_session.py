"""What `session.get_spark` sets up at JVM launch: the driver JVM's
class-data-sharing archive, the exit hook that stops the JVM, and one
Python worker pool for every kind of Python job.

Each test starts fresh Python processes, because only a process that
launches the JVM chooses its flags. Every process gets its own
`XDG_CACHE_HOME` and a `SPARK_CONF_DIR` that holds only a template, so
the tests neither read nor write the user's archive.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home

from cuttlefish_spark.session import _archive_key, _remove_orphan_dumps

REPO = Path(__file__).resolve().parents[1]

# Starts a session, runs one job and prints one JSON line; `archives`
# are the CDS archives the JVM has mapped.
SESSION_SCRIPT = """
import json
from pyspark import SparkContext
from cuttlefish_spark.session import get_spark
spark = get_spark("cds-test")
conf = spark.sparkContext.getConf()
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as fh:
    archives = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
print(json.dumps({
    "pid": pid,
    "sum": spark.range(100).selectExpr("sum(id)").first()[0],
    "java_options": conf.get("spark.driver.defaultJavaOptions", ""),
    "probe": conf.get("spark.cuttlefish.probe", None),
    "archives": archives,
}))
"""

# Runs each kind of Python job once, in this order, and prints how many
# Python worker daemons the JVM has started after each.
DAEMON_SCRIPT = """
import json, os, sys
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import functions as F
from cuttlefish_spark.run import run_pipeline
from cuttlefish_spark.session import get_spark

spark = get_spark("daemon-test")
jvm = SparkContext._gateway.proc.pid

def daemons():
    n = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        n += ppid == jvm and b"cuttlefish_spark.daemon" in cmd
    return n

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

counts = []
spark.range(8).select(plus_one("id")).collect()
counts.append(("pandas_udf", daemons()))
spark.sparkContext.parallelize(range(8), 2).mapPartitions(lambda it: [sum(it)]).collect()
counts.append(("rdd.mapPartitions", daemons()))
spark.createDataFrame([(1, "a")], "x long, y string").toArrow()
counts.append(("createDataFrame", daemons()))
run_pipeline(spark, config_arg=sys.argv[1])
counts.append(("run_pipeline", daemons()))
print(json.dumps(counts))
"""


def _env(tmp_path: Path, conf_dir: Path | None = None) -> dict[str, str]:
    if conf_dir is None:
        conf_dir = tmp_path / "conf"
        conf_dir.mkdir()
        (conf_dir / "spark-defaults.conf.template").write_text("spark.cuttlefish.probe x\n")
    path = os.environ.get("PYTHONPATH")
    return {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "SPARK_CONF_DIR": str(conf_dir),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": str(REPO) + (os.pathsep + path if path else ""),
    }


def _run(args: list[str], env: dict[str, str]) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, *args], env=env, cwd=REPO, capture_output=True,
                          text=True, timeout=900)


def _session(env: dict[str, str]) -> dict:
    """Runs SESSION_SCRIPT in a fresh process; its JVM, whether it
    dumped, mapped or ran without an archive, must be gone once the
    process has exited."""
    proc = _run(["-c", SESSION_SCRIPT], env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "Traceback" not in proc.stderr, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout[:3000]
    out = json.loads(lines[0])
    assert out["sum"] == 4950
    assert not os.path.exists(f"/proc/{out['pid']}"), "the JVM outlived Python"
    return out


def _cache_files(tmp_path: Path) -> list[str]:
    return sorted(p.name for p in (tmp_path / "cache" / "cuttlefish-spark").iterdir())


def _rc_file(tmp_path: Path) -> Path:
    """A `.cuttlefishrc` whose work-list holds one replayed chapter and
    one with an unknown adapter."""
    chapters = tmp_path / "chapters.json"
    chapters.write_text(json.dumps({
        "newyork": {"dataService": {"adapter": "meetup", "id": "papers-we-love"}},
        "atlantis": {"dataService": {"adapter": "carrierpigeon", "id": "deep-six"}},
    }))
    rc = tmp_path / "rc.json"
    rc.write_text(json.dumps({
        "chapter-json-file": str(chapters),
        "json-out-path": str(tmp_path / "out"),
        "logfile-path": str(tmp_path / "logs"),
    }))
    return rc


def test_cli_stdout_is_only_the_audit_lines_when_dumping_and_mapping(tmp_path):
    rc = _rc_file(tmp_path)
    env = _env(tmp_path)
    key = _archive_key(_find_spark_home())
    for run in ("dump", "map"):
        proc = _run(["-m", "cuttlefish_spark.run", str(rc)], env)
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "Traceback" not in proc.stderr, (run, proc.stderr[-3000:])
        assert proc.stdout.splitlines() == ["ERROR: atlantis (1)", "WROTE: newyork (2)"], run
        files = _cache_files(tmp_path)
        assert f"{key}.jsa" in files, (run, files)
        assert not [f for f in files if f.endswith(".tmp")], (run, files)


def test_dumping_jvm_does_not_outlive_python(tmp_path):
    out = _session(_env(tmp_path))
    assert "-XX:ArchiveClassesAtExit=" in out["java_options"]
    assert f"{_archive_key(_find_spark_home())}.jsa" in _cache_files(tmp_path)


def test_corrupt_archive_still_gives_a_working_session(tmp_path):
    """A garbage `.jsa` at the keyed path is mapped, refused by the JVM
    (`-Xshare:auto`) and the session starts normally; the refused file
    is then deleted, so the next start dumps a fresh archive and the one
    after maps it."""
    env = _env(tmp_path)
    cache = tmp_path / "cache" / "cuttlefish-spark"
    cache.mkdir(parents=True)
    jsa = cache / f"{_archive_key(_find_spark_home())}.jsa"
    jsa.write_bytes(os.urandom(1 << 16))
    out = _session(env)
    assert f"-XX:SharedArchiveFile={jsa}" in out["java_options"]
    assert str(jsa.resolve()) not in out["archives"]
    assert out["probe"] is None  # Spark never reads a template
    assert not jsa.exists(), "the refused archive was kept"

    out = _session(env)
    assert "-XX:ArchiveClassesAtExit=" in out["java_options"]
    assert jsa.exists()

    out = _session(env)
    assert f"-XX:SharedArchiveFile={jsa}" in out["java_options"]
    assert str(jsa.resolve()) in out["archives"]
    assert jsa.exists()


def test_conf_dir_with_real_files_is_kept_and_disables_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cuttlefish.probe seen\n")
    out = _session(_env(tmp_path, conf))
    assert out["probe"] == "seen"
    assert "-XX:" not in out["java_options"] and "cds" not in out["java_options"]
    assert not (tmp_path / "cache").exists()


def test_one_python_worker_daemon_per_session(tmp_path):
    """SQL-side Python jobs, RDD jobs, `createDataFrame` over local rows
    and the pipeline's job all run on the first job's worker daemon: the
    JVM starts exactly one. The conf dir holds a real file, so this
    session starts without CDS and dumps no archive."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cuttlefish.probe seen\n")
    proc = _run(["-c", DAEMON_SCRIPT, str(_rc_file(tmp_path))], _env(tmp_path, conf))
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.splitlines()[-1])
    assert counts == [["pandas_udf", 1], ["rdd.mapPartitions", 1], ["createDataFrame", 1],
                      ["run_pipeline", 1]], counts


def test_orphan_dumps_of_dead_processes_are_removed(tmp_path):
    """A Python process killed before its exit hook ran leaves its JVM
    to finish `<key>.<pid>.tmp` (about 140 MB) that no one renames; the
    next dumping session deletes it, and keeps a live process's dump."""
    dead_pid = 2**31 - 1  # above any pid_max
    for name in (f"k.{dead_pid}.tmp", f"k.{os.getpid()}.tmp", "k.jsa", "k.log"):
        (tmp_path / name).write_bytes(b"x")
    _remove_orphan_dumps(str(tmp_path))
    assert sorted(p.name for p in tmp_path.iterdir()) == [f"k.{os.getpid()}.tmp", "k.jsa", "k.log"]
