"""Python worker daemon: `pyspark.daemon`, imported from the installed
pyspark.

Spark puts `$SPARK_HOME/python/lib/pyspark.zip` first on the workers'
`PYTHONPATH`. zipimport cannot cache bytecode, so every daemon compiles
pyspark from source: `import pyspark.daemon` takes about 0.9 s from the
zip and 0.25 s from the installed package. `session.get_spark` names
this module as `spark.python.daemon.module`; it drops the zip from
`sys.path` when the installed pyspark is the same version, so the
daemon and the workers it forks import the installed, bytecode-cached
package. Workers start it as `python -m cuttlefish_spark.daemon`, so
they must import `cuttlefish_spark` by name, as the Python DataSource
already requires.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder
from pathlib import Path

_VERSION = re.compile(rb"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def _version(source: bytes) -> bytes | None:
    m = _VERSION.search(source)
    return m and m.group(1)


def _zip_version(path: str) -> bytes | None:
    with zipfile.ZipFile(path) as zf:
        return _version(zf.read("pyspark/version.py"))


def installed_path(path: list[str]) -> list[str]:
    """`path` without its `pyspark.zip` entries, if the pyspark it then
    finds has the version of every dropped zip; else `path` unchanged."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if not zips or spec is None or not spec.submodule_search_locations:
        return path
    try:
        versions = {_zip_version(z) for z in zips}
        versions.add(_version(
            Path(spec.submodule_search_locations[0], "version.py").read_bytes()))
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if len(versions) == 1 and None not in versions else path


if __name__ == "__main__":
    sys.path[:] = installed_path(sys.path)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
