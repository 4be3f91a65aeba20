"""The Python worker daemon (`cuttlefish_spark.daemon`): workers import
the installed pyspark, not `$SPARK_HOME/python/lib/pyspark.zip`, when
the two are the same version."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from cuttlefish_spark.daemon import installed_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, version=None, body=None):
    path.parent.mkdir(parents=True, exist_ok=True)
    if body is not None:
        path.write_bytes(body)
        return str(path)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        if version is not None:
            zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _installed(root, version):
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(root)


def test_same_version_drops_only_the_zips(tmp_path):
    a = _zip(tmp_path / "a" / "pyspark.zip", "4.1.2")
    b = _zip(tmp_path / "b" / "pyspark.zip", "4.1.2")
    site = _installed(tmp_path / "site", "4.1.2")
    py4j = str(tmp_path / "py4j-src.zip")
    path = [a, py4j, "", b, site, str(tmp_path / "missing")]
    assert installed_path(path) == [py4j, "", site, str(tmp_path / "missing")]


@pytest.mark.parametrize("case", ["other version", "second zip differs", "no version.py",
                                  "not a zip", "missing zip", "no installed pyspark"])
def test_path_unchanged_unless_versions_match(tmp_path, case):
    zips = {
        "other version": lambda: [_zip(tmp_path / "pyspark.zip", "4.0.0")],
        "second zip differs": lambda: [_zip(tmp_path / "a" / "pyspark.zip", "4.1.2"),
                                       _zip(tmp_path / "b" / "pyspark.zip", "4.0.0")],
        "no version.py": lambda: [_zip(tmp_path / "pyspark.zip")],
        "not a zip": lambda: [_zip(tmp_path / "pyspark.zip", body=b"not a zip")],
        "missing zip": lambda: [str(tmp_path / "gone" / "pyspark.zip")],
        "no installed pyspark": lambda: [_zip(tmp_path / "pyspark.zip", "4.1.2")],
    }[case]()
    site = str(tmp_path / "empty") if case == "no installed pyspark" else _installed(
        tmp_path / "site", "4.1.2")
    path = zips + [site]
    assert installed_path(path) == path


def test_importing_the_package_does_not_import_pyspark():
    # `python -m cuttlefish_spark.daemon` imports the package first, so
    # pyspark must not be imported before the daemon fixes sys.path.
    out = subprocess.run(
        [sys.executable, "-c", "import sys, cuttlefish_spark; print('pyspark' in sys.modules)"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    assert out.strip() == "False"


def test_worker_imports_the_installed_pyspark(spark):
    import pyspark

    def probe(_):
        import pyspark as worker_pyspark
        return worker_pyspark.__file__, os.environ.get("PYTHONPATH", "")

    [(worker_file, worker_path)] = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    zips = [p for p in worker_path.split(os.pathsep) if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        pytest.skip("no pyspark.zip on the workers' PYTHONPATH")
    for z in zips:
        with zipfile.ZipFile(z) as zf:
            if f"'{pyspark.__version__}'" not in zf.read("pyspark/version.py").decode():
                pytest.skip(f"{z} is not pyspark {pyspark.__version__}")
    assert ".zip" not in worker_file, worker_file
