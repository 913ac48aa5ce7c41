"""The start-up hook ``session.get_spark`` gives Spark's Python processes
(``pipeline_dataengineer_spark/_worker_site/sitecustomize.py``): pyspark
and py4j come from precompiled site-packages, not from Spark's
bytecode-free zips, when the versions match."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import sysconfig
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOOK = os.path.join(REPO, "pipeline_dataengineer_spark", "_worker_site")
SITE_PACKAGES = os.path.realpath(sysconfig.get_paths()["purelib"])

_PRINT_PATH = (
    "import json, sys; hook = sys.modules.get('sitecustomize'); "
    "print(json.dumps([sys.path, 'pyspark' in sys.modules, getattr(hook, '__file__', None)]))"
)
HOOK_FILE = os.path.join(HOOK, "sitecustomize.py")


def _zip(path, package, version):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{package}/__init__.py", "")
        zf.writestr(f"{package}/version.py", f"__version__ = {version!r}\n")
    return str(path)


def _installed(root, package, version):
    (root / package).mkdir(parents=True)
    (root / package / "__init__.py").write_text("")
    (root / package / "version.py").write_text(f"__version__ = {version!r}\n")


def _sys_path(*pythonpath, code=_PRINT_PATH):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(str(p) for p in pythonpath))
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout


def test_equal_versions_move_zips_last(tmp_path):
    site = tmp_path / "site"
    _installed(site, "pyspark", "9.9.9")
    _installed(site, "py4j", "0.1")
    pyspark_zip = _zip(tmp_path / "pyspark.zip", "pyspark", "9.9.9")
    py4j_zip = _zip(tmp_path / "py4j-0.1-src.zip", "py4j", "0.1")
    path, pyspark_imported, hook = json.loads(
        _sys_path(pyspark_zip, py4j_zip, HOOK, site)
    )
    assert hook == HOOK_FILE
    assert path[-2:] == [pyspark_zip, py4j_zip]
    assert path.index(str(site)) < path.index(pyspark_zip)
    assert not pyspark_imported


def test_different_version_keeps_zip_first(tmp_path):
    site = tmp_path / "site"
    _installed(site, "pyspark", "9.9.9")
    _installed(site, "py4j", "0.1")
    pyspark_zip = _zip(tmp_path / "pyspark.zip", "pyspark", "9.9.8")
    py4j_zip = _zip(tmp_path / "py4j-0.1-src.zip", "py4j", "0.1")
    path, _, hook = json.loads(_sys_path(pyspark_zip, py4j_zip, HOOK, site))
    assert hook == HOOK_FILE
    # each package is decided on its own: only py4j's versions match
    assert path.index(pyspark_zip) < path.index(HOOK) < path.index(str(site))
    assert path[-1] == py4j_zip


def test_no_zip_leaves_sys_path_unchanged(tmp_path):
    site = tmp_path / "site"
    _installed(site, "pyspark", "9.9.9")
    empty = tmp_path / "empty"
    empty.mkdir()
    with_hook, _, hook = json.loads(_sys_path(HOOK, site))
    without, _, _ = json.loads(_sys_path(empty, site))
    assert hook == HOOK_FILE
    assert with_hook == [HOOK if p == str(empty) else p for p in without]


def test_later_sitecustomize_still_runs(tmp_path):
    site = tmp_path / "site"
    _installed(site, "pyspark", "9.9.9")
    pyspark_zip = _zip(tmp_path / "pyspark.zip", "pyspark", "9.9.9")
    later = tmp_path / "later"
    later.mkdir()
    (later / "sitecustomize.py").write_text(
        "import sys\nprint('later hook ran after the move:', sys.path[-1])\n"
    )
    out = _sys_path(
        pyspark_zip, HOOK, later, site,
        code="import sitecustomize; print(sitecustomize.__file__)",
    )
    assert out.splitlines() == [
        f"later hook ran after the move: {pyspark_zip}",
        str(later / "sitecustomize.py"),
    ]


def _zip_matches_site_packages() -> bool:
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    zipped = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    installed = os.path.join(os.path.dirname(pyspark.__file__), "version.py")
    if not os.path.isfile(zipped):
        return False
    with zipfile.ZipFile(zipped) as zf, open(installed, "rb") as fh:
        return zf.read("pyspark/version.py") == fh.read()


@pytest.mark.skipif(
    not _zip_matches_site_packages(),
    reason="Spark's pyspark.zip differs from the installed pyspark",
)
def test_spark_python_processes_import_pyspark_from_site_packages(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    @F.udf("string")
    def pyspark_file(_):
        import pyspark

        return pyspark.__file__

    worker_file = spark.range(1).select(pyspark_file("id")).first()[0]
    assert os.path.realpath(worker_file).startswith(SITE_PACKAGES + os.sep)

    class _Reader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"n": 0}

        def read(self, start):
            import pyspark

            if start["n"]:
                return iter([]), start
            return iter([(pyspark.__file__,)]), {"n": 1}

        def readBetweenOffsets(self, start, end):
            import pyspark

            return iter([(pyspark.__file__,)] if end["n"] > start["n"] else [])

    class _RunnerPysparkFile(DataSource):
        @classmethod
        def name(cls):
            return "runner_pyspark_file"

        def schema(self):
            return "path string"

        def simpleStreamReader(self, schema):
            return _Reader()

    spark.dataSource.register(_RunnerPysparkFile)
    query = (
        spark.readStream.format("runner_pyspark_file").load()
        .writeStream.format("memory").queryName("runner_pyspark_file")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination(300)
        rows = spark.table("runner_pyspark_file").collect()
    finally:
        query.stop()
    assert len(rows) == 1
    assert os.path.realpath(rows[0]["path"]).startswith(SITE_PACKAGES + os.sep)
