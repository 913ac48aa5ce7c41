"""Start-up hook for the Python processes Spark launches.

``session.get_spark`` puts this directory on ``spark.executorEnv.PYTHONPATH``,
so the interpreter runs this module at start-up in the UDF daemon, its
workers, the streaming source runner and the data-source planner runners.
Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip`` and
its core jar (``jars/spark-core_*.jar``) first on their path. Neither zip
holds bytecode, so every process compiled pyspark and py4j from source; the
jar holds no Python at all.

This hook takes off ``sys.path``:

- every ``.jar`` entry in the directory of Spark's core jar, Spark's own
  jars. The test is on the path strings alone. A user jar elsewhere, one
  that carries Python modules included, stays where it is;
- for each of pyspark and py4j, its zip, when the zip's
  ``<package>/version.py`` is byte-identical to the one in the first
  directory on the path that holds the package (site-packages, whose
  modules are precompiled). Otherwise the zip stays where it is.

It then forgets the finders of the entries it took off, sub-path keys such
as ``<jar>/org`` included: ``site`` already made zipimporters for them while
it looked for ``sitecustomize``, and ``importlib.invalidate_caches()``, which
Spark calls on every task and runner start, makes each cached zipimporter
re-read its archive's directory (0.04-0.05 CPU-s for each of the core jar's
two finders; it has 5,359 entries). Nothing is imported from pyspark or py4j
here. A later ``sitecustomize`` on the path runs afterwards, as if this one
did not exist.
"""

import importlib.machinery
import importlib.util
import os
import sys
import zipfile
import zipimport


def _redundant_zips(package: str) -> list:
    zips = [
        p
        for p in sys.path
        if os.path.basename(p).startswith(package) and p.endswith(".zip")
    ]
    if not zips:
        return []
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            zipped = zf.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    for entry in sys.path:
        version_py = os.path.join(entry or ".", package, "version.py")
        if entry not in zips and os.path.isfile(version_py):
            with open(version_py, "rb") as fh:
                return zips if fh.read() == zipped else []
    return []


def _drop(entries: list) -> None:
    sys.path[:] = [p for p in sys.path if p not in entries]
    prefixes = tuple(e + os.sep for e in entries)
    for cache in (sys.path_importer_cache, getattr(zipimport, "_zip_directory_cache", {})):
        for key in [k for k in cache if k in entries or k.startswith(prefixes)]:
            del cache[key]


def _chain() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    later = [p for p in sys.path if os.path.abspath(p or ".") != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", later)
    if spec is not None:
        module = importlib.util.module_from_spec(spec)
        sys.modules["sitecustomize"] = module
        spec.loader.exec_module(module)


def _spark_jars() -> list:
    spark_dirs = {
        os.path.dirname(p)
        for p in sys.path
        if os.path.basename(p).startswith("spark-core_") and p.endswith(".jar")
    }
    return [p for p in sys.path if p.endswith(".jar") and os.path.dirname(p) in spark_dirs]


_drop(
    _spark_jars()
    + _redundant_zips("pyspark")
    + _redundant_zips("py4j")
)
_chain()
