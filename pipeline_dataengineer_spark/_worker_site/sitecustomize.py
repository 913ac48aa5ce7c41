"""Start-up hook for the Python processes Spark launches.

``session.get_spark`` puts this directory on ``spark.executorEnv.PYTHONPATH``,
so the interpreter runs this module at start-up in the UDF daemon, its
workers, the streaming source runner and the data-source planner runners.
Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip``
first on their path. Neither zip holds bytecode, so every process compiled
pyspark and py4j from source.

For each of the two packages: when the zip's ``<package>/version.py`` is
byte-identical to the one in the first directory on the path that holds the
package (site-packages, whose modules are precompiled), the zip moves to the
end of ``sys.path`` and the package is imported from that directory.
Otherwise ``sys.path`` is left as it is. Nothing is imported from either
package here. A later ``sitecustomize`` on the path runs afterwards, as if
this one did not exist.
"""

import importlib.machinery
import importlib.util
import os
import sys
import zipfile


def _zip_last(package: str) -> None:
    zips = [
        p
        for p in sys.path
        if os.path.basename(p).startswith(package) and p.endswith(".zip")
    ]
    if not zips:
        return
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            zipped = zf.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return
    for entry in sys.path:
        version_py = os.path.join(entry or ".", package, "version.py")
        if entry not in zips and os.path.isfile(version_py):
            with open(version_py, "rb") as fh:
                if fh.read() == zipped:
                    sys.path[:] = [p for p in sys.path if p not in zips] + zips
            return


def _chain() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    later = [p for p in sys.path if os.path.abspath(p or ".") != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", later)
    if spec is not None:
        module = importlib.util.module_from_spec(spec)
        sys.modules["sitecustomize"] = module
        spec.loader.exec_module(module)


_zip_last("pyspark")
_zip_last("py4j")
_chain()
