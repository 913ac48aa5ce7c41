"""session.get_spark: the settings its parameters promise."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pipeline_dataengineer_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_STATIC = "spark.sql.shuffle.partitions"


def test_explicit_shuffle_partitions_pins_aqe_initial_count(spark):
    """An explicit count pins the AQE initial count too, as
    $SPARK_GRAFT_SHUFFLE_PARTITIONS does; otherwise AQE plans every
    exchange at max(8*cpus, 256) and the argument reaches only
    non-AQE shuffles."""
    saved = {k: spark.conf.get(k) for k in (_INITIAL, _STATIC)}
    try:
        s = get_spark("tests", cpus=4, shuffle_partitions=6)
        assert s.conf.get(_INITIAL) == "6"
        assert s.conf.get(_STATIC) == "6"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_python_workers_import_package_outside_repo(tmp_path):
    """An Arrow-UDF query run from another directory, with PYTHONPATH
    unset: the workers must still import the package."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = list(range(0, 140, 7))
    pq.write_table(
        pa.table({
            "p_partkey": keys,
            "p_name": [f"almond blue{k % 3} lace{k % 5}" for k in keys],
        }),
        str(tmp_path / "part.parquet"),
    )
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pipeline_dataengineer_spark.contract import QUERIES
        from pipeline_dataengineer_spark.session import get_spark

        spark = get_spark("workers", cpus=2)
        print("rows", QUERIES["q_jaro"](spark, {str(tmp_path)!r}).count())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ModuleNotFoundError" not in proc.stderr
    assert "rows " in proc.stdout
