"""SparkSession factory tuned for this engine.

Mirrors the role of the reference's session builder
(``src/spark_pgsql/spark_streaming.py:17-29``) minus the Kafka/JDBC
jar resolution (the test datasets are parquet). Designed for a real
multi-executor cluster — locally it runs ``local[N]``.

Scale posture: AQE on (runtime coalesce + skew-join handling),
shuffle partitions sized to the parallelism actually available
instead of the 200 default, UTC session timezone so timestamp
semantics match the DuckDB oracle, Arrow enabled for the
Pandas-UDF slow path.

Python processes: every Python process Spark launches (UDF daemon and
workers, the per-query streaming source runner, data-source planner
runners) gets the package root and ``_worker_site/`` on its path.
``_worker_site/sitecustomize.py`` moves Spark's bytecode-free
``pyspark.zip`` and py4j zip behind site-packages when the versions
match, which halves each fresh process's start-up CPU. The
``lookup_data_sources`` planner Spark starts once per JVM is launched
without ``spark.executorEnv.*``: it takes its path from the JVM's own
``PYTHONPATH``, so ``get_spark`` puts ``_worker_site/`` there for the
``getOrCreate`` that launches the JVM and then restores the caller's
environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds pipeline_dataengineer_spark
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the directory whose sitecustomize.py moves Spark's zips behind site-packages
_WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_site")


def default_parallelism() -> int:
    """Local parallelism: $SPARK_GRAFT_CPUS, else machine cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "pipeline-dataengineer-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    On a real cluster the ``master`` comes from spark-submit; here we
    default to ``local[cpus]``. Every config below is equally valid at
    1000-executor scale except the master itself.
    """
    cpus = cpus or default_parallelism()
    # An explicit ``shuffle_partitions`` (else
    # $SPARK_GRAFT_SHUFFLE_PARTITIONS) pins BOTH the static count and
    # the AQE initial count (kept for A/B experiments; round-10's
    # sf10 spot tier used it to prove the spill diagnosis).
    pinned_parts = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    )
    shuffle_partitions = pinned_parts or cpus
    # Input-aware shuffle sizing (round-11, guide §2.2/§5 — VERDICT
    # r10 item 3): AQE coalescing can MERGE small partitions but can
    # never SPLIT big ones, so the cores-sized static count silently
    # became the partition count at every scale — the round-10 sf10
    # spot tier measured q_tpch_q21_shape at 19.7x for 10x data with
    # 32 partitions (~2M lineitem rows each, spilling in the SMJ
    # sorts). Planning every exchange at initialPartitionNum and
    # letting AQE coalesce to ~64 MB (the default advisory target,
    # with parallelismFirst keeping cores busy at tiny inputs) makes
    # the EFFECTIVE partition count follow input bytes:
    # sf0.1 shuffles still coalesce to <= cores partitions (bench
    # parity), the sf10 lineitem shuffle lands at ~64 MB chunks
    # instead of 200 MB spilling monsters. 8*cpus keeps the floor
    # proportional on bigger machines; 256 is the local floor —
    # deliberately ABOVE spark.shuffle.sort.bypassMergeThreshold
    # (200): measured at sf0.1, planning 128 reducers put every map
    # task through BypassMergeSortShuffleWriter's one-file-per-reducer
    # path (128 open lz4 streams per task — q_dup_spans 3.0 → 5.1 s),
    # while 256 reducers select the single-file sort-based writer and
    # the SAME queries get FASTER than the 32-partition baseline
    # (q_dup_spans 3.0 → 1.74 s, q_tpch_q21_shape 1.77 → 1.24 s,
    # 4-rep idle mins). Stays well under the 2000-partition
    # HighlyCompressedMapStatus cliff. On a real cluster the same
    # formula scales with executor count.
    initial_partitions = pinned_parts or max(8 * cpus, 256)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At
        # 100 TB this is what keeps a statically mis-sized shuffle from
        # becoming stragglers.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static fallback for non-AQE-planned shuffles only.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for pandas UDF / createDataFrame(pandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Python workers import this package from where it lives, not
        # from the caller's working directory (Arrow UDFs unpickle
        # functions defined in it). _WORKER_SITE's start-up hook lets
        # them import pyspark and py4j from precompiled site-packages
        # (see the module docstring).
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join((_PACKAGE_ROOT, _WORKER_SITE)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k.replace("__", "."), v)
    # The JVM copies this process's environment when getOrCreate
    # launches it; the lookup_data_sources planner reads its path from
    # there (see the module docstring).
    caller_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (_WORKER_SITE, caller_path) if p)
    try:
        spark = builder.getOrCreate()
    finally:
        if caller_path is None:
            os.environ.pop("PYTHONPATH", None)
        else:
            os.environ["PYTHONPATH"] = caller_path
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_scale(spark: SparkSession, target_rows: int | None = None) -> None:
    """Re-size shuffle partitions for a known workload size.

    Rule of thumb: aim for 64-256 MB per shuffle partition. With AQE's
    coalescing enabled the static number only needs to be an upper
    bound, so err high for big inputs.
    """
    if target_rows is not None:
        # ~100 bytes/row heuristic, 128 MB per partition target.
        parts = max(default_parallelism(), target_rows * 100 // (128 << 20))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        # AQE plans from the INITIAL count (get_spark's input-aware
        # default); raise it too so a known-large workload cannot be
        # capped below its own size estimate.
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(parts, 8 * default_parallelism(), 256)),
        )
