"""Table catalog over the driver's parquet test datasets.

The reference reads its lookup table eagerly and once
(``src/spark_pgsql/spark_streaming.py:73-75``); here every table is a
lazy parquet scan so Catalyst can push filters/column pruning into
the file source. At cluster scale the same API fronts a metastore
or Delta/Iceberg catalog — callers never hard-code paths.

Schemas are pinned: each session infers a table's parquet schema
once, then reads it with ``spark.read.schema(pinned)``, which plans
without a Spark job. A plain ``spark.read.parquet`` runs a
schema-inference job on every call (105–145 ms against 21–41 ms with
an explicit schema, sf0.1 on 4 cores), and that job was the largest
fixed cost of a short query. The pin is keyed by the path and its
Hadoop ``FileStatus`` modification time, so a table rewritten in
place is inferred afresh, on any Hadoop filesystem; it is held weakly
per session, so a new session resolves its own schemas.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# session -> {path: (modification time, schema)}
_PINNED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _pinned_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet schema of ``path``, inferred once per session and
    modification time."""
    pinned = _PINNED.get(spark)
    if pinned is None:
        # Timestamp semantics must match the DuckDB oracle (naive UTC)
        # regardless of the calling session's environment; a caller's
        # session need not come from get_spark, so pin it here. events.ts
        # is TIMESTAMP(NANOS) parquet, which Spark rejects by default:
        # read nanos as long (see ``table``). Both confs are set when
        # the session resolves its first schema; the inference below
        # and every later scan read them.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        pinned = _PINNED[spark] = {}
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    mtime = fs.getFileStatus(hpath).getModificationTime()
    hit = pinned.get(path)
    if hit is None or hit[0] != mtime:
        hit = pinned[path] = (mtime, spark.read.parquet(path).schema)
    return hit[1]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table, read with its pinned schema:
    the first call per session (and per rewrite of the file) infers
    it, later calls start no Spark job. Predicate pushdown + column
    pruning reach the footer reader via Catalyst (verify with
    ``df.explain`` → PushedFilters / ReadSchema)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _pinned_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # nanos read as long: truncate ns→µs exactly the way Spark
        # ≤3.x did implicitly. Integer division: a double quotient
        # rounds x.999 µs up at today's epoch magnitudes.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables as a dict of lazy DataFrames."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def scale_out(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Widen a DataFrame to the session's core count before CPU-heavy
    per-row projections (tokenize / n-gram / shingle / hash).

    A single-row-group parquet file scans as ONE task, serializing
    whatever projection sits on top of it (measured: trigram explode
    over a 1-partition 5k-doc table 8.0s vs 2.2s after repartition to
    32). The shuffle moved is the raw input rows — cheap relative to
    the projection it parallelizes. On production inputs with at least
    one split per core this is a no-op: no shuffle is inserted.

    Width probes deliberately avoid ``df.rdd`` (which forces physical
    planning into RDDs and does not exist under Spark Connect):
    ``inputFiles()`` approximates the scan's split count for
    file-backed plans; for non-file plans (in-memory test frames) we
    insert the repartition — a few extra milliseconds on inputs that
    small, and never wrong.
    """
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism * multiple
    except Exception:  # Spark Connect: no SparkContext handle
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        target *= multiple
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits >= target:
        return df
    return df.repartition(target)
