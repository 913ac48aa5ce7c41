"""Pinned table schemas (catalog.table): each session infers a table's
parquet schema once per path and modification time, then reads with
the explicit schema, so a repeated call plans without a Spark job."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from pipeline_dataengineer_spark.catalog import table


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), counted under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"pinned-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pinned schema test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_orders(sf_dir, cols):
    pq.write_table(pa.table(cols), str(sf_dir / "orders.parquet"))


def test_second_table_call_runs_no_job(spark, tmp_path):
    _write_orders(tmp_path, {"o_orderkey": [1, 2, 3]})
    _, first = _jobs(spark, lambda: table(spark, str(tmp_path), "orders"))
    df, second = _jobs(spark, lambda: table(spark, str(tmp_path), "orders"))
    assert first >= 1  # the one inference
    assert second == 0
    assert sorted(r[0] for r in df.collect()) == [1, 2, 3]


def test_rewritten_table_is_reinferred(spark, tmp_path):
    _write_orders(tmp_path, {"o_orderkey": [1, 2]})
    assert table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    path = tmp_path / "orders.parquet"
    before = path.stat().st_mtime_ns
    _write_orders(tmp_path, {"o_orderkey": [7], "o_comment": ["new"]})
    assert path.stat().st_mtime_ns != before
    df, jobs = _jobs(spark, lambda: table(spark, str(tmp_path), "orders"))
    assert jobs >= 1
    assert df.columns == ["o_orderkey", "o_comment"]
    assert [tuple(r) for r in df.collect()] == [(7, "new")]


def test_events_ts_nanos_still_truncated_to_micros(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
        }),
        str(tmp_path / "events.parquet"),
    )
    for _ in range(2):  # inferred, then pinned: same answer
        df = table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        micros = [
            r[0]
            for r in df.selectExpr("unix_micros(ts)").orderBy("event_id").collect()
        ]
        assert micros == [v // 1000 for v in ns]


def test_fresh_session_resolves_its_own_schema(spark, tmp_path):
    _write_orders(tmp_path, {"o_orderkey": [5]})
    table(spark, str(tmp_path), "orders")
    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    df, jobs = _jobs(fresh, lambda: table(fresh, str(tmp_path), "orders"))
    assert jobs >= 1
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert [r[0] for r in df.collect()] == [5]
    _, again = _jobs(fresh, lambda: table(fresh, str(tmp_path), "orders"))
    assert again == 0


def test_unknown_table_is_rejected(spark, tmp_path):
    with pytest.raises(KeyError):
        table(spark, str(tmp_path), "no_such_table")
