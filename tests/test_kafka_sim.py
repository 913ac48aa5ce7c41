"""Loop-back Kafka round trip: produce → readStream → foreachBatch
idempotent append — the reference's core dataflow
(``src/spark_pgsql/spark_streaming.py:38-92``) executed end to end
against a replayable append-log topic (sources/kafka_sim.py), since
broker jars are absent. Every line downstream of the source format is
the same code a real ``format("kafka")`` read would feed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pipeline_dataengineer_spark.sinks.writers import kafka_json_payload
from pipeline_dataengineer_spark.sources.kafka_sim import (
    produce,
    register_kafka_log_source,
)


@pytest.fixture()
def topic(spark, tmp_path):
    register_kafka_log_source(spark)
    return str(tmp_path / "recalls-topic")


def _produce_rows(spark, topic, rows):
    df = spark.createDataFrame(rows, ["reference_fiche", "categorie_de_produit"])
    return produce(topic, kafka_json_payload(df, key_col="reference_fiche"))


def _col(batches, name):
    """One column of a reader's RecordBatches, as Python values."""
    return [v for b in batches for v in b[name].to_pylist()]


def _write_segment(log, first, lines_per_part):
    """A segment as ``produce`` names it, one part file per list."""
    rows = sum(len(lines) for lines in lines_per_part)
    seg = log / f"seg-{first:020d}-{rows}"
    seg.mkdir(parents=True)
    for i, lines in enumerate(lines_per_part):
        (seg / f"part-{i:05d}.json").write_text("".join(f"{ln}\n" for ln in lines))
    return seg


def test_batch_read_kafka_shape_and_offsets(spark, topic):
    _produce_rows(spark, topic, [("F-1", "a"), ("F-2", "b")])
    _produce_rows(spark, topic, [("F-3", "c")])
    got = (
        spark.read.format("kafka_log").option("path", topic).load()
        .orderBy("offset")
        .collect()
    )
    assert [r["offset"] for r in got] == [0, 1, 2]
    assert {r["partition"] for r in got} == {0}
    assert got[0]["topic"] == "recalls-topic"
    assert bytes(got[0]["key"]) == b"F-1"
    assert b'"categorie_de_produit":"a"' in bytes(got[0]["value"])
    assert got[0]["timestamp"] is not None


def test_produce_names_segments_by_first_offset_and_rows(spark, topic):
    assert _produce_rows(spark, topic, [("F-1", "a"), ("F-2", "b")]) == 0
    assert _produce_rows(spark, topic, [("F-3", "c")]) == 2
    empty = spark.createDataFrame([], "reference_fiche string, categorie_de_produit string")
    assert produce(topic, kafka_json_payload(empty, key_col="reference_fiche")) == 3
    assert sorted(os.listdir(topic)) == [f"seg-{0:020d}-2", f"seg-{2:020d}-1"]


def test_stream_replays_committed_range_deterministically(spark, topic):
    from pipeline_dataengineer_spark.sources.kafka_sim import _LogStreamReader

    _produce_rows(spark, topic, [("F-1", "a"), ("F-2", "b"), ("F-3", "c")])
    r = _LogStreamReader({"path": topic})
    rows1, nxt = r.read({"offset": 0})
    first = _col(rows1, "offset")
    assert first == [0, 1, 2] and nxt == {"offset": 3}
    # replay the committed range: byte-identical records
    again = list(r.readBetweenOffsets({"offset": 0}, {"offset": 3}))
    assert _col(again, "offset") == first
    assert _col(again, "value") == _col(
        r.readBetweenOffsets({"offset": 0}, {"offset": 3}), "value"
    )
    # nothing new -> empty read, offset unchanged
    rows2, nxt2 = r.read(nxt)
    assert list(rows2) == [] and nxt2 == nxt


def test_starting_offsets_latest_skips_history(spark, topic):
    from pipeline_dataengineer_spark.sources.kafka_sim import _LogStreamReader

    _produce_rows(spark, topic, [("F-old", "x")])
    r = _LogStreamReader({"path": topic, "startingOffsets": "latest"})
    start = r.initialOffset()
    assert start == {"offset": 1}
    _produce_rows(spark, topic, [("F-new", "y")])
    rows, _ = r.read(start)
    assert _col(rows, "key") == [b"F-new"]


def test_stream_batch_reads_each_segment_file_once(tmp_path, monkeypatch):
    from pyarrow import json as pa_json

    from pipeline_dataengineer_spark.sources import kafka_sim

    log = tmp_path / "topic"
    for first, keys in ((0, ["F-1", "F-2"]), (2, ["F-3"])):
        _write_segment(log, first, [[json.dumps({"value": f"v-{k}", "key": k}) for k in keys]])
    read = []
    real_read_json = pa_json.read_json

    def counting_read_json(path, *args, **kwargs):
        read.append(os.path.basename(os.path.dirname(path)))
        return real_read_json(path, *args, **kwargs)

    monkeypatch.setattr(pa_json, "read_json", counting_read_json)
    r = kafka_sim._LogStreamReader({"path": str(log)})
    rows, nxt = r.read({"offset": 1})
    assert _col(rows, "key") == [b"F-2", b"F-3"] and nxt == {"offset": 3}
    assert sorted(read) == [f"seg-{0:020d}-2", f"seg-{2:020d}-1"]
    # a batch past the first segment does not open it
    read.clear()
    rows, nxt = r.read({"offset": 2})
    assert _col(rows, "key") == [b"F-3"] and nxt == {"offset": 3}
    assert read == [f"seg-{2:020d}-1"]
    # the high-water mark comes from the names alone
    read.clear()
    latest = kafka_sim._LogStreamReader({"path": str(log), "startingOffsets": "latest"})
    assert latest.initialOffset() == {"offset": 3} and read == []


def test_batches_carry_kafka_arrow_schema_and_exact_bytes(spark, tmp_path):
    from pyspark.sql.pandas.types import to_arrow_schema

    from pipeline_dataengineer_spark.sources.kafka_sim import KAFKA_SCAN_SCHEMA, _scan

    records = [
        {"value": "Épicerie fine — crème brûlée 日本", "key": "clé-1"},
        {"value": 'a "quoted" word', "key": None},
        {"value": "two\nlines", "key": "k\"3"},
        {"value": "", "key": ""},
        {"value": "no key field"},
    ]
    lines = [json.dumps(r, ensure_ascii=False) for r in records]
    log = tmp_path / "topic"
    seg = _write_segment(log, 0, [lines[:2], [], lines[2:]])
    assert (seg / "part-00001.json").stat().st_size == 0
    batches = list(_scan(str(log), "recalls", 0, None))
    want = to_arrow_schema(spark.createDataFrame([], KAFKA_SCAN_SCHEMA).schema)
    assert batches and all(b.schema == want for b in batches)
    decoded = [json.loads(ln) for ln in lines]
    assert _col(batches, "value") == [d["value"].encode() for d in decoded]
    assert _col(batches, "key") == [
        None if d.get("key") is None else d["key"].encode() for d in decoded
    ]
    assert _col(batches, "offset") == list(range(len(records)))
    assert set(_col(batches, "topic")) == {"recalls"}
    assert set(_col(batches, "partition")) == {0}
    # a sub-range slices inside part files
    assert _col(_scan(str(log), "recalls", 1, 3), "offset") == [1, 2]


def test_record_longer_than_a_json_block_reads_back_exactly(tmp_path):
    """pyarrow's JSON reader cannot parse a record longer than its block
    (1 MiB by default); a part file is read as one block, so a 2 MiB
    record reads back byte-exact."""
    from pipeline_dataengineer_spark.sources.kafka_sim import _scan

    big = "é\"x\n" * (1 << 19) + "end"
    values = ["before", big, "after"]
    log = tmp_path / "topic"
    _write_segment(log, 0, [[json.dumps({"value": v, "key": None}) for v in values]])
    batches = list(_scan(str(log), "t", 0, None))
    assert _col(batches, "value") == [v.encode() for v in values]
    assert len(big.encode()) > 2 << 20
    assert _col(_scan(str(log), "t", 1, 2), "value") == [big.encode()]


def test_overlapping_or_old_format_segments_raise(tmp_path):
    from pipeline_dataengineer_spark.sources.kafka_sim import _LogStreamReader, _scan

    line = json.dumps({"value": "v", "key": None})
    log = tmp_path / "topic"
    _write_segment(log, 0, [[line, line]])
    _write_segment(log, 1, [[line]])  # a racing producer's overlapping segment
    with pytest.raises(ValueError, match="overlap or leave a gap"):
        list(_scan(str(log), "t", 0, None))
    with pytest.raises(ValueError, match="overlap or leave a gap"):
        _LogStreamReader({"path": str(log), "startingOffsets": "latest"}).initialOffset()
    old = tmp_path / "old-topic"
    (old / "seg-00000000").mkdir(parents=True)
    with pytest.raises(ValueError, match="older seg-<index> layout"):
        list(_scan(str(old), "t", 0, None))


_NO_PANDAS = """
import io, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampType)
from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches
from pipeline_dataengineer_spark.sources.kafka_sim import KafkaLogSource, _scan
schema = StructType([
    StructField("key", BinaryType()), StructField("value", BinaryType()),
    StructField("topic", StringType()), StructField("partition", IntegerType()),
    StructField("offset", LongType()), StructField("timestamp", TimestampType()),
])
batches = list(records_to_arrow_batches(
    _scan({log!r}, "t", 0, None), 10000, schema, KafkaLogSource({{}})))
ArrowStreamSerializer().dump_stream(batches, io.BytesIO())
print(json.dumps([sum(b.num_rows for b in batches), "pandas" in sys.modules]))
"""


def test_scan_and_send_leave_pandas_unimported(tmp_path):
    """The source runner's read path (``_scan``, Spark's batch check
    and its Arrow stream writer) never imports pandas."""
    log = tmp_path / "topic"
    _write_segment(log, 0, [[json.dumps({"value": f"v{i}", "key": None}) for i in range(3)]])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS.format(repo=repo, log=str(log))],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [3, False]


def test_full_round_trip_with_idempotent_sink(spark, topic, tmp_path):
    """The reference pipeline end to end: JSON-producer payload →
    topic → readStream → imposed-schema parse → foreachBatch
    anti-join append. Redelivery (fresh checkpoint, same log) appends
    NOTHING; a new segment appends only its delta."""
    from pipeline_dataengineer_spark.pipelines.recall_ingest import (
        parse_json_records,
    )
    from pipeline_dataengineer_spark.streaming.sinks import (
        idempotent_foreach_batch,
        run_available_now,
    )

    target = str(tmp_path / "sink")
    cols = ["reference_fiche", "categorie_de_produit"]

    def existing():
        if not os.path.isdir(target):
            return spark.createDataFrame([], "reference_fiche string")
        return spark.read.parquet(target).select("reference_fiche")

    def drain(ckpt):
        stream = (
            spark.readStream.format("kafka_log").option("path", topic).load()
        )
        parsed = parse_json_records(stream, columns=cols)
        fn = idempotent_foreach_batch(
            existing,
            keys=["reference_fiche"],
            writer=lambda d: d.write.mode("append").parquet(target),
        )
        q = run_available_now(parsed, fn, str(tmp_path / ckpt))
        q.awaitTermination(120)

    _produce_rows(spark, topic, [("F-1", "Épicerie"), ("F-2", "Boisson")])
    drain("ckpt1")
    assert sorted(
        r["reference_fiche"] for r in spark.read.parquet(target).collect()
    ) == ["F-1", "F-2"]

    # redelivery from offset 0 (fresh checkpoint): idempotent — no dups
    drain("ckpt2")
    assert spark.read.parquet(target).count() == 2

    # new segment: only the delta lands (F-2 re-delivered, F-3 new)
    _produce_rows(spark, topic, [("F-2", "Boisson"), ("F-3", "Surgelé")])
    drain("ckpt3")
    got = sorted(r["reference_fiche"] for r in spark.read.parquet(target).collect())
    assert got == ["F-1", "F-2", "F-3"]
