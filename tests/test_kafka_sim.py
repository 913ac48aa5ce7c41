"""Loop-back Kafka round trip: produce → readStream → foreachBatch
idempotent append — the reference's core dataflow
(``src/spark_pgsql/spark_streaming.py:38-92``) executed end to end
against a replayable append-log topic (sources/kafka_sim.py), since
broker jars are absent. Every line downstream of the source format is
the same code a real ``format("kafka")`` read would feed."""

from __future__ import annotations

import os

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


def test_stream_replays_committed_range_deterministically(spark, topic):
    from pipeline_dataengineer_spark.sources.kafka_sim import _LogStreamReader

    _produce_rows(spark, topic, [("F-1", "a"), ("F-2", "b"), ("F-3", "c")])
    r = _LogStreamReader({"path": topic})
    rows1, nxt = r.read({"offset": 0})
    first = [t[4] for t in rows1]
    assert first == [0, 1, 2] and nxt == {"offset": 3}
    # replay the committed range: byte-identical records
    again = list(r.readBetweenOffsets({"offset": 0}, {"offset": 3}))
    assert [t[4] for t in again] == first
    assert [t[1] for t in again] == [t[1] for t in list(
        r.readBetweenOffsets({"offset": 0}, {"offset": 3})
    )]
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
    assert [bytes(t[0]) for t in rows] == [b"F-new"]


def test_stream_batch_reads_each_segment_file_once(tmp_path, monkeypatch):
    from pipeline_dataengineer_spark.sources import kafka_sim

    log = tmp_path / "topic"
    for seg, keys in enumerate((["F-1", "F-2"], ["F-3"])):
        (log / f"seg-{seg:08d}").mkdir(parents=True)
        (log / f"seg-{seg:08d}" / "part-00000.json").write_text(
            "".join(f'{{"value":"v-{k}","key":"{k}"}}\n' for k in keys)
        )
    opened = []

    def counting_open(path, *args, **kwargs):
        opened.append(os.path.basename(os.path.dirname(path)))
        return open(path, *args, **kwargs)

    monkeypatch.setattr(kafka_sim, "open", counting_open, raising=False)
    r = kafka_sim._LogStreamReader({"path": str(log)})
    rows, nxt = r.read({"offset": 1})
    assert [bytes(t[0]) for t in rows] == [b"F-2", b"F-3"] and nxt == {"offset": 3}
    assert sorted(opened) == ["seg-00000000", "seg-00000001"]


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
