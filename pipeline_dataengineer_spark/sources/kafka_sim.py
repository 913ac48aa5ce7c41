"""Loop-back Kafka topic simulation: a replayable append-log source.

The reference's core dataflow is Kafka streaming (consumer:
``src/spark_pgsql/spark_streaming.py:38-44``; producer:
``src/kafka_client/kafka_stream_data.py:117-125``), but the
spark-sql-kafka jars are not in this container, so the real
produce→consume round trip is jar-gated. This module closes the gap
behaviorally: a TOPIC is a directory of immutable, atomically-renamed
SEGMENTS, and a PySpark 4 Python DataSource exposes it with Kafka's
exact consumer contract —

- rows carry the Kafka scan schema: ``key binary, value binary,
  topic string, partition int, offset long, timestamp timestamp``;
- offsets are stable, monotone, and REPLAYABLE: a committed offset
  range re-reads byte-identically (``readBetweenOffsets``), which is
  the property checkpoint recovery depends on;
- ``startingOffsets earliest|latest`` honored like the real source;
- producers append whole segments ATOMICALLY (write to a staging dir,
  ``os.rename`` into place), so a concurrent reader never observes a
  half-written batch — the file-system analogue of a producer commit.

Production swaps ``format("kafka_log")`` for ``format("kafka")`` +
brokers (``sources/kafka.py``, whose consumer option set is
golden-tested against the reference); every downstream line —
value parsing, imposed-schema JSON, foreachBatch idempotent append —
is identical, which is exactly what the e2e pytest exercises.

Scale notes: one simulated partition (the reference ran a 1-partition
topic, README:134-138). There is no offset index: each micro-batch
lists the segment files and reads the log once, from its first
record to its end, decoding only the records at or past the batch's
start offset; the batch's end offset is the one after the last
record read. A batch therefore reads every segment, old ones
included — fine for a loop-back harness; the real connector gets
offsets from the broker. Segments are JSON-lines
written by Spark itself (``DataFrame.write.json``), so producing is
distributed — no driver-side collect."""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:  # PySpark >= 4
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        SimpleDataSourceStreamReader,
    )

    _HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - PySpark 3.x fallback
    DataSource = object
    DataSourceReader = object
    SimpleDataSourceStreamReader = object
    _HAS_DATASOURCE_API = False

KAFKA_SCAN_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp"
)


def produce(log_dir: str, payload_df: DataFrame) -> int:
    """Append one atomic segment to the topic log from a payload
    DataFrame shaped like ``sinks.writers.kafka_json_payload`` output
    (``value`` string column, optional ``key``). Returns the segment
    index. Distributed write: Spark serializes the segment files;
    only the rename happens on the driver (atomic publish)."""
    cols = ["value"] + (["key"] if "key" in payload_df.columns else [])
    staging = os.path.join(log_dir, f".staging-{uuid.uuid4().hex}")
    payload_df.select(*cols).write.json(staging)
    os.makedirs(log_dir, exist_ok=True)
    existing = _segments(log_dir)
    seg_idx = (int(existing[-1].rsplit("-", 1)[1]) + 1) if existing else 0
    final = os.path.join(log_dir, f"seg-{seg_idx:08d}")
    os.rename(staging, final)
    return seg_idx


def _segments(log_dir: str) -> list[str]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(n for n in os.listdir(log_dir) if n.startswith("seg-"))


def _segment_files(log_dir: str) -> list[str]:
    """All record files in offset order: segments sorted by index,
    part files within a segment sorted by name — deterministic, so
    offset N always names the same record."""
    files: list[str] = []
    for seg in _segments(log_dir):
        seg_dir = os.path.join(log_dir, seg)
        files.extend(
            os.path.join(seg_dir, f)
            for f in sorted(os.listdir(seg_dir))
            if f.startswith("part-") and f.endswith(".json")
        )
    return files


def _scan(log_dir: str, topic: str, start: int, end: int | None):
    """Yield Kafka-shaped tuples for offsets [start, end)."""
    import json

    offset = 0
    for path in _segment_files(log_dir):
        mtime = datetime.fromtimestamp(os.path.getmtime(path), tz=timezone.utc)
        with open(path, "rb") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                if offset >= start and (end is None or offset < end):
                    rec = json.loads(line)
                    key = rec.get("key")
                    yield (
                        key.encode() if key is not None else None,
                        rec["value"].encode(),
                        topic,
                        0,
                        offset,
                        mtime,
                    )
                offset += 1
                if end is not None and offset >= end:
                    return


def _count(log_dir: str) -> int:
    n = 0
    for path in _segment_files(log_dir):
        with open(path, "rb") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


if _HAS_DATASOURCE_API:

    class _LogBatchReader(DataSourceReader):
        def __init__(self, options: dict):
            self.log_dir = options["path"]
            self.topic = options.get("topic", os.path.basename(options["path"]))

        def read(self, partition):
            yield from _scan(self.log_dir, self.topic, 0, None)

    class _LogStreamReader(SimpleDataSourceStreamReader):
        """Offset = global record index; committed ranges replay
        byte-identically (the Kafka recovery contract)."""

        def __init__(self, options: dict):
            self.log_dir = options["path"]
            self.topic = options.get("topic", os.path.basename(options["path"]))
            self.starting = options.get("startingOffsets", "earliest")

        def initialOffset(self) -> dict:
            if self.starting == "latest":
                return {"offset": _count(self.log_dir)}
            return {"offset": 0}

        def read(self, start: dict):
            # materialized list, not a generator: Spark's prefetch
            # cache copies the iterator, and generators don't copy
            rows = list(_scan(self.log_dir, self.topic, start["offset"], None))
            if not rows:
                return iter([]), start
            return iter(rows), {"offset": rows[-1][4] + 1}

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter(
                list(_scan(self.log_dir, self.topic, start["offset"], end["offset"]))
            )

    class KafkaLogSource(DataSource):
        """``format("kafka_log").option("path", dir)`` — batch and
        streaming reads with Kafka's scan schema and offset
        semantics over a local append-log."""

        @classmethod
        def name(cls) -> str:
            return "kafka_log"

        def schema(self) -> str:
            return KAFKA_SCAN_SCHEMA

        def reader(self, schema: T.StructType) -> DataSourceReader:
            return _LogBatchReader(self.options)

        def simpleStreamReader(self, schema: T.StructType):
            return _LogStreamReader(self.options)

else:  # pragma: no cover

    class KafkaLogSource:  # type: ignore[no-redef]
        pass


def register_kafka_log_source(spark: SparkSession) -> None:
    """Register the loop-back topic source (PySpark 4+ only)."""
    if not _HAS_DATASOURCE_API:
        raise NotImplementedError("Python Data Source API requires PySpark >= 4")
    spark.dataSource.register(KafkaLogSource)
