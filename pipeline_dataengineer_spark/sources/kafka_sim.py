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

Scale notes: one simulated partition (the reference ran a
1-partition topic, README:134-138). Segments are named like Kafka's
log segments, by their first offset (20 digits) and their record
count: ``seg-<first>-<rows>``. ``produce`` counts the newlines of the
part files it staged (Spark writes one JSON record per line and
escapes newlines inside strings), so the topic's high-water mark,
``startingOffsets=latest`` and the offset range of every segment come
from a directory listing, with no file read. A listing whose segments
overlap or leave a gap (two producers raced on the topic) raises.

What a micro-batch reads: only the segments that overlap its offset
range ``[start, end)``; older ones are skipped without being opened,
so a round that drains one new segment reads one segment whatever the
topic's length. Each part file is parsed by ``pyarrow.json.read_json``
as one block (so no record is too long to parse) with an explicit
``value``/``key`` string schema, sliced to the range
and handed to Spark as ``pyarrow.RecordBatch``es carrying exactly the
Arrow form of ``KAFKA_SCAN_SCHEMA``: ``key``/``value`` are the parsed
strings viewed as binary (zero-copy), and ``topic``, ``partition``,
``offset`` and ``timestamp`` (the part file's mtime, UTC microseconds)
are built over ``array.array`` buffers. Spark passes such batches
through after checking column names only. Nothing here calls
``pa.array``, which imports pandas to test whether its input is a
pandas object: the source runner Spark starts for each streaming query
never imports pandas. Segments are JSON-lines written by Spark itself
(``DataFrame.write.json``), so producing is distributed — no
driver-side collect; one producer per topic."""

from __future__ import annotations

import array
import os
import re
import shutil
import uuid

import pyarrow as pa
from pyarrow import json as pa_json
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
# the Arrow form of KAFKA_SCAN_SCHEMA (pyspark's to_arrow_schema of it)
_ARROW_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
])
_PAYLOAD_SCHEMA = pa.schema([("value", pa.string()), ("key", pa.string())])
_PARSE = pa_json.ParseOptions(
    explicit_schema=_PAYLOAD_SCHEMA, unexpected_field_behavior="ignore"
)
_SEGMENT = re.compile(r"seg-(\d{20})-(\d+)")


def produce(log_dir: str, payload_df: DataFrame) -> int:
    """Append one atomic segment to the topic log from a payload
    DataFrame shaped like ``sinks.writers.kafka_json_payload`` output
    (``value`` string column, optional ``key``). Returns the segment's
    first offset. Distributed write: Spark serializes the segment
    files; the driver counts their lines and renames the staging
    directory (atomic publish). An empty payload publishes nothing."""
    cols = ["value"] + (["key"] if "key" in payload_df.columns else [])
    staging = os.path.join(log_dir, f".staging-{uuid.uuid4().hex}")
    payload_df.select(*cols).write.json(staging)
    rows = 0
    for path in _part_files(staging):
        with open(path, "rb") as fh:
            rows += sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b""))
    first = _high_water_mark(log_dir)
    if rows == 0:
        shutil.rmtree(staging)
        return first
    os.rename(staging, os.path.join(log_dir, f"seg-{first:020d}-{rows}"))
    return first


def _segments(log_dir: str) -> list[tuple[int, int, str]]:
    """``(first offset, record count, directory)`` of every segment,
    in offset order, from the directory names alone. Raises when the
    segments' offset ranges do not follow one another (two producers
    raced on the topic) or a name is not ``seg-<first>-<rows>``."""
    if not os.path.isdir(log_dir):
        return []
    segs = []
    for name in os.listdir(log_dir):
        if name.startswith("seg-"):
            m = _SEGMENT.fullmatch(name)
            if m is None:
                raise ValueError(
                    f"{os.path.join(log_dir, name)}: not a seg-<first offset, 20 digits>-<rows> "
                    "segment; topics written in the older seg-<index> layout must be produced again"
                )
            segs.append((int(m[1]), int(m[2]), os.path.join(log_dir, name)))
    segs.sort()
    for (first, rows, seg_dir), (nxt, _, nxt_dir) in zip(segs, segs[1:]):
        if nxt != first + rows:
            raise ValueError(
                f"{nxt_dir} starts at offset {nxt}, but {seg_dir} ends at {first + rows}: "
                "the topic's segments overlap or leave a gap (one producer per topic)"
            )
    return segs


def _high_water_mark(log_dir: str) -> int:
    """The offset the next produced record gets."""
    segs = _segments(log_dir)
    return segs[-1][0] + segs[-1][1] if segs else 0


def _part_files(seg_dir: str) -> list[str]:
    """A segment's record files, sorted by name — deterministic, so
    offset N always names the same record."""
    return [
        os.path.join(seg_dir, f)
        for f in sorted(os.listdir(seg_dir))
        if f.startswith("part-") and f.endswith(".json")
    ]


def _constant(type_: pa.DataType, n: int, code: str, value: int) -> pa.Array:
    return pa.Array.from_buffers(
        type_, n, [None, pa.py_buffer(array.array(code, [value]) * n)]
    )


def _batch(payload: pa.RecordBatch, topic: bytes, first: int, ts_us: int):
    n = payload.num_rows
    step = len(topic)
    ends = array.array("i", range(0, (n + 1) * step, step) if step else bytes(4 * (n + 1)))
    topic_col = pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(ends), pa.py_buffer(topic * n)]
    )
    offsets = pa.Array.from_buffers(
        pa.int64(), n, [None, pa.py_buffer(array.array("q", range(first, first + n)))]
    )
    return pa.RecordBatch.from_arrays(
        [
            payload.column(1).view(pa.binary()),
            payload.column(0).view(pa.binary()),
            topic_col,
            _constant(pa.int32(), n, "i", 0),
            offsets,
            _constant(pa.timestamp("us", tz="UTC"), n, "q", ts_us),
        ],
        schema=_ARROW_SCHEMA,
    )


def _scan(log_dir: str, topic: str, start: int, end: int | None):
    """Yield Kafka-shaped ``pyarrow.RecordBatch``es (``_ARROW_SCHEMA``,
    none of them empty) for offsets [start, end). Segments wholly
    outside the range are not opened."""
    topic_bytes = topic.encode()
    for first, rows, seg_dir in _segments(log_dir):
        if first + rows <= start:
            continue
        if end is not None and first >= end:
            return
        offset = first
        for path in _part_files(seg_dir):
            st = os.stat(path)
            if st.st_size == 0:
                continue
            # one block for the whole file: a record longer than a block
            # cannot be parsed, and the file becomes one table anyway
            read = pa_json.ReadOptions(
                use_threads=False, block_size=min(max(st.st_size, 1 << 20), (1 << 31) - 1)
            )
            table = pa_json.read_json(path, read_options=read, parse_options=_PARSE)
            lo = max(start - offset, 0)
            hi = table.num_rows if end is None else min(table.num_rows, end - offset)
            for payload in table.slice(lo, max(hi - lo, 0)).to_batches():
                if payload.num_rows:
                    yield _batch(payload, topic_bytes, offset + lo, st.st_mtime_ns // 1000)
                    lo += payload.num_rows
            offset += table.num_rows
            if end is not None and offset >= end:
                return
        if offset != first + rows:
            raise ValueError(
                f"{seg_dir} holds {offset - first} records, its name says {rows}"
            )


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
                return {"offset": _high_water_mark(self.log_dir)}
            return {"offset": 0}

        def read(self, start: dict):
            # materialized list, not a generator: Spark's prefetch
            # cache copies the iterator, and generators don't copy
            batches = list(_scan(self.log_dir, self.topic, start["offset"], None))
            if not batches:
                return iter([]), start
            return iter(batches), {"offset": batches[-1]["offset"][-1].as_py() + 1}

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
