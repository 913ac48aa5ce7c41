"""Paginated REST API source — PySpark Python Data Source API.

Generalizes the reference's extractor (A1/A2,
``src/kafka_client/kafka_stream_data.py:48-75``): keyset-paginated
GET with a server-side incremental predicate, an offset cap that
re-anchors the cursor (``:63-71``), and at-least-once overlap that
defers dedup downstream.

Spark-first design: implemented as a ``DataSource`` (PySpark 4 API)
so it plugs into ``spark.read.format(...)`` and the driver-side
where/limit/order params act as hand-rolled predicate + limit + TopN
pushdown (the same contract DSv2's SupportsPushDownFilters/Limit
encode). Partition strategy: one ``InputPartition`` per date slice so
pages fetch in parallel across executors — the reference fetched
sequentially in one process.

The HTTP call itself is injected (``fetch_page``) and the default is
a deterministic stub: this container has no network and the upstream
API is irrelevant to the engine; the Spark-side plumbing (partition
planning, cursor re-anchoring, schema) is the real, tested part.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

MAX_LIMIT = 100  # page size (reference src/constants.py:5)
MAX_OFFSET = 10_000  # API offset cap (reference src/constants.py:6)


def default_fetch_page(
    where_gt: str, offset: int, limit: int
) -> list[dict[str, str]]:
    """Deterministic stand-in for the HTTP GET (no network in this
    container). Yields two synthetic pages of recall-shaped rows so
    partition/cursor logic is exercisable in tests."""
    if offset >= 2 * limit:
        return []
    n = limit if offset == 0 else limit // 2
    base = offset
    return [
        {
            "reference_fiche": f"F-{where_gt}-{base + i:05d}",
            "date_de_publication": where_gt,
            "categorie_de_produit": "Épicerie",
        }
        for i in range(n)
    ]


def fetch_all_since(
    last_processed: str,
    fetch_page: Callable[[str, int, int], list[dict[str, str]]] = default_fetch_page,
    limit: int = MAX_LIMIT,
    max_offset: int = MAX_OFFSET,
) -> Iterator[dict[str, str]]:
    """Keyset pagination with offset-cap re-anchoring (reference A2):
    when offset+limit would exceed the cap, restart from the last seen
    date minus the overlap handled by the caller's strict ``>``.
    Accepts duplicates by design — dedup is a downstream operator."""
    where_gt = last_processed
    offset = 0
    while True:
        page = fetch_page(where_gt, offset, limit)
        if not page:
            return
        yield from page
        if len(page) < limit:
            return
        offset += limit
        if offset + limit > max_offset:
            # Re-anchor: restart pagination from the newest date seen.
            where_gt = max(r.get("date_de_publication", where_gt) for r in page)
            offset = 0


class _DateSlicePartition(InputPartition):
    def __init__(self, since: str, until: str | None):
        self.since = since
        self.until = until

class _RestReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema_ = schema
        self.options = options

    def partitions(self) -> Sequence[InputPartition]:
        """One partition per date slice → parallel page fetch.
        Slices come from the 'slices' option (JSON list of
        [since, until) date pairs); default one slice = the
        reference's sequential behavior."""
        raw = self.options.get("slices")
        since = self.options.get("since", "1970-01-01")
        if not raw:
            return [_DateSlicePartition(since, None)]
        return [_DateSlicePartition(s, u) for s, u in json.loads(raw)]

    def read(self, partition: _DateSlicePartition) -> Iterator[tuple]:
        fields = [f.name for f in self.schema_.fields]
        for rec in fetch_all_since(partition.since):
            if partition.until is not None:
                d = rec.get("date_de_publication", "")
                if d >= partition.until:
                    continue
            yield tuple(rec.get(f) for f in fields)

class _RestStreamReader(SimpleDataSourceStreamReader):
    """Incremental streaming read: the reference's watermark file
    (A3, ``data/last_processed.json``) becomes the STREAM OFFSET —
    checkpoint-managed, exactly-once-tracked by Spark instead of a
    hand-rolled JSON file. Each micro-batch fetches one day's
    pages (keyset pagination inside), and the next offset is the
    following date; ``readBetweenOffsets`` replays a committed
    range deterministically for recovery."""

    def __init__(self, schema: T.StructType, options: dict):
        self.schema_ = schema
        self.options = options

    def initialOffset(self) -> dict:
        return {"since": self.options.get("since", "1970-01-01")}

    def _rows_for(self, since: str) -> list[tuple]:
        fields = [f.name for f in self.schema_.fields]
        return [
            tuple(rec.get(f) for f in fields)
            for rec in fetch_all_since(since)
        ]

    def read(self, start: dict):
        import datetime as dt

        since = start["since"]
        until = self.options.get("until")
        if until is not None and since >= until:
            return iter([]), start
        nxt = (
            dt.date.fromisoformat(since) + dt.timedelta(days=1)
        ).isoformat()
        return iter(self._rows_for(since)), {"since": nxt}

    def readBetweenOffsets(self, start: dict, end: dict):
        import datetime as dt

        d = dt.date.fromisoformat(start["since"])
        stop = dt.date.fromisoformat(end["since"])
        rows: list[tuple] = []
        while d < stop:
            rows.extend(self._rows_for(d.isoformat()))
            d += dt.timedelta(days=1)
        return iter(rows)

class RestPaginatedSource(DataSource):
    """``spark.read.format("rest_paginated")`` source (batch) and
    ``spark.readStream.format("rest_paginated")`` (incremental
    stream with checkpointed date offsets)."""

    @classmethod
    def name(cls) -> str:
        return "rest_paginated"

    def schema(self) -> str:
        return (
            "reference_fiche string, date_de_publication string, "
            "categorie_de_produit string"
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return _RestReader(schema, self.options)

    def simpleStreamReader(self, schema: T.StructType):
        return _RestStreamReader(schema, self.options)


def register_rest_source(spark: SparkSession) -> None:
    """Register the REST source on a session."""
    spark.dataSource.register(RestPaginatedSource)
