"""Spark 4 Python Data Source: the offset-paginated REST connector as
a first-class ``spark.read.format(...)`` source, sink and stream.

This is the repo's one offset page walk (S8): a user reads an API the
same way they read parquet:

    spark.dataSource.register(OffsetRestDataSource)
    df = (spark.read.format("musicflow_rest")
          .schema("id LONG, name STRING")
          .option("url", "http://host/items")   # GET ?offset=&limit=
          .option("total", 100_000)
          .option("page_size", 50)
          .option("num_partitions", 8)
          .load())

Scale shape: offsets are random-access, so ``partitions()`` splits
the offset range into ``num_partitions`` input partitions and each
executor worker walks its slice with ONE sequential HTTP client —
``num_partitions`` IS the API-concurrency bound, exactly like the
reference's sequential page loops fanned N-wide
(dags/scripts/spotify_elt.py:417-424,610-621).
Catalyst sees a normal scan; column pruning applies downstream.

Every request goes through ``sources/auth.py``: ``http_json`` makes
the call and ``retry_transient`` retries 429/5xx replies.  A bearer
token reaches the endpoint through the ``extra_headers`` option.
"""

from __future__ import annotations

import json
import urllib.parse
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from musicflow_spark.sources.auth import http_json, retry_transient
from musicflow_spark.sources.rest import API_BATCH, chunks

#: first wait of the doubling backoff when a reply has no Retry-After
_BACKOFF_S = 0.2


def _request(url: str, headers: dict, max_retries: int, payload=None):
    """``http_json`` with 429/5xx replies retried (``retry_transient``)."""
    return retry_transient(
        lambda: http_json(url, headers, payload), url, max_retries, _BACKOFF_S
    )


class OffsetSlice(InputPartition):
    """One task's pages: ``(offset, limit)`` pairs (picklable
    plan-time value)."""

    def __init__(self, pages: Sequence[tuple[int, int]]):
        self.pages = list(pages)


class OffsetRestDataSource(DataSource):
    """Register with ``spark.dataSource.register(OffsetRestDataSource)``;
    the caller passes the row schema with ``.schema(...)``."""

    @classmethod
    def name(cls) -> str:
        return "musicflow_rest"

    def reader(self, schema: StructType) -> "OffsetRestReader":
        return OffsetRestReader(schema, self.options)

    def streamReader(self, schema: StructType) -> "OffsetRestStreamReader":
        return OffsetRestStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "BatchRestWriter":
        return BatchRestWriter(schema, self.options)


class OffsetRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        if "url" not in options or "total" not in options:
            raise ValueError("musicflow_rest requires 'url' and 'total' options")
        self.fields = [f.name for f in schema.fields]
        self.url = options["url"]
        self.total = int(options["total"])
        self.page_size = int(options.get("page_size", API_BATCH))
        self.num_partitions = int(options.get("num_partitions", 4))
        self.items_key = options.get("items_key", "items")
        self.max_retries = int(options.get("max_retries", 3))
        self.headers = json.loads(options.get("extra_headers", "{}"))
        if self.total < 0 or self.page_size < 1 or self.num_partitions < 1:
            raise ValueError(
                f"need total >= 0, page_size/num_partitions >= 1, got "
                f"{self.total}/{self.page_size}/{self.num_partitions}"
            )

    def partitions(self, start: int = 0, end: int | None = None) -> list[OffsetSlice]:
        """The pages of ``[start, end)`` (default ``[0, total)``), the
        last one clipped to ``end``, dealt into at most
        ``num_partitions`` slices."""
        end = self.total if end is None else end
        pages = [(o, min(self.page_size, end - o)) for o in range(start, end, self.page_size)]
        n = min(self.num_partitions, max(len(pages), 1))
        # round-robin keeps slices balanced when pages vary in cost
        return [OffsetSlice(pages[i::n]) for i in range(n)]

    def _get(self, url: str):
        return _request(url, self.headers, self.max_retries)

    def read(self, partition: OffsetSlice) -> Iterator[tuple]:
        for off, limit in partition.pages:
            q = urllib.parse.urlencode({"offset": off, "limit": limit})
            payload = self._get(f"{self.url}?{q}")
            for row in payload.get(self.items_key, []):
                yield tuple(row.get(f) for f in self.fields)


@dataclass
class RestCommit(WriterCommitMessage):
    """Per-task commit message: what the task durably POSTed."""

    rows: int
    batches: int


class BatchRestWriter(DataSourceWriter):
    """S11 (write-back sink, chunks of 50) as the engine-native
    ``df.write.format("musicflow_rest")`` path — the DataSource V2
    writer contract instead of the ``apply_side_effects``
    foreachPartition helper (reference: like/add POST loops,
    dags/scripts/spotify_elt.py:922-979).

    Each task POSTs its partition's rows as JSON arrays of
    ``batch_size`` (default 50, the reference's API constant) to
    ``url``; transient HTTP codes retry with the reader's backoff.
    Two-phase shape: tasks return (rows, batches) commit messages
    and the DRIVER posts one commit marker to ``commit_url`` (if
    configured) only after every task succeeded; ``abort()`` posts
    to ``abort_url`` so staged rows can be discarded.

    Delivery is AT-LEAST-ONCE to the data endpoint: a task that
    POSTs some chunks and then fails is re-run by Spark and re-POSTs
    its whole partition, so duplicate chunks can reach the sink even
    on runs where the commit marker later fires.  Every chunk
    therefore carries an idempotency key — ``part`` (Spark partition
    id) + ``chunk`` (0-based chunk index within the partition) — that
    is IDENTICAL across task re-runs (same partition data, same
    chunking), so a consumer that keeps the last write per
    (part, chunk) and applies on the commit marker gets effective
    exactly-once.

    PRECONDITION (ADVICE r05): the (part, chunk) key is only stable
    when the upstream partition CONTENTS AND ROW ORDER are
    deterministic across stage retries.  Plans containing
    nondeterministic repartitioning (round-robin ``repartition(n)``
    with no keys), ``sample``/``rand``-derived rows, or unordered
    shuffle reads can re-run a task with DIFFERENT rows under the
    SAME key, silently committing mixed data.  Write through a
    deterministic boundary — key-hash repartition, an explicit
    ``sortWithinPartitions``, or a materialized (checkpointed /
    written) input — before this sink; if the upstream cannot be made
    deterministic, give the payload a content hash column so a
    drifted re-run is detectable by the consumer.  At scale the task
    count is the API-concurrency bound, same knob as the reader."""

    def __init__(self, schema: StructType, options: dict):
        if "url" not in options:
            raise ValueError("musicflow_rest writer requires the 'url' option")
        self.fields = [f.name for f in schema.fields]
        self.url = options["url"]
        self.batch_size = int(options.get("batch_size", API_BATCH))
        self.max_retries = int(options.get("max_retries", 3))
        self.headers = json.loads(options.get("extra_headers", "{}"))
        self.items_key = options.get("items_key", "items")
        self.commit_url = options.get("commit_url")
        self.abort_url = options.get("abort_url")
        if self.batch_size < 1:
            raise ValueError(f"need batch_size >= 1, got {self.batch_size}")

    def _post(self, url: str, payload: dict) -> None:
        _request(url, self.headers, self.max_retries, payload)

    def write(self, iterator: Iterator) -> RestCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else -1
        rows = batches = 0
        for batch in chunks(iterator, self.batch_size):
            # (part, chunk) = idempotency key, stable across task
            # re-runs — see the at-least-once note in the class doc
            items = [dict(zip(self.fields, row)) for row in batch]
            self._post(self.url, {self.items_key: items, "part": part, "chunk": batches})
            rows += len(batch)
            batches += 1
        return RestCommit(rows=rows, batches=batches)

    def commit(self, messages) -> None:
        if self.commit_url:
            msgs = list(messages)
            self._post(
                self.commit_url,
                {
                    "rows": sum(m.rows for m in msgs),
                    "batches": sum(m.batches for m in msgs),
                    "tasks": len(msgs),
                },
            )

    def abort(self, messages) -> None:
        if self.abort_url:
            self._post(self.abort_url, {"aborted": True})


class OffsetRestStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over a growing offset endpoint: the
    engine-native form of "poll the API for new items since the last
    run" (the reference re-runs its whole extract on an Airflow
    schedule and dedups by dict key; offset tracking reads each row
    exactly once instead).

    Offsets are the natural streaming checkpoint: ``latestOffset``
    polls ``total_url`` (GET -> {"total": N}) for the current item
    count; ``partitions(start, end)`` fans the new [start, end) range
    out in page-size slices; Structured Streaming persists the offset
    json in the checkpoint, so a restarted query resumes where it
    stopped — exactly-once per row with no dedup pass.  The batch
    reader deals and reads the pages of each range."""

    def __init__(self, schema: StructType, options: dict):
        if "url" not in options or "total_url" not in options:
            raise ValueError(
                "musicflow_rest streaming requires 'url' and 'total_url' options"
            )
        # the batch reader parses the options and deals and reads the
        # pages; streaming discovers 'total' itself, so feed a placeholder
        self._batch = OffsetRestReader(schema, {**options, "total": "0"})
        self.total_url = options["total_url"]

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        return {"offset": int(self._batch._get(self.total_url)["total"])}

    def partitions(self, start: dict, end: dict) -> list[OffsetSlice]:
        return self._batch.partitions(int(start["offset"]), int(end["offset"]))

    def read(self, partition: OffsetSlice) -> Iterator[tuple]:
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass
