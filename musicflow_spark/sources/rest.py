"""Paginated REST sources, batched enrichment and the chunked
write-back sink (SURVEY §2.1 S3-S8, S11).

The reference walks every API with a sequential driver loop
(``nextPageToken`` loops, youtube_elt.py:87-123,126-204; offset
pagination, spotify_elt.py:417-424,610-621), enriches rows with
batched id lookups (durations in comma-joined chunks of 50,
youtube_elt.py:255-280) and writes likes/adds back in chunks of 50
(spotify_elt.py:922-979).  Spark shapes:

- **Token pagination** is inherently sequential (each page reveals
  the next token), so the fetch loop stays on the driver and lands in
  a typed DataFrame — the parallelism story is N independent sources
  (playlists, channels) fetched as separate tasks, not one token
  chain.
- **Offset pagination** IS random-access: offsets are known up front,
  so pages fan out across the cluster.  That walk is the
  ``musicflow_rest`` Data Source (sources/datasource.py).
- **Batched point-lookup enrichment** becomes an Arrow-batched
  mapInPandas stage: ids chunked client-side (the API's batch limit),
  one lookup call per chunk, results merged back columnar.
- **Write-backs** are a foreachPartition sink over the same chunks.

Every fetch callable these take makes its HTTP call with
``sources/auth.py::http_json`` (tests may pass fakes), wrapped in
``with_auth_retry`` where it needs a token.  A callable shipped to
executors must be picklable.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: the reference APIs' per-call item limit: rows per offset page, ids
#: per lookup, items per like/add write-back
API_BATCH = 50


def chunks(items: Iterable, size: int = API_BATCH) -> Iterator[list]:
    """``items`` in lists of ``size``, the last one shorter; lazy, so
    a partition iterator is never held whole."""
    it = iter(items)
    while batch := list(itertools.islice(it, size)):
        yield batch


def fetch_token_paginated(
    spark: SparkSession,
    fetch_page: Callable[[str | None], tuple[list[dict], str | None]],
    schema: T.StructType | str,
    max_pages: int = 10_000,
) -> DataFrame:
    """S3/S4/S6: driver-side ``nextPageToken`` loop -> typed DataFrame.

    fetch_page(token) returns (rows, next_token); next_token None ends
    the walk (exactly the reference loop shape, youtube_elt.py:99-123).
    ``max_pages`` guards against a server that never terminates."""
    rows: list[dict] = []
    token: str | None = None
    for _ in range(max_pages):
        page, token = fetch_page(token)
        rows.extend(page)
        if token is None:
            break
    else:
        raise RuntimeError(f"pagination did not terminate within {max_pages} pages")
    return spark.createDataFrame(rows, schema)


def batched_enrichment(
    df: DataFrame,
    id_col: str,
    lookup: Callable[[list[Any]], dict[Any, dict]],
    extra_fields: list[T.StructField],
    batch_size: int = API_BATCH,
) -> DataFrame:
    """S5: batched point-lookup enrichment — the reference fetches
    durations for comma-joined id chunks of 50 (youtube_elt.py:
    255-280).  Arrow-batched mapInPandas: each pandas batch chunks its
    ids, calls ``lookup(ids) -> {id: {field: value}}`` once per chunk,
    and appends the new columns.  Ids missing from the response get
    nulls (the reference warns and zero-fills; null + downstream
    ``when`` is the relational form)."""
    out_schema = T.StructType(list(df.schema.fields) + list(extra_fields))
    names = [f.name for f in extra_fields]

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            ids = list(pdf[id_col])
            found: dict[Any, dict] = {}
            for batch in chunks(ids, batch_size):
                found.update(lookup(batch))
            for name in names:
                pdf[name] = [found.get(v, {}).get(name) for v in ids]
            yield pdf

    return df.mapInPandas(run, out_schema)


def apply_side_effects(df: DataFrame, batch_fn, batch_size: int = API_BATCH) -> None:
    """S11: side-effecting sink — foreachPartition with client-side
    chunking (reference likes/adds in chunks of 50,
    spotify_elt.py:922-979).  batch_fn receives a list of Rows."""

    def run(partition: Iterator) -> None:
        for batch in chunks(partition, batch_size):
            batch_fn(batch)

    df.foreachPartition(run)


def lookup_join_enrichment(
    df: DataFrame, lookup_table: DataFrame, id_col: str
) -> DataFrame:
    """S5's alternative shape: when the lookup set is fetched once as
    a table, enrichment is a broadcast left join — preferred whenever
    the dimension fits the broadcast threshold because it keeps the
    whole stage JVM-side."""
    from pyspark.sql import functions as F

    return df.join(F.broadcast(lookup_table), id_col, "left")
