"""Structured Streaming over the events table (beyond-reference
extension, SURVEY §2.9).

The reference is batch-only; its nearest analogues are Redis
memoization (incremental re-runs, spotify_elt.py:772-797) and the
run-over-run dedup encoded in ``status``.  This module exposes the
same event-analytics operators as queries/events.py in streaming
form, built on the idiomatic primitives:

- file-source ``readStream`` with explicit schema,
- ``withWatermark`` + ``window``/``session_window`` aggregations,
- a custom stateful operator via ``applyInPandasWithState``
  (latest-event-per-user upsert state),
- a ``foreachBatch`` upsert sink (the streaming twin of the
  reference's WRITE_TRUNCATE-vs-append load semantics).

Scale notes: streaming aggregations shuffle on the grouping key
exactly like their batch twins; state store size is bounded by the
watermark (windows/sessions older than it are evicted).  Exact
``countDistinct`` is not expressible in streaming — the hourly stream
uses ``approx_count_distinct`` (HLL), a documented deviation from the
batch twin.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from musicflow_spark.sources.catalog import existing_table, overwrite_touched_partitions, replace_table

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over an events parquet directory.

    Streaming sources need a static schema — taken from a batch read
    of the same directory (the standard file-stream idiom).  The
    TIMESTAMP(NANOS) normalization of sources/catalog.py::read_table
    is applied when the at-rest type is nanos-as-long.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        # Spark 4 infers parquet naive timestamps as TIMESTAMP_NTZ, but
        # watermarks/event-time windows require TIMESTAMP.  The session
        # timezone is pinned UTC (session.py), so this cast relabels the
        # type without shifting any value.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def hourly_event_stats_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of queries/events.py::hourly_event_stats:
    watermarked tumbling-window aggregate.  Same cents-exact value
    arithmetic; ``n_users`` is approximate (HLL) — exact distinct is
    not a streaming-expressible aggregate."""
    cents = F.sum(F.round(F.col("value") * 100, 0).cast("long"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (cents / 100.0).alias("total_value"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "total_value", "n_users_approx")
    )


def sliding_event_stats_stream(
    events: DataFrame,
    duration: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "3 hours",
) -> DataFrame:
    """Watermarked SLIDING-window aggregate (window > slide): every
    event lands in duration/slide overlapping windows, the one
    windowing mode the tumbling/session twins don't exercise — state
    holds multiple open windows per key and the watermark closes them
    front-to-back.  Cents-exact value sums, append-mode finalization."""
    cents = F.sum(F.round(F.col("value") * 100, 0).cast("long"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), (cents / 100.0).alias("total_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def user_sessions_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization on the native ``session_window``
    primitive: events within ``gap`` of each other merge; a session
    finalizes once the watermark passes its close (append mode).
    Batch twin with identical semantics:
    queries/events.py::session_window_stats."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0).alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


#: output/state shapes for the stateful latest-event operator
_LATEST_OUTPUT = "user_id bigint, event_id bigint, ts timestamp, event_type string, value double"
_LATEST_STATE = "event_id bigint, ts timestamp, event_type string, value double"


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup — the ingestion twin of
    operators/dedup.py::exact_dedup and the streaming form of the
    reference's natural-key dedup (dedup_by_key, sources/ingest.py):
    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per key
    and evicts key state once the watermark passes it, so state is
    bounded by (arrival rate x watermark), never the stream's
    history.  Exactly the operator a 100 TB training-data ingest
    needs: late replays inside the watermark are dropped, replays
    beyond it are a documented at-least-once boundary."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def content_dedup_stream(
    events: DataFrame,
    text_col: str = "props",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Content-keyed streaming dedup: fingerprint the payload with the
    same normalize+md5 the batch exact_dedup uses, then key the
    watermarked dedup on the fingerprint — duplicate CONTENT arriving
    under different ids within the watermark is dropped."""
    from musicflow_spark.operators.textstats import normalize_for_fingerprint

    fp = F.md5(normalize_for_fingerprint(text_col))
    return (
        events.withColumn("fp", fp)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def latest_event_per_user_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: keeps
    one row of state per user (their latest event by (ts, event_id))
    and emits the new latest whenever it changes — the streaming form
    of W2/O3 top-1-per-key (queries/events.py::latest_event_per_user).

    State is one tiny tuple per key, so the state store scales with
    |users|, not |events|; no timeout — the 'latest' never expires.
    """

    def fn(key: tuple, pdfs: Iterator["pd.DataFrame"], state) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        best = state.get if state.exists else None  # (event_id, ts, event_type, value)
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                cand = (int(row.event_id), row.ts.to_pydatetime(), row.event_type, float(row.value))
                if best is None or (cand[1], cand[0]) > (best[1], best[0]):
                    best = cand
        if best is not None:
            state.update(best)
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "event_id": best[0],
                        "ts": best[1],
                        "event_type": best[2],
                        "value": best[3],
                    }
                ]
            )

    return (
        events.select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(fn, _LATEST_OUTPUT, _LATEST_STATE, "update", "NoTimeout")
    )


def foreach_batch_upsert(path: str, keys: list[str]):
    """A ``foreachBatch`` sink that merges each micro-batch into a
    parquet table by key (delete-matching + insert): the streaming
    upsert the reference approximates with WRITE_TRUNCATE reloads.

    Parquet has no transactional MERGE, so the merged table is swapped
    in through ``replace_table``, and the next batch's
    ``existing_table`` finishes a swap that was interrupted — on a
    lakehouse table format (Delta/Iceberg) this function body becomes
    a single MERGE INTO.
    Batches arriving for the same key overwrite (last write wins),
    which with update-mode aggregations converges to the exact final
    aggregate per key.
    """

    def sink(batch: DataFrame, _batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)  # freeze before the swap
        existing = existing_table(batch.sparkSession, path)
        if existing is not None:
            merged = existing.join(batch.select(*keys), keys, "left_anti").unionByName(batch)
        else:
            merged = batch
        replace_table(merged, path)

    return sink


def foreach_batch_rollup_merge(path: str, keys: list[str]):
    """The streaming form of incremental materialization
    (operators/scd.py::merge_partial_rollups): each micro-batch of an
    APPEND-mode stream is pre-aggregated to one partial rollup and
    merged into the materialized rollup table — the running table is
    exact after every batch because append-mode batches are disjoint
    and the measures are algebraic.  Unlike update-mode streaming
    aggregation this keeps NO state store: the table itself is the
    state, so the operator restarts from disk for free.

    Expects batches already shaped (keys..., measure columns); every
    non-key column must be sum-mergeable.  Same ``replace_table`` swap
    as foreach_batch_upsert; on Delta/Iceberg this becomes MERGE INTO
    with ``+=`` set clauses."""
    from musicflow_spark.operators.scd import merge_partial_rollups

    metrics: list[dict] = []

    def sink(batch: DataFrame, batch_id: int) -> None:
        # dbt-style per-batch row accounting, observed on the merge
        # action itself (no extra scan) — mirrors Pipeline.metrics
        obs = Observation()
        batch = batch.observe(obs, F.count(F.lit(1)).alias("rows_in"))
        val_cols = [c for c in batch.columns if c not in keys]
        partial = batch.groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in val_cols]
        )
        parts = [partial]
        existing = existing_table(batch.sparkSession, path)
        if existing is not None:
            parts.append(existing)
        merged = merge_partial_rollups(parts, keys).localCheckpoint(eager=True)
        metrics.append({"batch_id": batch_id, **obs.get})
        replace_table(merged, path)

    sink.metrics = metrics
    return sink


def foreach_batch_sketch_merge(
    path: str,
    keys: list[str],
    build_aggs: dict,
    merge_aggs: dict,
):
    """Streaming maintenance for MERGEABLE SKETCH columns (HLL /
    KLL / theta binary partials) with no state store — the sketch
    sibling of ``foreach_batch_rollup_merge`` (whose measures must be
    sum-mergeable; sketches merge by union instead).

    ``build_aggs``: output column -> aggregate Column over RAW batch
    rows (e.g. ``F.hll_sketch_agg("user_id")``).  ``merge_aggs``:
    same output column -> aggregate Column over PARTIAL rows that
    unions already-built sketches (e.g. ``F.hll_union_agg(col)``).
    Each micro-batch builds per-key partials, unions them with the
    materialized table, and swaps through ``replace_table`` — correct for
    append-mode streams because sketch union is associative and
    commutative, so any arrival chunking yields a valid sketch of
    ALL arrivals (HLL register-max and theta min-hash unions are
    order-insensitive bit-for-bit; KLL's randomized compaction makes
    the BYTES order-dependent but preserves the rank-error
    guarantee, which is the sketch's contract — gate estimates, not
    bytes; see tests/test_streaming.py).

    At 100 TB this is the pattern that replaces update-mode
    aggregation state: per-(day, key) sketch rows are the state,
    restart reads them from the table, and a year of quantile /
    distinct / set-overlap questions re-merges kilobyte partials
    instead of rescanning events."""

    def sink(batch: DataFrame, _batch_id: int) -> None:
        partial = batch.groupBy(*keys).agg(
            *[a.alias(c) for c, a in build_aggs.items()]
        )
        prev = existing_table(batch.sparkSession, path)
        if prev is not None:
            partial = partial.unionByName(prev).groupBy(*keys).agg(
                *[a.alias(c) for c, a in merge_aggs.items()]
            )
        replace_table(partial.localCheckpoint(eager=True), path)

    return sink


def foreach_batch_merge_into(
    path: str,
    on: list[str],
    update_set=None,
    delete_when=None,
    insert_set=None,
):
    """The streaming tier of operators/mergeinto.py: each micro-batch
    is a CDC-style updates frame merged into the materialized table
    with full MERGE semantics — matched-update, matched-delete,
    not-matched-insert, carry — then swapped in through
    ``replace_table``, whose interrupted swap the next batch's
    ``existing_table`` finishes (on a lakehouse format this body
    becomes a transactional MERGE INTO).

    First batch bootstraps the table as pure inserts.  Convergence
    contract: if per-key updates arrive in source order within a batch
    and across batches (one key per batch at most once — pre-aggregate
    the batch on ``on`` upstream when the source can repeat keys), the
    final table equals the one-shot batch merge of all updates
    (proven in tests/test_streaming.py).

    At 100 TB the same shape runs against a bucketed base (see
    tests/test_merge.py::test_bucketed_merge_runs_shuffle_free — the
    full-outer join plans zero exchanges) so each micro-batch costs
    one co-located merge pass, not a table rewrite."""
    from musicflow_spark.operators.mergeinto import merge_into

    def sink(batch: DataFrame, _batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        base = existing_table(batch.sparkSession, path)
        if base is not None:
            merged = merge_into(
                base, batch, on=on,
                update_set=update_set, delete_when=delete_when,
                insert_set=insert_set,
            )
        else:
            # bootstrap: every row is a not-matched-insert (MERGE's
            # matched-delete clause never fires on unmatched rows)
            cols = list(on) + [
                c.alias(name)
                for name, c in (insert_set or {}).items()
            ]
            merged = batch.select(*cols)
        replace_table(merged.localCheckpoint(eager=True), path)

    return sink


def foreach_batch_partitioned_fold(
    path: str,
    partition_col: "str | list[str]",
    key_cols: list[str],
):
    """Streaming maintenance of a PARTITIONED at-rest table (the
    ``knn_ivf_at_rest_ingest`` commit per micro-batch — VERDICT r11
    item 7): each batch's partition values (bounded by the batch's
    own spread) are the touched partitions, and
    ``overwrite_touched_partitions`` folds the batch into them:
    stored rows whose key re-arrives are dropped before the union
    (REPLAY IDEMPOTENCE: at-least-once redelivery of a batch commits
    the same table — the exactly-once story for a continuously-crawled
    corpus index), and untouched partitions' files are never
    rewritten (byte/mtime-asserted in
    tests/test_streaming_ivf_at_rest.py).  At 100 TB each micro-batch
    costs O(batch + touched partitions), never an index rewrite."""

    part_cols = (
        [partition_col] if isinstance(partition_col, str) else list(partition_col)
    )

    def sink(batch: DataFrame, _batch_id: int) -> None:
        touched = [tuple(r) for r in batch.select(*part_cols).distinct().collect()]
        overwrite_touched_partitions(
            batch.sparkSession, path, part_cols, touched,
            lambda stored: stored.join(
                batch.select(*key_cols).distinct(), key_cols, "left_anti"
            ).unionByName(batch),
        )

    return sink


def foreach_batch_partitioned_delete(
    path: str,
    partition_col: "str | list[str]",
    key_col: str,
):
    """Streaming DELETE maintenance of a partitioned at-rest table
    (the ``knn_ivf_at_rest_delete`` tombstone fold per micro-batch —
    VERDICT r12 item 3's streaming half): each batch carries KEYS to
    remove; the stored rows of those keys locate the touched
    partitions (one key-filtered scan, batch-bounded collect), and
    ``overwrite_touched_partitions`` rewrites those minus the keys —
    dropping any partition the delete emptied.  REPLAY IDEMPOTENT by
    construction: redelivering a delete finds no stored rows for the
    key, touches nothing, and commits nothing — at-least-once
    delivery of takedowns converges to the one-shot fold.

    At 100 TB each micro-batch costs O(batch lookup + touched
    partitions), never an index rewrite."""
    part_cols = (
        [partition_col] if isinstance(partition_col, str) else list(partition_col)
    )

    def sink(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        keys = sorted(
            r[key_col] for r in batch.select(key_col).distinct().collect()
        )
        if not keys:
            return
        touched = [
            tuple(r)
            for r in spark.read.parquet(path)
            .filter(F.col(key_col).isin(keys))
            .select(*part_cols)
            .distinct()
            .collect()
        ]
        overwrite_touched_partitions(
            spark, path, part_cols, touched,
            lambda stored: stored.filter(~F.col(key_col).isin(keys)),
        )

    return sink


def foreach_batch_scd2(
    path: str,
    key: str,
    tracked: list[str],
    tick_col: str = "tick",
):
    """The streaming tier of operators/scd.py::scd2_merge: each
    micro-batch is one dimension-refresh batch folded into the
    materialized Type-2 history with the check-strategy rules
    (changed -> close+reopen, unchanged -> no version, new -> insert,
    absent -> untouched), then swapped in through ``replace_table`` —
    the foreach_batch_merge_into pattern with history semantics.  The
    history must exist (seed it with ``scd2_init``); the next batch's
    ``existing_table`` finishes an interrupted swap.  The
    batch's ``tick_col`` column (constant per batch by construction —
    one refresh file per trigger) becomes the merge's batch_id, so
    version stamps are source-defined rather than epoch-defined and
    replay/restart cannot renumber history.

    At 100 TB the history partitions by ``valid_to IS NULL`` and each
    micro-batch rewrites only the open partition (the scd2_merge
    contract); the swap becomes a transactional MERGE on a lakehouse
    format."""
    from musicflow_spark.operators.scd import scd2_merge

    def sink(batch: DataFrame, _batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        # bounded 1-row collect: the batch's constant refresh tick.
        # A batch spanning TWO ticks (e.g. a restart re-batching
        # several refresh files into one trigger) would silently
        # collapse two history versions into one — fail loudly
        # instead of renumbering history.
        r = batch.agg(
            F.min(tick_col).alias("lo"), F.max(tick_col).alias("t")
        ).collect()[0]
        tick = r["t"]
        if tick is None:
            return
        if r["lo"] != tick:
            raise ValueError(
                f"micro-batch spans refresh ticks {r['lo']}..{tick}; "
                "one refresh file per trigger is the sink's contract"
            )
        history = existing_table(batch.sparkSession, path)
        if history is None:
            raise FileNotFoundError(f"no SCD-2 history at {path}; seed it with scd2_init")
        merged = scd2_merge(
            history,
            batch.drop(tick_col),
            key,
            tracked,
            batch_id=int(tick),
        ).localCheckpoint(eager=True)
        replace_table(merged, path)

    return sink
