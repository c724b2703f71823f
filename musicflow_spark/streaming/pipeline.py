"""Streaming marts (beyond-reference extension, SURVEY §2.9): the
reference rebuilds its warehouse with full-replace batch loads
(WRITE_TRUNCATE, youtube_elt.py:353-356) and re-runs dbt; here new
``spotify_log`` rows arrive as a stream and the mart layer follows
incrementally.

Per micro-batch:
1. the batch's log rows MERGE into the warehouse log table by log_id
   (foreach_batch_upsert — last write per key wins, so replays and
   restarts are idempotent);
2. the downstream models rebuild from the updated warehouse and
   replace the mart tables through a one-task ``Pipeline``, the
   sync's own materialization path (``Pipeline.run_task``).

The per-batch mart rebuild is a deliberate correctness-first
strategy: every mart involves cross-row state (dedup windows, unions,
conservation counts), so a true row-incremental mart needs
retraction handling — on a lakehouse table format that becomes
MERGE-based incremental models; at the reference's scale the rebuild
is already cheap, and at 100 TB the log upsert (the per-event cost)
stays O(batch), with mart refresh batched on a slower trigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from musicflow_spark.config import PipelineConfig
from musicflow_spark.plans.dag import Pipeline, Task, musicflow_pipeline
from musicflow_spark.plans.pipeline import MARTS, build_all
from musicflow_spark.schemas import MUSICFLOW_SCHEMAS
from musicflow_spark.streaming.events import foreach_batch_upsert


def stream_log_to_marts(
    spark: SparkSession,
    log_stream_dir: str,
    static_sources: dict[str, DataFrame],
    cfg: PipelineConfig,
    warehouse_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
):
    """Start an availableNow streaming query that drains
    ``log_stream_dir`` (parquet spotify_log rows) into the warehouse
    and refreshes the marts after every micro-batch.  Returns the
    StreamingQuery (caller awaits termination)."""
    schema = MUSICFLOW_SCHEMAS["spotify_log"]
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(log_stream_dir)

    log_path = os.path.join(warehouse_dir, "spotify_log")
    upsert_log = foreach_batch_upsert(log_path, ["log_id"])

    def process(batch: DataFrame, batch_id: int) -> None:
        upsert_log(batch, batch_id)
        srcs = {**static_sources, "spotify_log": batch.sparkSession.read.parquet(log_path)}
        models = Task(
            "models", lambda ctx: build_all(srcs, cfg), materialize={m: "table" for m in MARTS}
        )
        Pipeline("stream_log_to_marts", warehouse_dir).add(models).run()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_library_to_marts(
    spark: SparkSession,
    library_stream_dir: str,
    sources: dict[str, DataFrame],
    cfg: PipelineConfig,
    candidate_source,
    warehouse_dir: str,
    checkpoint_dir: str,
    cache_path: str | None = None,
    max_files_per_trigger: int | None = 1,
):
    """The FULL-DAG streaming twin: the reference's "just restart the
    flow" incremental rerun (reproduce.md; Redis memoization,
    spotify_elt.py:772-797) as one continuous query.  New
    ``youtube_library`` saves arrive as a parquet file stream; each
    micro-batch upserts them into the warehouse library table and
    re-runs the COMPLETE musicflow_pipeline — extract-normalize,
    cache-aware match cascade (both passes), entity loads, staged
    models, intermediates, marts — over the accumulated library.

    Cost contract at scale: the pipeline re-run is cheap everywhere
    except candidate search, and the match cache makes search
    O(new videos) per batch — every already-matched video (and every
    already-matched other-user playlist group) replays from the
    cache with ZERO candidate-source calls, exactly the reference's
    Redis semantics.  The mart rebuild per batch is the documented
    correctness-first strategy of ``stream_log_to_marts``; on a
    lakehouse format the materializations become MERGE-based
    incremental models.

    Returns the availableNow StreamingQuery (caller awaits)."""
    schema = MUSICFLOW_SCHEMAS["youtube_library"]
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(library_stream_dir)

    lib_path = os.path.join(warehouse_dir, "youtube_library_accum")
    upsert_lib = foreach_batch_upsert(lib_path, ["id"])

    def process(batch: DataFrame, batch_id: int) -> None:
        upsert_lib(batch, batch_id)
        srcs = dict(sources)
        srcs["youtube_library"] = batch.sparkSession.read.parquet(lib_path)
        musicflow_pipeline(
            batch.sparkSession,
            srcs,
            cfg,
            candidate_source,
            warehouse_dir,
            cache_path=cache_path,
        ).run()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
