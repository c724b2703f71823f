"""Thin orchestration (SURVEY §3.3, §7.7): the reference splits work
into Airflow tasks (dags/*_dag.py) and lets dbt order models by their
ref() DAG; here both become one dependency-ordered task runner,
``Pipeline``.  Every DAG of the port is a ``Pipeline``: the main ELT
below and the reference's small DAGs in ``plans/airflow_dags.py``.

A task output is one of two things:

- ``ephemeral``  -> stays a DataFrame, not written to the warehouse
                    (dbt's ephemeral CTE).  Most such models stay
                    lazy and Catalyst inlines them downstream; the two
                    intermediates, which several models read, sit on
                    ``build_all``'s lazy checkpoint, so their joins run
                    once per build however many models read them
- ``table``      -> replaces its warehouse table through
                    ``sources/catalog.py::replace_table`` and is re-read
                    with the schema it was written with (dbt marts
                    default; the read-back truncates lineage exactly
                    where dbt materializes).  A failed write leaves the
                    previous table readable

A task's table writes are independent Spark actions, so ``run_task``
submits them together from Python threads (``session.run_concurrently``,
dbt's ``threads``): their small jobs share the cores instead of
queueing.  Each thread inherits the caller's job group.  When a write
fails, the others still finish, and ``run_task`` raises the failure.

Airflow itself stays optional by design: ``Pipeline.run_task`` is the
one step that runs a task and materializes its outputs, both here and
under ``airflow_dags.to_airflow``.  Nothing here imports airflow.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from musicflow_spark.schemas import MUSICFLOW_SCHEMAS
from musicflow_spark.session import run_concurrently
from musicflow_spark.sources.catalog import replace_table


@dataclass
class Task:
    name: str
    fn: Callable[[dict], dict | None]
    deps: tuple[str, ...] = ()
    #: materialization per output model name; default ephemeral
    materialize: dict[str, str] = field(default_factory=dict)


@dataclass
class Pipeline:
    """Dependency-ordered task execution over a shared model context.

    ``run`` returns the context: every model name -> DataFrame, with
    'table' models re-read from their written parquet.  Outputs that
    are not DataFrames (a token, a flag) pass through as ephemeral."""

    name: str
    warehouse_dir: str | None = None
    tasks: list[Task] = field(default_factory=list)
    #: per-table-model run metrics (rows written), populated by run():
    #: collected with df.observe on the write action itself — dbt-style
    #: "N rows affected" logging with ZERO extra scans or actions
    metrics: dict[str, dict] = field(default_factory=dict)

    def add(self, task: Task) -> "Pipeline":
        self.tasks.append(task)
        return self

    def topo_order(self) -> list[str]:
        return list(TopologicalSorter({t.name: set(t.deps) for t in self.tasks}).static_order())

    def run(self, initial: dict | None = None) -> dict:
        by_name = {t.name: t for t in self.tasks}
        ctx = dict(initial or {})
        for name in self.topo_order():
            ctx.update(self.run_task(by_name[name], ctx))
        return ctx

    def run_task(self, task: Task, ctx: dict) -> dict:
        """Call one task on the context and materialize its outputs; the
        'table' writes are submitted together (``run_concurrently``)."""
        out = task.fn(ctx) or {}
        how = {model: task.materialize.get(model, "ephemeral") for model in out}
        done = {m: self._materialize(m, df, how[m]) for m, df in out.items() if how[m] != "table"}
        tables = [model for model in out if how[model] == "table"]
        written = run_concurrently(
            *(partial(self._materialize, model, out[model], "table") for model in tables)
        )
        done.update(zip(tables, written))
        return {model: done[model] for model in out}

    def _materialize(self, model: str, df: DataFrame, how: str) -> DataFrame:
        if how == "ephemeral":
            return df
        if how != "table":
            raise ValueError(f"unknown materialization {how!r} for {model}")
        if not self.warehouse_dir:
            raise ValueError(f"table materialization for {model} needs warehouse_dir")
        path = os.path.join(self.warehouse_dir, model)
        obs = Observation()
        replace_table(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
        self.metrics[model] = obs.get
        return df.sparkSession.read.schema(df.schema).parquet(path)


#: every source table the sync reads
SYNC_SOURCES = (
    "youtube_playlists", "youtube_videos", "youtube_library",
    "search_types", "spotify_playlists", "playlist_ids",
)


def check_source_contracts(sources: dict[str, DataFrame]) -> None:
    """Fail at the edge on a broken input contract: each sync source
    must carry its ``schemas.MUSICFLOW_SCHEMAS`` columns and types
    (nullability aside; extra columns pass).  Reads schemas only, so no
    job runs; one ``ValueError`` lists each missing or mistyped column."""
    problems = []
    for name in SYNC_SOURCES:
        actual = {f.name: f.dataType.simpleString() for f in sources[name].schema.fields}
        for want in MUSICFLOW_SCHEMAS[name].fields:
            expected = want.dataType.simpleString()
            if actual.get(want.name) != expected:
                got = actual.get(want.name, "no such column")
                problems.append(f"{name}.{want.name}: expected {expected}, got {got}")
    if problems:
        raise ValueError("source contract broken:\n  " + "\n  ".join(problems))


def musicflow_pipeline(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    cfg,
    candidate_source,
    warehouse_dir: str,
    cache_path: str | None = None,
) -> Pipeline:
    """The full reference flow as one Pipeline: extract-normalize ->
    match (cache-aware) -> load entity tables -> staged models ->
    intermediates/marts/analyses.  Mirrors the Airflow task boundaries
    (youtube extract / spotify match / dbt run) without importing
    Airflow.

    As in dbt_project.yml:24-33, the engine tables and the marts are
    tables and every other model is ephemeral."""
    from musicflow_spark.matching import MatchEngine, load_cache, match_with_cache, save_cache
    from musicflow_spark.plans.intermediate import int_useful_youtube_library
    from musicflow_spark.plans.pipeline import MARTS, build_all
    from musicflow_spark.sources import ingest

    def synced(ctx: dict) -> dict[str, DataFrame]:
        """The sync's sources, the extracted tables in place of theirs."""
        return {n: ctx.get(f"src__{n}", sources[n]) for n in SYNC_SOURCES}

    def extract(ctx: dict) -> dict[str, DataFrame]:
        check_source_contracts(sources)
        playlists = ingest.filter_visible_playlists(sources["youtube_playlists"])
        videos = ingest.dedup_by_key(
            ingest.filter_available_videos(sources["youtube_videos"]), "video_id"
        )
        return {
            "src__youtube_playlists": playlists,
            "src__youtube_videos": videos,
            "src__youtube_library": sources["youtube_library"],
        }

    def match(ctx: dict) -> dict[str, DataFrame]:
        # the models' library join: the user's own rows are the video
        # pass, the other users' playlists the second pass — the
        # extract_other_playlists grouping (spotify_elt.py:58-89): per
        # playlist, video titles lowered in log-id order, log ids,
        # summed duration
        library = int_useful_youtube_library(synced(ctx), cfg)
        own = cfg.owns(F.col("playlist_author"))
        videos = library.filter(own).select(
            F.col("id").alias("log_id"), "youtube_playlist_id", "video_id",
            "title", "author", "description", "duration_ms",
        )
        playlist_map = sources["playlist_ids"].select(
            "youtube_playlist_id", F.col("spotify_playlist_id").alias("user_playlist_id")
        )
        grouped_others = (
            library.filter(~own)
            .groupBy("youtube_playlist_id", "playlist_name", "playlist_author")
            .agg(
                F.count(F.lit(1)).alias("total_tracks"),
                F.array_sort(
                    F.collect_list(F.struct(F.col("id"), F.lower("title").alias("t")))
                ).alias("__o__"),
                F.sum("duration_ms").alias("duration_ms"),
            )
            .select(
                "youtube_playlist_id",
                F.col("playlist_name").alias("title"),
                F.col("playlist_author").alias("author"),
                "total_tracks",
                F.transform("__o__", lambda s: s["t"]).alias("track_titles"),
                F.transform("__o__", lambda s: s["id"]).alias("log_ids"),
                "duration_ms",
            )
        )
        engine = MatchEngine(cfg, candidate_source)
        cache = load_cache(spark, cache_path) if cache_path else None
        result, new_cache = match_with_cache(
            engine, videos, playlist_map, cache=cache, grouped_others=grouped_others
        )
        outputs = {
            "spotify_log": result.log,
            "spotify_tracks": result.tracks,
            "spotify_albums": result.albums,
            "spotify_playlists_others": result.playlists_others,
        }
        if cache_path:
            # safe before the outputs are written: they read
            # match_with_cache's lookup checkpoint, not the cache files
            # replaced here
            save_cache(new_cache, cache_path)
        return outputs

    def models(ctx: dict) -> dict[str, DataFrame]:
        return build_all({**synced(ctx), **{m: ctx[m] for m in match_models}}, cfg)

    match_models = ("spotify_log", "spotify_tracks", "spotify_albums", "spotify_playlists_others")
    return (
        Pipeline("musicflow_elt_dag", warehouse_dir)
        .add(Task("extract", extract))
        .add(
            Task(
                "match",
                match,
                deps=("extract",),
                materialize={m: "table" for m in match_models},
            )
        )
        .add(Task("models", models, deps=("match",), materialize={m: "table" for m in MARTS}))
    )
