"""Thin orchestration (SURVEY §3.3, §7.7): the reference splits work
into Airflow tasks (dags/*_dag.py) and lets dbt order models by their
ref() DAG; here both become one dependency-ordered task runner,
``Pipeline``, with a dbt-style materialization policy.  Every DAG of
the port is a ``Pipeline``: the main ELT below and the reference's
small DAGs in ``plans/airflow_dags.py``.

- ``ephemeral``  -> stays a DataFrame, not written to the warehouse
                    (dbt's ephemeral CTE).  Most such models stay
                    lazy and Catalyst inlines them downstream; the two
                    intermediates, which several models read, sit on
                    ``build_all``'s lazy checkpoint, so their joins run
                    once per build however many models read them
- ``view``       -> createOrReplaceTempView (dbt staging default)
- ``table``      -> written parquet to the warehouse dir and re-read
                    (dbt marts default; the read-back truncates
                    lineage exactly where dbt materializes)

Airflow itself stays optional by design: ``Pipeline.run_task`` is the
one step that runs a task and materializes its outputs, both here and
under ``airflow_dags.to_airflow``.  Nothing here imports airflow.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


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
        """Call one task on the context and materialize its outputs."""
        return {
            model: self._materialize(model, df, task.materialize.get(model, "ephemeral"))
            for model, df in (task.fn(ctx) or {}).items()
        }

    def _materialize(self, model: str, df: DataFrame, how: str) -> DataFrame:
        if how == "ephemeral":
            return df
        if how == "view":
            df.createOrReplaceTempView(model)
            return df
        if how == "table":
            if not self.warehouse_dir:
                raise ValueError(f"table materialization for {model} needs warehouse_dir")
            path = os.path.join(self.warehouse_dir, model)
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(path)
            self.metrics[model] = obs.get
            return df.sparkSession.read.parquet(path)
        raise ValueError(f"unknown materialization {how!r} for {model}")


def musicflow_pipeline(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    cfg,
    candidate_source,
    warehouse_dir: str,
    cache_path: str | None = None,
    materializations: dict[str, str] | None = None,
) -> Pipeline:
    """The full reference flow as one Pipeline: extract-normalize ->
    match (cache-aware) -> load entity tables -> staged models ->
    intermediates/marts/analyses.  Mirrors the Airflow task boundaries
    (youtube extract / spotify match / dbt run) without importing
    Airflow.

    ``materializations`` overrides the per-model choice
    (model name -> 'ephemeral' | 'view' | 'table'), the dbt
    per-model-header / dbt_project.yml:24-33 config surface; defaults
    stay the dbt-equivalent ones (marts + engine tables as 'table')."""
    from musicflow_spark.matching import MatchEngine, load_cache, match_with_cache, save_cache
    from musicflow_spark.plans.pipeline import build_all
    from musicflow_spark.sources import ingest

    def extract(ctx: dict) -> dict[str, DataFrame]:
        playlists = ingest.filter_visible_playlists(sources["youtube_playlists"], cfg)
        videos = ingest.dedup_by_key(
            ingest.filter_available_videos(sources["youtube_videos"], cfg), "video_id"
        )
        return {
            "src__youtube_playlists": playlists,
            "src__youtube_videos": videos,
            "src__youtube_library": sources["youtube_library"],
        }

    def match(ctx: dict) -> dict[str, DataFrame]:
        lib = ctx["src__youtube_library"]
        yp = ctx["src__youtube_playlists"]
        videos = (
            lib.join(yp, "youtube_playlist_id")
            .filter((F.col("author") == cfg.your_channel_name) | F.col("author").isNull())
            .select("id", "youtube_playlist_id", "video_id")
            .join(ctx["src__youtube_videos"], "video_id")
            .select(
                F.col("id").alias("log_id"), "youtube_playlist_id", "video_id",
                "title", "author", "description", "duration_ms",
            )
        )
        playlist_map = sources["playlist_ids"].select(
            "youtube_playlist_id", F.col("spotify_playlist_id").alias("user_playlist_id")
        )
        # second pass: OTHER users' playlists matched as whole albums/
        # playlists — the extract_other_playlists grouping
        # (spotify_elt.py:58-89): per playlist, video titles lowered in
        # log-id order, log ids, summed duration
        others_lib = (
            lib.join(
                yp.select(
                    "youtube_playlist_id",
                    F.col("title").alias("pl_title"),
                    F.col("author").alias("pl_author"),
                ),
                "youtube_playlist_id",
            )
            .filter(
                F.col("pl_author").isNotNull()
                & (F.col("pl_author") != cfg.your_channel_name)
            )
            .join(
                ctx["src__youtube_videos"].select(
                    "video_id", F.col("title").alias("v_title"), "duration_ms"
                ),
                "video_id",
            )
        )
        grouped_others = (
            others_lib.groupBy("youtube_playlist_id", "pl_title", "pl_author")
            .agg(
                F.count(F.lit(1)).alias("total_tracks"),
                F.array_sort(
                    F.collect_list(F.struct(F.col("id"), F.lower("v_title").alias("t")))
                ).alias("__o__"),
                F.sum("duration_ms").alias("duration_ms"),
            )
            .select(
                "youtube_playlist_id",
                F.col("pl_title").alias("title"),
                F.col("pl_author").alias("author"),
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
            # safe before the outputs are written: match_with_cache
            # already detached them from the cache files replaced here
            save_cache(new_cache, cache_path)
        return outputs

    def models(ctx: dict) -> dict[str, DataFrame]:
        model_sources = {
            "youtube_playlists": ctx["src__youtube_playlists"],
            "youtube_videos": ctx["src__youtube_videos"],
            "youtube_library": ctx["src__youtube_library"],
            "search_types": sources["search_types"],
            "spotify_playlists": sources["spotify_playlists"],
            "playlist_ids": sources["playlist_ids"],
            "spotify_log": ctx["spotify_log"],
            "spotify_tracks": ctx["spotify_tracks"],
            "spotify_albums": ctx["spotify_albums"],
            "spotify_playlists_others": ctx["spotify_playlists_others"],
        }
        return build_all(model_sources, cfg)

    marts = ("log_found_videos", "log_not_found_videos", "log_for_tableau")
    overrides = dict(materializations or {})
    extract_models = ("src__youtube_playlists", "src__youtube_videos", "src__youtube_library")
    match_models = ("spotify_log", "spotify_tracks", "spotify_albums", "spotify_playlists_others")

    def mat(defaults: dict[str, str], owned: tuple[str, ...]) -> dict[str, str]:
        # per-model override wins over the task default; overrides may
        # also promote this task's ephemeral-by-default models
        out = dict(defaults)
        out.update({m: how for m, how in overrides.items() if m in owned})
        return out

    return (
        Pipeline("musicflow_elt_dag", warehouse_dir)
        .add(Task("extract", extract, materialize=mat({}, extract_models)))
        .add(
            Task(
                "match",
                match,
                deps=("extract",),
                materialize=mat({m: "table" for m in match_models}, match_models),
            )
        )
        .add(
            Task(
                "models",
                models,
                deps=("match",),
                # every dbt-layer model is produced by this task, so
                # any override key that is not an extract/match output
                # belongs here (staging views, intermediates, marts)
                materialize=mat(
                    {m: "table" for m in marts},
                    tuple(
                        m for m in overrides
                        if m not in extract_models and m not in match_models
                    ),
                ),
            )
        )
    )
