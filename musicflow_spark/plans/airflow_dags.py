"""The reference's Airflow DAGs as ``Pipeline``s (SURVEY §7.7),
convertible to real Airflow DAGs when Airflow is installed.

The reference ships four DAGs (dags/):

- setup_dag.py            — one task minting REFRESH_TOKEN from
                            AUTH_CODE into Airflow Variables
- ytmusicapi_dag.py       — altyoutube_playlists -> altyoutube_videos
- spotify_unlike_tracks_dag.py / spotify_unlike_albums_dag.py
                          — auth -> populate -> unlike chains
- (the main ELT runs as scripts the DAGs shell into)

Each factory here returns a ``plans/dag.py::Pipeline`` of ``Task``s
over plain callables, so the graph is testable (topological order,
task wiring) and runnable (``Pipeline.run``, the equivalent of
``airflow dags test``) without importing Airflow.  The main ELT is
already a ``Pipeline`` (``musicflow_pipeline``); ``to_airflow`` lazily
converts any of them into a real ``@dag`` when the package exists —
the Airflow deployment story is "wrap, don't rewrite".

Reference bug fixed, not replicated (SURVEY §7.8 watch-list):
``ytmusicapi_dag.py:8-17`` imports ``add_video_type`` /
``create_df_videos`` which do not exist in ``ytmusicapi_elt.py``
(the real names are ``add_track_type`` / ``create_df_tracks``,
ytmusicapi_elt.py:176,221) — the reference DAG is dead as written.
The pipeline here names the CORRECT callables it is handed; the fix
is documented rather than silently diverging.
"""

from __future__ import annotations

from collections.abc import Callable

from musicflow_spark.plans.dag import Pipeline, Task


def setup_dag_spec(get_auth_code: Callable[[], str],
                   mint_refresh_token: Callable[[str], str],
                   set_variable: Callable[[str, str], None]) -> Pipeline:
    """Reference setup_dag (dags/setup_dag.py:9-25): one task reading
    AUTH_CODE, minting REFRESH_TOKEN (spotify_auth.py:23-52 — a
    network flow injected here), storing it back."""

    def set_refresh_token(ctx: dict) -> dict:
        token = mint_refresh_token(get_auth_code())
        set_variable("REFRESH_TOKEN", token)
        return {"refresh_token": token}

    return Pipeline("setup_dag").add(Task("set_refresh_token", set_refresh_token))


def ytmusicapi_dag_spec(extract_playlists: Callable[[dict], dict],
                        extract_videos: Callable[[dict], dict]) -> Pipeline:
    """Reference ytmusicapi_dag (dags/ytmusicapi_dag.py:41-96):
    altyoutube_playlists feeds album_temp into altyoutube_videos.
    The callables are the repo's ingest stages (sources/ingest.py
    normalization over injected extracts) — with the dead-import bug
    fixed as documented in the module docstring."""
    return (
        Pipeline("ytmusicapi_dag")
        .add(Task("altyoutube_playlists", extract_playlists))
        .add(Task("altyoutube_videos", extract_videos, deps=("altyoutube_playlists",)))
    )


def unlike_dag_spec(kind: str,
                    auth: Callable[[dict], dict],
                    populate: Callable[[dict], dict],
                    unlike: Callable[[dict], dict]) -> Pipeline:
    """Reference spotify_unlike_{tracks,albums}_dag: the three-task
    auth -> populate -> unlike chain (spotify_unlike_tracks_dag.py:
    15-33).  The populate/unlike bodies map to plans/cleanup.py's
    tracks_to_unlike / albums_to_unlike predicates plus the
    apply_side_effects sink."""
    return (
        Pipeline(f"spotify_unlike_{kind}_dag")
        .add(Task("auth_with_refresh_token", auth))
        .add(Task(f"populate_{kind}_uri", populate, deps=("auth_with_refresh_token",)))
        .add(Task(f"unlike_{kind}", unlike, deps=(f"populate_{kind}_uri",)))
    )


def to_airflow(pipeline: Pipeline, **dag_kwargs):
    """Convert a Pipeline into a real Airflow DAG, task for task, with
    the same dependency edges.  Each Airflow task runs
    ``pipeline.run_task``, the step ``Pipeline.run`` uses, so the main
    ELT (extract -> match -> models) keeps its materializations and an
    Airflow deployment schedules exactly the boundaries the reference
    splits into youtube-extract / spotify-match / dbt-run.

    Only in-process execution is tested.  ``run_task`` returns
    DataFrames, and their XCom serialization between Airflow worker
    processes is NOT handled: a real deployment still needs tasks to
    hand off warehouse paths, as the reference hands off BigQuery tables.

    Imported lazily — Airflow is an optional dependency."""
    try:
        from airflow.decorators import dag, task
    except ImportError as e:  # pragma: no cover - no airflow here
        raise ImportError(
            "apache-airflow is not installed; Pipeline.run() executes "
            "the same graph without it"
        ) from e

    from datetime import datetime

    defaults = {"start_date": datetime(2021, 1, 1), "schedule": None, "catchup": False}
    defaults.update(dag_kwargs)
    by_name = {t.name: t for t in pipeline.tasks}

    @dag(dag_id=pipeline.name, **defaults)
    def built():
        # data flows through XCom returns (tasks run in separate
        # processes under Airflow — no shared closure state), exactly
        # like the reference's album_temp hand-off
        # (ytmusicapi_dag.py:92-93)
        wrapped = {}
        for name in pipeline.topo_order():
            t = by_name[name]

            @task(task_id=t.name)
            def run(*upstream: dict, t=t):
                ctx: dict = {}
                for u in upstream:
                    ctx.update(u or {})
                return pipeline.run_task(t, ctx)

            wrapped[t.name] = run(*[wrapped[d] for d in t.deps])

    return built()
