"""The reference's DAGs as Pipelines, per-model materialization
overrides, and the auth/token retry contract — the deployment-surface
layer."""

from __future__ import annotations

import pytest

from musicflow_spark.plans.airflow_dags import (
    setup_dag_spec,
    unlike_dag_spec,
    ytmusicapi_dag_spec,
)
from musicflow_spark.plans.dag import Pipeline, Task
from musicflow_spark.sources.auth import (
    AuthError,
    TokenProvider,
    TransientError,
    with_auth_retry,
)


# ------------------------------------------------------------- dags
def test_ytmusicapi_dag_topology_and_handoff():
    seen = []

    def playlists(ctx):
        seen.append("playlists")
        return {"album_temp": {"b1": "MPRE_b1"}}

    def videos(ctx):
        seen.append("videos")
        # the album_temp hand-off the reference threads through XCom
        assert ctx["album_temp"] == {"b1": "MPRE_b1"}
        return {"videos_loaded": True}

    spec = ytmusicapi_dag_spec(playlists, videos)
    assert spec.topo_order() == ["altyoutube_playlists", "altyoutube_videos"]
    ctx = spec.run()
    assert seen == ["playlists", "videos"] and ctx["videos_loaded"]


def test_setup_and_unlike_dag_shapes():
    store = {}
    spec = setup_dag_spec(
        get_auth_code=lambda: "CODE",
        mint_refresh_token=lambda code: f"RT-{code}",
        set_variable=store.__setitem__,
    )
    spec.run()
    assert store == {"REFRESH_TOKEN": "RT-CODE"}

    order = []
    spec = unlike_dag_spec(
        "tracks",
        auth=lambda ctx: order.append("auth"),
        populate=lambda ctx: order.append("populate"),
        unlike=lambda ctx: order.append("unlike"),
    )
    assert spec.topo_order() == [
        "auth_with_refresh_token", "populate_tracks_uri", "unlike_tracks",
    ]
    spec.run()
    assert order == ["auth", "populate", "unlike"]


def test_musicflow_pipeline_topology(spark, musicflow_sources, tmp_path):
    from musicflow_spark.config import PipelineConfig
    from musicflow_spark.matching import CatalogCandidateSource
    from musicflow_spark.plans.dag import musicflow_pipeline

    pipe = musicflow_pipeline(
        spark,
        musicflow_sources,
        PipelineConfig(),
        CatalogCandidateSource(
            musicflow_sources["spotify_tracks"],
            musicflow_sources["spotify_albums"],
            musicflow_sources["spotify_playlists_others"],
        ),
        str(tmp_path / "wh"),
    )
    # the Airflow task boundaries: youtube extract / spotify match / dbt run
    assert pipe.topo_order() == ["extract", "match", "models"]
    assert {t.name: t.deps for t in pipe.tasks} == {
        "extract": (), "match": ("extract",), "models": ("match",),
    }


def test_pipeline_rejects_cycles():
    pipe = Pipeline("bad").add(Task("a", lambda c: None, deps=("b",))).add(
        Task("b", lambda c: None, deps=("a",))
    )
    import graphlib

    with pytest.raises(graphlib.CycleError):
        pipe.topo_order()
    with pytest.raises(graphlib.CycleError):
        pipe.run()


def test_to_airflow_runs_tasks_through_run_task(spark, tmp_path, monkeypatch):
    """With a stand-in for ``airflow.decorators`` whose tasks run when
    wired, the converted DAG runs in dependency order, hands outputs
    downstream as XCom returns, and materializes them as
    ``Pipeline.run`` does."""
    import os
    import sys
    import types

    from musicflow_spark.plans.airflow_dags import to_airflow

    ran = []

    def dag(dag_id, **kwargs):
        def wrap(fn):
            return lambda: (fn(), dag_id)[1]

        return wrap

    def task(task_id):
        def wrap(fn):
            def call(*upstream):
                ran.append(task_id)
                return fn(*upstream)

            return call

        return wrap

    decorators = types.ModuleType("airflow.decorators")
    decorators.dag, decorators.task = dag, task
    monkeypatch.setitem(sys.modules, "airflow", types.ModuleType("airflow"))
    monkeypatch.setitem(sys.modules, "airflow.decorators", decorators)

    wh = str(tmp_path / "wh")
    pipe = (
        Pipeline("handoff", wh)
        .add(Task("use", lambda ctx: {"n": ctx["m"].count()}, deps=("build",)))
        .add(Task("build", lambda ctx: {"m": spark.range(5)}, materialize={"m": "table"}))
    )
    assert to_airflow(pipe) == "handoff"
    assert ran == ["build", "use"]
    assert os.path.isdir(os.path.join(wh, "m"))
    assert pipe.metrics["m"]["rows"] == 5


# ------------------------------------- per-model materialization config
def test_materialization_overrides(spark, musicflow_sources, tmp_path):
    import os

    from musicflow_spark.config import PipelineConfig
    from musicflow_spark.matching import CatalogCandidateSource
    from musicflow_spark.plans.dag import musicflow_pipeline

    wh = str(tmp_path / "wh")
    pipe = musicflow_pipeline(
        spark,
        musicflow_sources,
        PipelineConfig(),
        CatalogCandidateSource(
            musicflow_sources["spotify_tracks"],
            musicflow_sources["spotify_albums"],
            musicflow_sources["spotify_playlists_others"],
        ),
        wh,
        materializations={
            # demote a mart to view, promote an intermediate to table
            "log_for_tableau": "view",
            "int_join_spotify_uris": "table",
        },
    )
    ctx = pipe.run()
    assert os.path.isdir(os.path.join(wh, "int_join_spotify_uris"))
    assert not os.path.isdir(os.path.join(wh, "log_for_tableau"))
    # demoted mart still queryable as a temp view, row-identical
    via_view = spark.table("log_for_tableau").count()
    assert via_view == ctx["log_for_tableau"].count()


# ------------------------------------------------- auth/retry contract
def test_token_provider_refreshes_on_expiry_fake_clock():
    now = [0.0]
    minted = []

    def refresh():
        minted.append(len(minted))
        return f"tok{len(minted)}", 100.0

    p = TokenProvider(refresh_fn=refresh, skew=10.0, clock=lambda: now[0])
    assert p.get() == "tok1"
    assert p.get() == "tok1"  # cached while valid
    now[0] = 95.0  # within skew of expiry -> re-mint
    assert p.get() == "tok2"
    assert p.refresh_count == 2


def test_auth_retry_refreshes_once_on_401():
    p = TokenProvider(refresh_fn=lambda: (f"t", 100.0))
    calls = []

    def fetch(token, x):
        calls.append(token)
        if len(calls) == 1:
            raise AuthError("401")
        return x * 2

    wrapped = with_auth_retry(fetch, p)
    assert wrapped(21) == 42
    assert len(calls) == 2  # one 401, one retry with a fresh token
    assert p.refresh_count == 2

    def always_401(token):
        raise AuthError("401")

    with pytest.raises(AuthError):  # second 401 propagates (needs a human)
        with_auth_retry(always_401, p)()


def test_auth_retry_bounded_backoff_on_429():
    p = TokenProvider(refresh_fn=lambda: ("t", 100.0))
    sleeps = []
    attempts = []

    def flaky(token):
        attempts.append(1)
        if len(attempts) <= 2:
            raise TransientError("429", retry_after=7.0)
        return "ok"

    assert with_auth_retry(flaky, p, sleep=sleeps.append)() == "ok"
    assert sleeps == [7.0, 7.0]  # honored the server's retry_after

    def dead(token):
        raise TransientError("503")

    sleeps.clear()
    with pytest.raises(TransientError):
        with_auth_retry(dead, p, max_transient_retries=3, backoff=1.0, sleep=sleeps.append)()
    assert sleeps == [1.0, 2.0, 4.0]  # exponential, then give up


def test_table_materialization_observes_row_metrics(spark, tmp_path):
    """Table-materialized models must report their written row count
    through Pipeline.metrics — collected via df.observe ON the write
    action, so no second scan happens."""

    def make(ctx):
        return {"m": spark.range(37).withColumnRenamed("id", "k")}

    pipe = Pipeline("metrics", warehouse_dir=str(tmp_path)).add(
        Task("build", make, materialize={"m": "table"})
    )
    ctx = pipe.run()
    assert ctx["m"].count() == 37
    assert pipe.metrics["m"]["rows"] == 37
