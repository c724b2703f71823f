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


def test_auth_retry_fails_a_wait_past_the_ceiling():
    """A server's retry_after past MAX_WAIT_S, or retries whose waits
    add up past MAX_TOTAL_WAIT_S, raise TimeoutError naming the call
    and the server's value instead of sleeping that long.  Without a
    retry_after the doubling backoff stops at MAX_WAIT_S, and the
    error names the client's backoff, not the server."""
    p = TokenProvider(refresh_fn=lambda: ("t", 100.0))
    sleeps = []

    def day_off(token):
        raise TransientError("429", retry_after=86_400.0)

    with pytest.raises(TimeoutError, match="day_off: server asked to wait 86400.0"):
        with_auth_retry(day_off, p, sleep=sleeps.append)()
    assert sleeps == []

    from musicflow_spark.sources.auth import MAX_TOTAL_WAIT_S, MAX_WAIT_S

    def at_the_ceiling(token):
        raise TransientError("429", retry_after=MAX_WAIT_S)

    with pytest.raises(TimeoutError, match="at_the_ceiling"):
        with_auth_retry(at_the_ceiling, p, max_transient_retries=100, sleep=sleeps.append)()
    assert sleeps == [MAX_WAIT_S] * int(MAX_TOTAL_WAIT_S // MAX_WAIT_S)

    def dead(token):
        raise TransientError("503")

    sleeps.clear()
    with pytest.raises(TimeoutError, match="dead: client backoff of 60.0s, past the retry ceiling"):
        with_auth_retry(dead, p, max_transient_retries=10, sleep=sleeps.append)()
    assert sleeps == [1.0, 2.0, 4.0, 8.0, 16.0, 32.0] + [MAX_WAIT_S] * 3


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


def _three_tables(spark, wh, build):
    return Pipeline("three", warehouse_dir=wh).add(
        Task("build", build, materialize={m: "table" for m in ("a", "b", "c")})
    )


def test_table_writes_run_in_the_callers_job_group(spark, tmp_path):
    """The concurrent writes of a multi-table task inherit the caller's
    job group: no write job of the task runs ungrouped."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def build(ctx):
        return {m: spark.range(n).withColumnRenamed("id", "k") for m, n in zip("abc", (3, 5, 7))}

    pipe = _three_tables(spark, str(tmp_path), build)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("concurrent-writes", "three table writes")
    try:
        ctx = pipe.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("concurrent-writes")) >= 3
    assert {m: pipe.metrics[m]["rows"] for m in "abc"} == {"a": 3, "b": 5, "c": 7}
    assert {m: ctx[m].count() for m in "abc"} == {"a": 3, "b": 5, "c": 7}


def test_failed_table_write_raises_and_keeps_every_table_readable(spark, tmp_path):
    """One write of a task fails: ``run_task`` raises, the task's other
    tables are written, and the failed table keeps its previous rows."""
    import os

    from pyspark.sql import functions as F

    wh = str(tmp_path)
    _three_tables(spark, wh, lambda ctx: {m: spark.range(2) for m in "abc"}).run()

    def build(ctx):
        out = {m: spark.range(4) for m in "abc"}
        out["b"] = spark.range(4).select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("write b failed")))
            .otherwise(F.col("id"))
            .alias("id")
        )
        return out

    pipe = _three_tables(spark, wh, build)
    with pytest.raises(Exception, match="write b failed"):
        pipe.run()
    rows = {m: spark.read.parquet(os.path.join(wh, m)).count() for m in "abc"}
    assert rows == {"a": 4, "b": 2, "c": 4}
    assert set(pipe.metrics) == {"a", "c"}
