"""End-to-end pipeline test: sources -> ingest -> cache-aware match ->
parquet warehouse -> staged models/intermediates/marts -> the full
ported dbt check suite, then an idempotent warm re-run.  This is the
'a reference user could switch' proof: the whole flow, one call."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from musicflow_spark.checks import reference_suite
from musicflow_spark.config import PipelineConfig
from musicflow_spark.matching import CatalogCandidateSource
from musicflow_spark.matching.engine import COLLECTION_STRATEGIES, TRACK_STRATEGIES
from musicflow_spark.plans.dag import musicflow_pipeline

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def pipeline_run(spark, musicflow_sources, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    cache = os.path.join(wh, "match_cache")
    source = CatalogCandidateSource(
        musicflow_sources["spotify_tracks"],
        musicflow_sources["spotify_albums"],
        musicflow_sources["spotify_playlists_others"],
    )
    pipe = musicflow_pipeline(spark, musicflow_sources, CFG, source, wh, cache_path=cache)
    ctx = pipe.run()
    return pipe, ctx, wh


def test_marts_materialized_as_parquet(pipeline_run):
    _, ctx, wh = pipeline_run
    for mart in ("log_found_videos", "log_not_found_videos", "log_for_tableau", "spotify_log"):
        assert os.path.isdir(os.path.join(wh, mart)), mart
        assert ctx[mart].count() >= 0


def test_engine_log_feeds_models_consistently(pipeline_run):
    _, ctx, _ = pipeline_run
    # conservation: every library row is found or not-found
    total = ctx["src__youtube_library"].count()
    found = ctx["int_join_spotify_uris"].count()
    not_found = ctx["log_not_found_videos"].count()
    assert total == found + not_found
    # matched rows carry exactly one uri
    bad = ctx["spotify_log"].filter(
        (
            F.col("album_uri").isNotNull().cast("int")
            + F.col("playlist_uri").isNotNull().cast("int")
            + F.col("track_uri").isNotNull().cast("int")
        )
        != 1
    )
    assert bad.count() == 0


def test_reference_check_suite_green_on_engine_output(pipeline_run):
    # the ~170 ported dbt assertions hold on ENGINE-PRODUCED data, not
    # just the hand-written fixture log
    _, ctx, _ = pipeline_run
    suite = reference_suite(ctx)
    failing = [r for r in suite.run() if not r.passed]
    assert failing == [], "\n".join(str(r) for r in failing)


def test_partially_warm_sync_equals_cold_run(spark, musicflow_sources, pipeline_run, tmp_path):
    # the cold run's flushed cache minus one video's entry: only that
    # video is searched, and the outputs must not read the cache files
    # the flush replaces mid-task
    _, ctx, wh = pipeline_run
    cold_log = sorted(tuple(r) for r in ctx["spotify_log"].collect())
    cold_cache = spark.read.parquet(os.path.join(wh, "match_cache"))
    cold_entries = sorted(tuple(r) for r in cold_cache.collect())
    video_ids = {r["video_id"] for r in ctx["src__youtube_videos"].select("video_id").collect()}
    dropped = min(k for k, payload in cold_entries if k in video_ids and payload is not None)
    log_ids = [
        r["id"]
        for r in ctx["src__youtube_library"].filter(F.col("video_id") == dropped).collect()
    ]

    class OnlyDroppedVideo:
        """Raises on any search outside the dropped video's log ids
        (qid = log_id * strategy count + priority)."""

        def __init__(self, inner):
            self.inner = inner
            self.calls = 0

        def search(self, queries, kind, limit):
            self.calls += 1
            n = len(TRACK_STRATEGIES if kind == "track" else COLLECTION_STRATEGIES)
            stray = queries.filter(~(F.col("qid") / n).cast("long").isin(log_ids))
            assert stray.isEmpty(), f"search({kind}) outside the dropped video"
            return self.inner.search(queries, kind, limit)

    source = OnlyDroppedVideo(
        CatalogCandidateSource(
            musicflow_sources["spotify_tracks"],
            musicflow_sources["spotify_albums"],
            musicflow_sources["spotify_playlists_others"],
        )
    )
    wh2 = str(tmp_path / "warehouse")
    cache2 = os.path.join(wh2, "match_cache")
    cold_cache.filter(F.col("video_id") != dropped).write.parquet(cache2)
    ctx2 = musicflow_pipeline(
        spark, musicflow_sources, CFG, source, wh2, cache_path=cache2
    ).run()
    assert source.calls > 0
    assert sorted(tuple(r) for r in ctx2["spotify_log"].collect()) == cold_log
    assert sorted(tuple(r) for r in spark.read.parquet(cache2).collect()) == cold_entries


def test_warm_rerun_is_idempotent(spark, musicflow_sources, pipeline_run):
    pipe, ctx, wh = pipeline_run
    cold_log = sorted(
        tuple(r)
        for r in ctx["spotify_log"]
        .select("log_id", "track_uri", "album_uri", "playlist_uri", "status")
        .collect()
    )

    class NoSearch:
        def search(self, queries, kind, limit):
            raise AssertionError("warm pipeline re-run must not search")

    warm_pipe = musicflow_pipeline(
        spark, musicflow_sources, CFG, NoSearch(), wh,
        cache_path=os.path.join(wh, "match_cache"),
    )
    ctx2 = warm_pipe.run()
    warm_log = sorted(
        tuple(r)
        for r in ctx2["spotify_log"]
        .select("log_id", "track_uri", "album_uri", "playlist_uri", "status")
        .collect()
    )
    assert warm_log == cold_log


class _NoSearch:
    def search(self, queries, kind, limit):
        raise AssertionError("a broken source contract must fail before the match")


@pytest.mark.parametrize(
    "table, broken, message",
    [
        (
            "youtube_videos",
            lambda df: df.withColumn("duration_ms", F.col("duration_ms").cast("string")),
            r"youtube_videos\.duration_ms: expected bigint, got string",
        ),
        (
            "youtube_videos",
            lambda df: df.withColumnRenamed("author", "channel"),
            r"youtube_videos\.author: expected string, got no such column",
        ),
    ],
    ids=["string-duration", "renamed-author"],
)
def test_broken_source_contract_fails_in_extract(
    spark, musicflow_sources, tmp_path, table, broken, message
):
    """A source whose columns or types differ from
    ``schemas.MUSICFLOW_SCHEMAS`` stops the sync in ``extract`` with one
    error naming the column, the expected and the actual type: a string
    duration used to route every video to the track search and finish,
    a renamed column to fail deep inside the match task."""
    sources = {**musicflow_sources, table: broken(musicflow_sources[table])}
    pipe = musicflow_pipeline(spark, sources, CFG, _NoSearch(), str(tmp_path / "wh"))
    with pytest.raises(ValueError, match=message):
        pipe.run()
    assert not os.path.exists(tmp_path / "wh")
