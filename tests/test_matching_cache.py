"""Match-cache tests (S9): a warm cache must reproduce the cold run
exactly with ZERO search calls for cached videos, and survive a
parquet round-trip (the reference's restart-the-flow semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from musicflow_spark.config import PipelineConfig
from musicflow_spark.matching import (
    CatalogCandidateSource,
    MatchEngine,
    load_cache,
    match_with_cache,
    save_cache,
)
from musicflow_spark.matching.cache import CACHE_SCHEMA

CFG = PipelineConfig()

LOG_COLS = [
    "log_id", "track_uri", "album_uri", "playlist_uri", "found_on_try",
    "search_type_id", "q", "difference_ms", "track_match", "total_tracks", "status",
]


class PoisonSource:
    """Raises if any search reaches it — proves cache hits bypass the
    candidate source entirely."""

    def __init__(self, inner=None, allowed_log_ids=None, n_strategies=6):
        self.inner = inner
        self.allowed = allowed_log_ids
        self.n = n_strategies

    def search(self, queries, kind, limit):
        if self.inner is None:
            raise AssertionError(f"unexpected search({kind}) on a fully-warm cache")
        bad = queries.withColumn("__log__", (F.col("qid") / self.n).cast("long")).filter(
            ~F.col("__log__").isin(self.allowed)
        )
        assert bad.isEmpty(), "search reached the API for a cached video"
        return self.inner.search(queries, kind, limit)


@pytest.fixture(scope="module")
def setup(spark, musicflow_sources):
    source = CatalogCandidateSource(
        musicflow_sources["spotify_tracks"],
        musicflow_sources["spotify_albums"],
        musicflow_sources["spotify_playlists_others"],
    )
    lib = musicflow_sources["youtube_library"]
    yp = musicflow_sources["youtube_playlists"]
    vids = musicflow_sources["youtube_videos"]
    videos = (
        lib.join(yp, "youtube_playlist_id")
        .filter((F.col("author") == CFG.your_channel_name) | F.col("author").isNull())
        .select("id", "youtube_playlist_id", "video_id")
        .join(vids, "video_id")
        .select(
            F.col("id").alias("log_id"), "youtube_playlist_id", "video_id",
            "title", "author", "description", "duration_ms",
        )
        .localCheckpoint(eager=True)
    )
    playlist_map = musicflow_sources["playlist_ids"].select(
        "youtube_playlist_id", F.col("spotify_playlist_id").alias("user_playlist_id")
    )
    return source, videos, playlist_map


def _log_rows(result):
    return sorted(tuple(r) for r in result.log.select(*LOG_COLS).collect())


def test_warm_cache_reproduces_cold_run_without_search(spark, setup, tmp_path):
    source, videos, playlist_map = setup
    engine = MatchEngine(CFG, source)

    cold, cache = match_with_cache(engine, videos, playlist_map)
    cold_rows = _log_rows(cold)
    assert cache.count() > 0

    # round-trip through parquet (the run-end flush)
    path = str(tmp_path / "match_cache")
    save_cache(cache, path)
    reloaded = load_cache(spark, path)

    poisoned = MatchEngine(CFG, PoisonSource())
    warm, cache2 = match_with_cache(poisoned, videos, playlist_map, cache=reloaded)
    assert _log_rows(warm) == cold_rows
    assert cache2.count() == cache.count()


def test_only_new_videos_are_searched(spark, setup):
    source, videos, playlist_map = setup
    engine = MatchEngine(CFG, source)
    _, cache = match_with_cache(engine, videos, playlist_map)

    extra = spark.createDataFrame(
        [(99, "PL_jazz", "v_new", "Take Five: The Classic", "X", "", 326_000)],
        videos.schema,
    )
    guarded = MatchEngine(CFG, PoisonSource(inner=source, allowed_log_ids=[99]))
    result, cache2 = match_with_cache(
        guarded, videos.unionByName(extra), playlist_map, cache=cache
    )
    got = {r["log_id"]: r for r in result.log.collect()}
    assert 99 in got and got[99]["track_uri"] == "spotify:track:t05"
    # new video entered the cache
    assert cache2.count() == cache.count() + 1


def test_cache_key_is_video_not_library_row(spark, setup):
    # v01 and v08 live in two playlists each: one cache entry per
    # VIDEO, covering both hits (payload JSON) and misses (null
    # payload — the cached negative verdict)
    source, videos, playlist_map = setup
    engine = MatchEngine(CFG, source)
    result, cache = match_with_cache(engine, videos, playlist_map)
    assert cache.count() == videos.select("video_id").distinct().count()
    matched_videos = (
        result.log.join(videos.select("log_id", "video_id"), "log_id")
        .select("video_id").distinct().count()
    )
    assert cache.filter(F.col("payload").isNotNull()).count() == matched_videos


def test_grouped_others_cached_under_playlist_key(spark, setup):
    source, videos, playlist_map = setup
    grouped = spark.createDataFrame(
        [
            (
                "PL_other1", "Blues Collection", "other_user_a", 2,
                ["blues collection - complete - ", "hidden gem"],
                [9, 21], 3_600_000,
            ),
            (
                "PL_other2", "Synthwave EP", "other_user_b", 1,
                ["midnight drive"], [10], 244_000,
            ),
        ],
        "youtube_playlist_id string, title string, author string, "
        "total_tracks bigint, track_titles array<string>, "
        "log_ids array<bigint>, duration_ms bigint",
    )
    engine = MatchEngine(CFG, source)
    cold, cache = match_with_cache(
        engine, videos, playlist_map, grouped_others=grouped
    )
    # both group keys cached: PL_other1 a hit payload, PL_other2 a
    # cached negative verdict
    keys = {r["video_id"]: r["payload"] for r in cache.collect()}
    assert keys["PL_other1"] is not None and keys["PL_other2"] is None

    warm_engine = MatchEngine(CFG, PoisonSource())  # any search raises
    warm, cache2 = match_with_cache(
        warm_engine, videos, playlist_map, cache=cache, grouped_others=grouped
    )
    cold_log = sorted(tuple(r) for r in cold.log.select(*LOG_COLS).collect())
    warm_log = sorted(tuple(r) for r in warm.log.select(*LOG_COLS).collect())
    assert warm_log == cold_log
    assert cache2.count() == cache.count()
    # the grouped hit fanned out per log id on the warm path too
    warm_ids = {r["log_id"] for r in warm.log.collect()}
    assert {9, 21} <= warm_ids and 10 not in warm_ids


def test_crashed_flush_recovers_finished_copy(spark, tmp_path, monkeypatch):
    # a crash between rmtree(path) and rename(tmp, path) must not lose
    # the cache: the finished tmp copy is moved into place on load
    path = str(tmp_path / "match_cache")
    entries = [("v01", '{"kind":"track"}'), ("v02", None)]
    save_cache(spark.createDataFrame(entries[:1], CACHE_SCHEMA), path)

    real_rename = os.rename
    crashed = []

    def rename_crashing_once(src, dst):
        if not crashed:
            crashed.append(src)
            raise OSError("injected crash before the rename")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_crashing_once)
    with pytest.raises(OSError, match="injected"):
        save_cache(spark.createDataFrame(entries, CACHE_SCHEMA), path)
    assert not os.path.exists(path)

    reloaded = load_cache(spark, path)
    assert sorted(tuple(r) for r in reloaded.collect()) == sorted(entries)
    save_cache(reloaded, path)
    assert sorted(tuple(r) for r in load_cache(spark, path).collect()) == sorted(entries)
