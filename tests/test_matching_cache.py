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


def _outputs(result):
    return {
        name: sorted(tuple(r) for r in getattr(result, name).collect())
        for name in ("log", "tracks", "albums", "playlists_others")
    }


#: the planner runs nothing before an action: no AQE stage runs while a
#: lazy checkpoint is planned, and the small cache is not broadcast
#: (a broadcast is read when its plan is prepared)
PLAN_ONLY = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}


@pytest.mark.parametrize("conf", [{}, PLAN_ONLY], ids=["default", "plan-only"])
def test_outputs_survive_a_flush_over_the_cache_they_read(spark, setup, tmp_path, conf):
    """The outputs of a warm ``match_with_cache`` never read the cache
    files their hits were decoded from, so a flush that replaces those
    files leaves them readable and unchanged.  The second warm call's
    outputs are read only after the flush; under ``PLAN_ONLY`` nothing
    of theirs has run by then, so only the lookup checkpoint keeps
    them off the replaced files."""
    previous = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        _check_outputs_survive_a_flush(spark, setup, tmp_path)
    finally:
        for k, v in previous.items():
            spark.conf.set(k, v)


def _check_outputs_survive_a_flush(spark, setup, tmp_path):
    source, videos, playlist_map = setup
    engine = MatchEngine(CFG, source)
    _, cache = match_with_cache(engine, videos, playlist_map)
    path = str(tmp_path / "match_cache")
    save_cache(cache, path)

    read_first, new_cache = match_with_cache(
        engine, videos, playlist_map, cache=load_cache(spark, path)
    )
    read_after, _ = match_with_cache(engine, videos, playlist_map, cache=load_cache(spark, path))
    expected = _outputs(read_first)
    assert expected["log"] and expected["tracks"]

    save_cache(new_cache, path)
    assert _outputs(read_first) == expected
    assert _outputs(read_after) == expected


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


#: the cold log of ``setup``'s library, one row per matched library
#: row in ``LOG_COLS`` order: searching each key once leaves it as it
#: was when every library row ran its own search
COLD_LOG = [
    (0, "spotify:track:t01", None, None, 1, 0, "track:Bohemian Song  artist:QueenBand", 1000, 1, 1, "saved"),
    (1, "spotify:track:t03", None, None, 1, 0, "track:Moonlight    Piano Version artist:PianoChan", 1000, 1, 1, "saved"),
    (2, "spotify:track:t01", None, None, 1, 0, "track:Bohemian Song  artist:QueenBand", 1000, 1, 1, "saved"),
    (3, "spotify:track:t02", None, None, 1, 0, "track:Stairway to Jazz  artist:LedBand", 2000, 1, 1, "saved"),
    (4, "spotify:track:t04", None, None, 1, 0, "track:Hotel Coastline 'Remastered ' artist:EaglesFan", 1000, 1, 1, "saved"),
    (5, "spotify:track:t05", None, None, 1, 0, "track:Take Five  The Classic artist:BrubeckArchive", 1000, 1, 1, "saved"),
    (6, "spotify:track:t08", None, None, 1, 0, "track:Autumn Leaves artist:JazzHub", 500, 1, 1, "saved"),
    (7, "spotify:track:t08", None, None, 1, 0, "track:Autumn Leaves artist:JazzHub", 500, 1, 1, "saved"),
    (8, None, "spotify:album:a10", None, 1, 2, "Dark Side  ", 0, 4, 4, "saved"),
]


class CountingEngine(MatchEngine):
    """Keeps the frame each video-pass search receives."""

    def __init__(self, source):
        super().__init__(CFG, source)
        self.inputs = []

    def compute_matches(self, videos):
        self.inputs.append(videos)
        return super().compute_matches(videos)


def test_a_key_is_searched_once(spark, setup):
    """v01 sits in LM (log 0) and PL_rock (log 2): the engine searches
    it once, for log 0, and both library rows still get their own log
    row, status and playlist."""
    source, videos, playlist_map = setup
    engine = CountingEngine(source)
    result, _ = match_with_cache(engine, videos, playlist_map)

    (searched,) = engine.inputs
    per_video = searched.groupBy("video_id").count()
    assert per_video.filter(F.col("count") > 1).isEmpty()
    assert searched.count() == videos.select("video_id").distinct().count()
    assert {r["log_id"] for r in searched.filter(F.col("video_id") == "v01").collect()} == {0}

    log = {r["log_id"]: r for r in result.log.collect()}
    assert log[0]["track_uri"] == log[2]["track_uri"] == "spotify:track:t01"
    assert log[0]["status"] == log[2]["status"] == "saved"
    # log 0 is the LM row (liked), log 2 the PL_rock row (added to sp_rock)
    assert "spotify:track:t01" in {r["track_uri"] for r in result.tracks_to_like.collect()}
    assert ("sp_rock", "spotify:track:t01") in {
        tuple(r) for r in result.playlist_additions.collect()
    }
    assert _log_rows(result) == COLD_LOG


def _grouped_others(spark):
    """Two other-user playlists: PL_other1 matches, PL_other2 does not."""
    return spark.createDataFrame(
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


def test_grouped_others_cached_under_playlist_key(spark, setup):
    source, videos, playlist_map = setup
    grouped = _grouped_others(spark)
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


class OnePassEngine(MatchEngine):
    """Lets one engine entry point run and raises in the other: proves
    that a fully cached pass never reaches its own entry point."""

    def __init__(self, source, allowed: str):
        super().__init__(CFG, source)
        self.allowed = allowed
        self.called: list[str] = []

    def _reached(self, entry: str) -> None:
        assert entry == self.allowed, f"{entry} ran for a fully cached pass"
        self.called.append(entry)

    def compute_matches(self, videos):
        self._reached("compute_matches")
        return super().compute_matches(videos)

    def compute_matches_others(self, grouped):
        self._reached("compute_matches_others")
        return super().compute_matches_others(grouped)


@pytest.mark.parametrize(
    "uncached, allowed",
    [("PL_other1", "compute_matches_others"), ("v01", "compute_matches")],
    ids=["new-group", "new-video"],
)
def test_mixed_warm_state_searches_only_the_pass_with_misses(spark, setup, uncached, allowed):
    """One pass fully cached, the other with one new key (a group, or a
    video that sits in two playlists): only the pass with the miss
    reaches the engine, and the log equals the cold run's."""
    source, videos, playlist_map = setup
    grouped = _grouped_others(spark)
    cold, cache = match_with_cache(
        MatchEngine(CFG, source), videos, playlist_map, grouped_others=grouped
    )
    engine = OnePassEngine(source, allowed)
    warm, _ = match_with_cache(
        engine,
        videos,
        playlist_map,
        cache=cache.filter(F.col("video_id") != uncached),
        grouped_others=grouped,
    )
    assert _log_rows(warm) == _log_rows(cold)
    assert engine.called == [allowed]


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
