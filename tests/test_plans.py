"""Parity tests for the dbt-model layer over the MusicFlow fixtures.

Assertions mirror the reference's dbt test intents (SURVEY §5):
conservation (no_lost_videos), rowcount equalities, accepted values,
the polymorphic coalesce, branch routing, and the reference quirks we
keep bug-compatibly.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from musicflow_spark.config import PipelineConfig
from musicflow_spark.plans import build_all
from tests.fixtures import count_plan_nodes

CFG = PipelineConfig()

#: the analyses that read an intermediate model
INTERMEDIATE_READERS = (
    "youtube_statistics",
    "videos_saved_more_than_once",
    "found_by_statistics",
    "found_on_try_statistics",
    "skipped_during_the_run",
)


@pytest.fixture(scope="module")
def models(musicflow_sources):
    return build_all(musicflow_sources, CFG)


def test_no_lost_videos_conservation(models):
    # dbt/tests/no_lost_videos.sql: library == found(log) + not_found
    lib = models["stg__youtube_library"].count()
    log = models["stg__spotify_log"].count()
    not_found = models["log_not_found_videos"].count()
    assert lib == log + not_found


def test_not_found_is_exactly_the_missing_ids(models):
    ids = sorted(
        r["id"] for r in models["log_not_found_videos"].select("id").collect()
    )
    assert ids == [11, 12]


def test_int_join_row_conservation(models):
    # dbt equal_rowcount: int_join_spotify_uris == stg__spotify_log
    assert models["int_join_spotify_uris"].count() == models["stg__spotify_log"].count()


def test_int_join_polymorphic_coalesce(models):
    rows = {
        r["log_id"]: r
        for r in models["int_join_spotify_uris"]
        .select("log_id", "spotify_type", "spotify_uri", "spotify_title", "spotify_duration")
        .collect()
    }
    assert rows[8]["spotify_type"] == "Album"
    assert rows[8]["spotify_uri"] == "spotify:album:a10"
    assert rows[8]["spotify_title"] == "Dark Side"
    assert rows[8]["spotify_duration"] == 2_580_000
    assert rows[9]["spotify_type"] == "Playlist"
    assert rows[9]["spotify_title"] == "Blues Collection"
    assert rows[0]["spotify_type"] == "Track"
    assert rows[0]["spotify_title"] == "Bohemian Song"


def test_int_join_derived_columns(models):
    row = (
        models["int_join_spotify_uris"]
        .filter(F.col("log_id") == 9)
        .select("percentage_in_desc", "spotify_duration_timestamp", "difference_sec")
        .first()
    )
    assert row["percentage_in_desc"] == 50.0  # 2/4 * 100
    assert row["spotify_duration_timestamp"] == "01:00:00"  # 3_600_000 ms
    assert row["difference_sec"] == 0.0


def test_int_useful_threshold_routing(models):
    by_video = {
        r["video_id"]: r["estimated_type"]
        for r in models["int_useful_youtube_library"]
        .select("video_id", "estimated_type")
        .distinct()
        .collect()
    }
    assert by_video["v01"] == "Track"
    assert by_video["v06"] == "Album/Playlist"
    assert by_video["v07"] == "Album/Playlist"


def test_int_useful_no_threshold_means_all_tracks(musicflow_sources):
    models = build_all(musicflow_sources, PipelineConfig(threshold_ms=None))
    vals = {
        r["estimated_type"]
        for r in models["int_useful_youtube_library"].select("estimated_type").collect()
    }
    assert vals == {"Track"}


def test_log_found_videos_branches(models):
    found = models["log_found_videos"]
    # current-user rows: one per mapped-playlist log row (9 of 11 log
    # rows sit in playlists with a spotify_playlist_id mapping)
    current = found.filter(F.col("video_id").isNotNull())
    assert current.count() == 10
    # reference bug kept: youtube_author mirrors the video TITLE
    r = current.filter(F.col("spotify_uri") == "spotify:track:t01").first()
    assert r["youtube_author"] == r["youtube_title"]
    # other-users branch: grouped blues-playlist row + the other-EP track row
    other = found.filter(F.col("video_id").isNull()).collect()
    assert len(other) == 2
    blues = next(r for r in other if r["found"] == "Playlist")
    assert blues["youtube_duration_timestamp"] == "01:00:00"


def test_log_for_tableau_routing_and_logscale(models):
    lft = models["log_for_tableau"]
    rows = lft.collect()
    # current-user branch keeps per-video rows incl. not-found (null log)
    assert lft.filter(F.col("log_id").isNull() & F.col("video_id").isNotNull()).count() == 2
    # other-users rows have null video_id and youtube_type from playlist type
    other = [r for r in rows if r["video_id"] is None and r["youtube_type"] in ("Album", "EP")]
    assert {r["youtube_type"] for r in other} == {"Album", "EP"}
    # log-scale fix: difference_sec == 0 becomes 0.1
    assert all(r["difference_sec"] != 0 for r in rows if r["difference_sec"] is not None)
    # surrogate ids are 1..N
    ids = sorted(r["id"] for r in rows)
    assert ids == list(range(1, len(rows) + 1))


def test_accepted_values(models):
    # dbt accepted_values mirrors
    st = {r["spotify_type"] for r in models["int_join_spotify_uris"].select("spotify_type").collect()}
    assert st <= {"Album", "Playlist", "Track"}
    et = {r["estimated_type"] for r in models["int_useful_youtube_library"].select("estimated_type").collect()}
    assert et <= {"Track", "Album/Playlist"}


def test_videos_saved_more_than_once(models):
    rows = {r["link"]: r for r in models["videos_saved_more_than_once"].collect()}
    assert len(rows) == 4  # v01, v08, v09, v10 each in two sections
    v01 = rows["https://www.youtube.com/watch?v=v01"]
    assert v01["section_cnt"] == 2
    assert "Liked Music" in v01["sections"] and "Rock Classics" in v01["sections"]


def test_ratio_of_found_by_playlists(models):
    rows = {
        r["youtube_playlist_id"]: r for r in models["ratio_of_found_by_playlists"].collect()
    }
    lm = rows["LM"]
    assert lm["total_tracks"] == 5
    assert lm["found_tracks"] == 4  # id 11 not found
    assert lm["percentage_found"] == 80.0
    jazz = rows["PL_jazz"]
    assert jazz["total_tracks"] == 4 and jazz["found_tracks"] == 3
    assert jazz["percentage_found"] == 75.0


def test_skipped_during_the_run_ordered_aggs(models):
    rows = models["skipped_during_the_run"].collect()
    # only (t05, sp_jazz) is hit twice within one mapped playlist
    assert len(rows) == 1
    r = rows[0]
    assert r["spotify_uri"] == "spotify:track:t05" and r["video_cnt"] == 2
    statuses = r["statuses"].split("\n")
    assert [int(s.split(" ")[0]) for s in statuses] == [5, 13]  # ORDER BY log_id
    assert statuses[0].endswith("saved")
    links = r["links_to_videos"].split("\n")
    assert links == [
        "https://www.youtube.com/watch?v=v05",
        "https://www.youtube.com/watch?v=v10",
    ]


def test_found_statistics(models):
    fbs = {r["found_by"]: r["records_found"] for r in models["found_by_statistics"].collect()}
    assert sum(fbs.values()) == 12
    fot = {r["found_on_try"]: r["records_found"] for r in models["found_on_try_statistics"].collect()}
    assert fot[1] == 6 and fot[2] == 4


# ------------------------------------- shared intermediates, once per build
@pytest.mark.parametrize("name", INTERMEDIATE_READERS)
def test_intermediate_readers_do_not_rerun_its_joins(models, name):
    # the analysis reads the build's stored intermediate rows
    assert count_plan_nodes(models[name], "Join") == 0


def test_rebuild_over_rewritten_sources_reads_new_rows(spark, musicflow_sources, tmp_path):
    """The stored intermediates belong to one build, not to the
    session: after the source files are replaced behind the same
    paths, a second build returns the new rows, where a session-wide
    cached plan would still match and return the old ones."""
    src = tmp_path / "src"

    def land(dest, frames):
        for name, df in frames.items():
            df.write.parquet(str(dest / name))

    def read():
        return {name: spark.read.parquet(str(src / name)) for name in musicflow_sources}

    def rows(df):
        return sorted(df.collect(), key=str)

    checked = ("int_join_spotify_uris", "int_useful_youtube_library",
               "log_found_videos", "log_not_found_videos", *INTERMEDIATE_READERS)
    land(src, musicflow_sources)
    first = build_all(read(), CFG)
    before = {name: rows(first[name]) for name in checked}

    halved = dict(musicflow_sources)
    halved["youtube_library"] = halved["youtube_library"].filter(F.col("id") % 2 == 0)
    halved["spotify_log"] = halved["spotify_log"].filter(F.col("log_id") % 2 == 0)
    land(tmp_path / "next", halved)
    shutil.rmtree(src)
    os.rename(tmp_path / "next", src)

    second = build_all(read(), CFG)
    expected = build_all(halved, CFG)
    after = {name: rows(second[name]) for name in checked}
    assert after == {name: rows(expected[name]) for name in checked}
    assert after["int_join_spotify_uris"] != before["int_join_spotify_uris"]
    assert after["int_useful_youtube_library"] != before["int_useful_youtube_library"]
