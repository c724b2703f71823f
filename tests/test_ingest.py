"""Extract-layer normalization tests (P4-P6, P8, U2, A7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from musicflow_spark.sources.ingest import (
    dedup_by_key,
    filter_available_videos,
    filter_valid_tracks,
    filter_visible_playlists,
    repair_track_fields,
    with_lm_row,
)


def test_unavailable_videos_dropped(spark):
    df = spark.createDataFrame(
        [("v1", "Real Song"), ("v2", "Deleted video"), ("v3", "Private video")],
        "video_id string, title string",
    )
    got = {r["video_id"] for r in filter_available_videos(df).collect()}
    assert got == {"v1"}


def test_briefcase_playlists_dropped(spark):
    df = spark.createDataFrame(
        [("p1", "Work 💼 stuff"), ("p2", "Music")], "id string, title string"
    )
    got = {r["id"] for r in filter_visible_playlists(df).collect()}
    assert got == {"p2"}


def test_null_ids_dropped_and_dedup(spark):
    df = spark.createDataFrame(
        [("v1",), (None,), ("v1",), ("v2",)], "video_id string"
    )
    kept = filter_valid_tracks(df)
    assert kept.count() == 3
    assert dedup_by_key(kept, "video_id").count() == 2


def test_lm_row_union(spark, musicflow_sources):
    pls = musicflow_sources["youtube_playlists"].filter(F.col("youtube_playlist_id") != "LM")
    out = with_lm_row(pls)
    lm = out.filter(F.col("youtube_playlist_id") == "LM").collect()
    assert len(lm) == 1 and lm[0]["author"] is None and lm[0]["title"] == "Liked Music"


def test_repair_track_fields(spark):
    df = spark.createDataFrame(
        [("v1", 0, None), ("v2", 5000, "Album")],
        "video_id string, duration_ms bigint, type string",
    )
    got = {r["video_id"]: (r["duration_ms"], r["type"]) for r in repair_track_fields(df).collect()}
    assert got == {"v1": (None, "Track"), "v2": (5000, "Album")}
