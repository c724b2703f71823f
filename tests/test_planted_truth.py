"""End-to-end over planted truth: a cold sync of a seeded generated
library must find exactly the planted catalog match of every video.

The generator is the benchmark's (``perfbench/generator.py``), used
read-only: ``Dataset.truth`` maps every library row to the catalog uri
the matcher should find, or None.  The assertions mirror the
benchmark's verification (``perfbench/workloads.py``): recall and
precision against that truth, conservation of library rows, and the
totals of the seven analyses.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
from generator import CATALOG_TABLES, generate  # noqa: E402

SEED = 7
LIBRARY_ROWS = 400


@pytest.fixture(scope="module")
def synced(spark, tmp_path_factory):
    from musicflow_spark.config import PipelineConfig
    from musicflow_spark.matching import CatalogCandidateSource
    from musicflow_spark.plans.dag import musicflow_pipeline
    from musicflow_spark.schemas import MUSICFLOW_SCHEMAS

    data = generate(SEED, LIBRARY_ROWS)
    sources = {
        name: spark.createDataFrame(rows, MUSICFLOW_SCHEMAS[name])
        for name, rows in data.tables.items()
    }
    catalog = CatalogCandidateSource(*(sources.pop(name) for name in CATALOG_TABLES))
    work = tmp_path_factory.mktemp("planted_truth")
    pipe = musicflow_pipeline(
        spark, sources, PipelineConfig(), catalog, str(work / "warehouse"),
        cache_path=str(work / "match_cache"),  # cold: nothing there yet
    )
    return data, pipe.run()


def test_matches_equal_planted_truth(synced):
    data, models = synced
    library = data.tables["youtube_library"]
    # a library row per found row: a video sits at most once in a
    # playlist, and another user's playlist holds one video
    lib_id = {(pid, vid): i for i, pid, vid in library}
    other = {pid: i for i, pid, _ in library if pid.startswith("OT")}
    found = {}
    for r in models["log_found_videos"].select(
        "youtube_playlist_id", "video_id", "spotify_uri"
    ).collect():
        key = other.get(r.youtube_playlist_id)
        if key is None:
            key = lib_id.get((r.youtube_playlist_id, r.video_id), -1)
        found[key] = r.spotify_uri
    planted = {k: v for k, v in data.truth.items() if v is not None}
    assert planted, "the generated library plants no match"
    recall = sum(found.get(k) == v for k, v in planted.items()) / len(planted)
    precision = sum(data.truth.get(k) == v for k, v in found.items()) / max(1, len(found))
    assert (recall, precision) == (1.0, 1.0)
    assert len(found) + models["log_not_found_videos"].count() == len(library)


def test_analysis_totals(synced):
    data, models = synced
    t = data.tables
    n_found = sum(v is not None for v in data.truth.values())
    copies: dict[str, int] = {}
    for _, _, vid in t["youtube_library"]:
        copies[vid] = copies.get(vid, 0) + 1
    rows = {
        name: models[name].collect()
        for name in (
            "most_saved_channels", "youtube_statistics", "videos_saved_more_than_once",
            "found_by_statistics", "found_on_try_statistics", "skipped_during_the_run",
            "ratio_of_found_by_playlists",
        )
    }
    got = {
        "most_saved_channels": sum(r.videos for r in rows["most_saved_channels"]),
        "youtube_statistics": sum(r.total_reconds for r in rows["youtube_statistics"]),
        "videos_saved_more_than_once": len(rows["videos_saved_more_than_once"]),
        "found_by_statistics": sum(r.records_found for r in rows["found_by_statistics"]),
        "found_on_try_statistics": sum(
            r.records_found for r in rows["found_on_try_statistics"]
        ),
        "skipped_during_the_run": len(rows["skipped_during_the_run"]),
        "ratio_of_found_by_playlists": sum(
            r.found_tracks for r in rows["ratio_of_found_by_playlists"]
        ),
    }
    assert got == {
        "most_saved_channels": len(t["youtube_videos"]),
        "youtube_statistics": len(t["youtube_library"]),
        "videos_saved_more_than_once": sum(n > 1 for n in copies.values()),
        "found_by_statistics": n_found,
        "found_on_try_statistics": n_found,
        # planted uris are distinct per video, and a video is never
        # twice in one playlist: no uri is saved twice to a playlist
        "skipped_during_the_run": 0,
        "ratio_of_found_by_playlists": n_found,
    }
