"""Cleanup-flow tests (P9 timestamp predicates + S11 chunked sink)."""

from __future__ import annotations

import datetime as dt

from musicflow_spark.plans.cleanup import (
    albums_to_unlike,
    playlists_to_remove,
    tracks_to_unlike,
)
from musicflow_spark.sources.rest import apply_side_effects

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def test_tracks_to_unlike_timestamp_predicate(spark):
    liked = spark.createDataFrame(
        [
            ("spotify:track:a", T0 - dt.timedelta(days=1)),
            ("spotify:track:b", T0 + dt.timedelta(seconds=1)),
            ("spotify:track:c", T0 + dt.timedelta(days=2)),
        ],
        "uri string, added_at timestamp",
    )
    got = {r["uri"] for r in tracks_to_unlike(liked, T0).collect()}
    assert got == {"spotify:track:b", "spotify:track:c"}
    # None = full cleanup
    assert tracks_to_unlike(liked, None).count() == 3
    # string checkpoint accepted (the reference parses '%Y-%m-%d %H:%M:%S')
    assert albums_to_unlike(liked, "2024-01-01 12:00:00").count() == 2


def test_playlists_to_remove_keep_names(spark):
    pls = spark.createDataFrame(
        [
            ("p1", "Rock Classics", T0 + dt.timedelta(days=1)),
            ("p2", "Keep Me", T0 + dt.timedelta(days=1)),
            ("p3", "Old One", T0 - dt.timedelta(days=1)),
        ],
        "spotify_playlist_id string, title string, created_at timestamp",
    )
    got = {r["spotify_playlist_id"] for r in playlists_to_remove(pls, T0, keep_names=("Keep Me",)).collect()}
    assert got == {"p1"}


def test_side_effect_sink_chunks_of_50(spark):
    df = spark.createDataFrame([(f"uri{i}",) for i in range(120)], "uri string").coalesce(1)
    import tempfile, os, glob

    out_dir = tempfile.mkdtemp()

    def batch_fn(rows):
        # executor-side assertion + observable effect via files
        assert len(rows) <= 50
        with open(os.path.join(out_dir, f"b{len(os.listdir(out_dir))}_{len(rows)}"), "w"):
            pass

    apply_side_effects(df, batch_fn, batch_size=50)
    sizes = sorted(int(f.rsplit("_", 1)[1]) for f in glob.glob(out_dir + "/*"))
    assert sizes == [20, 50, 50]
