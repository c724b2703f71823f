"""The seeded generator: determinism, the constraints the reference
check suite encodes, and the planted ground truth."""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import generator  # noqa: E402
from generator import COLUMNS, generate  # noqa: E402

ROWS = 3_000


@pytest.fixture(scope="module")
def data():
    return generate(7, ROWS)


def test_same_seed_same_tables(data):
    again = generate(7, ROWS)
    assert again.tables == data.tables
    assert again.truth == data.truth
    assert generate(8, ROWS).tables != data.tables


def test_shapes(data):
    for name, rows in data.tables.items():
        assert all(len(r) == len(COLUMNS[name]) for r in rows), name
    # the library size is approximate: videos repeat across playlists
    assert abs(data.library_rows - ROWS) < 0.05 * ROWS


def test_keys_unique(data):
    t = data.tables
    for name, key in (("youtube_library", 0), ("youtube_videos", 0), ("youtube_playlists", 0),
                      ("spotify_tracks", 0), ("spotify_albums", 0),
                      ("spotify_playlists_others", 0), ("playlist_ids", 1)):
        keys = [r[key] for r in t[name]]
        assert len(keys) == len(set(keys)), name


def test_no_video_twice_in_a_playlist(data):
    pairs = Counter((pid, vid) for _, pid, vid in data.tables["youtube_library"])
    assert max(pairs.values()) == 1


def test_other_playlists_hold_one_video(data):
    owner = {p[0]: p[3] for p in data.tables["youtube_playlists"]}
    per_other = Counter(
        pid for _, pid, _ in data.tables["youtube_library"]
        if owner[pid] not in (generator.YOUR_CHANNEL, None)
    )
    assert len(per_other) == generator.OTHER_PLAYLISTS
    assert set(per_other.values()) == {1}


def test_shares(data):
    own = [v for v in data.tables["youtube_videos"] if v[0].startswith("v")]
    copies = Counter(vid for _, _, vid in data.tables["youtube_library"])
    multi = sum(copies[v[0]] > 1 for v in own) / len(own)
    album = sum(v[5] >= generator.THRESHOLD_MS for v in own) / len(own)
    matched = sum(data.matches[v[0]] is not None for v in own) / len(own)
    common = sum(v[2].startswith(generator.COMMON_WORD + " ") for v in own) / len(own)
    assert multi == pytest.approx(generator.MULTI_SHARE, abs=0.03)
    assert album == pytest.approx(generator.ALBUM_SHARE, abs=0.02)
    assert matched == pytest.approx(generator.MATCHABLE_SHARE, abs=0.03)
    assert common == pytest.approx(generator.COMMON_WORD_SHARE, abs=0.02)
    assert len(data.new_videos) == round(generator.NEW_SHARE * len(own))


def test_planted_truth_points_into_the_catalog(data):
    uris = {r[0] for r in data.tables["spotify_tracks"]}
    uris |= {r[0] for r in data.tables["spotify_albums"]}
    uris |= {r[0] for r in data.tables["spotify_playlists_others"]}
    planted = [u for u in data.truth.values() if u is not None]
    assert planted and set(planted) <= uris
    assert set(data.truth) == {r[0] for r in data.tables["youtube_library"]}


def test_planted_track_title_is_the_cleaned_video_title(data):
    by_uri = {r[0]: r for r in data.tables["spotify_tracks"]}
    videos = {v[0]: v for v in data.tables["youtube_videos"]}
    for vid, m in data.matches.items():
        if m is None or m["kind"] != "track":
            continue
        track, video = by_uri[m["spotify_uri"]], videos[vid]
        # the video title is the track title, plus at most a decoration
        assert video[2].startswith(track[3])
        assert abs(track[5] - video[5]) <= 5_000


def test_collection_children_sum_to_their_parent(data):
    kids = Counter()
    total = Counter()
    for t in data.tables["spotify_tracks"]:
        parent = t[2] or t[1]
        kids[parent] += 1
        total[parent] += t[5]
    for uri, _, _, duration, n in (data.tables["spotify_albums"]
                                   + data.tables["spotify_playlists_others"]):
        assert (kids[uri], total[uri]) == (n, duration), uri


def test_yesterday_drops_only_the_new_videos(data):
    old = data.yesterday()
    kept = {vid for _, _, vid in old.tables["youtube_library"]}
    assert not kept & data.new_videos
    gone = data.library_rows - old.library_rows
    assert gone == sum(vid in data.new_videos for _, _, vid in data.tables["youtube_library"])
    assert old.tables["youtube_videos"] == data.tables["youtube_videos"]


def test_expected_cache_has_one_entry_per_key(data):
    cache = data.expected_cache()
    keys = [k for k, _ in cache]
    assert len(keys) == len(set(keys))
    own = {v[0] for v in data.tables["youtube_videos"] if v[0].startswith("v")}
    assert set(keys) == own | {p for p in data.matches if p.startswith("OT")}
    for key, payload in cache:
        assert (payload is None) == (data.matches[key] is None)
        if payload is not None:
            assert json.loads(payload)["spotify_uri"] == data.matches[key]["spotify_uri"]


def test_expected_log_covers_the_planted_matches(data):
    log = data.expected_log()
    assert len(log) == sum(u is not None for u in data.truth.values())
    assert {r[-1] for r in log} == {"saved"}
