"""Match-engine tests: the set-oriented cascade must reproduce the
reference's row-at-a-time semantics (strategy order, first-hit-wins,
accept predicates, skip statuses, guarded upsert) on a deterministic
local catalog."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from musicflow_spark.config import PipelineConfig
from musicflow_spark.matching import CatalogCandidateSource, MatchEngine, match_with_cache
from tests.fixtures import count_plan_nodes

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def source(musicflow_sources):
    return CatalogCandidateSource(
        catalog_tracks=musicflow_sources["spotify_tracks"],
        catalog_albums=musicflow_sources["spotify_albums"],
        catalog_playlists=musicflow_sources["spotify_playlists_others"],
    )


@pytest.fixture(scope="module")
def engine_inputs(spark, musicflow_sources):
    # current-user videos (reference extract_videos shape): one row
    # per library entry with video payload
    lib = musicflow_sources["youtube_library"]
    vids = musicflow_sources["youtube_videos"]
    yp = musicflow_sources["youtube_playlists"]
    current = (
        lib.join(yp, "youtube_playlist_id")
        .filter((F.col("author") == CFG.your_channel_name) | F.col("author").isNull())
        .select("id", "youtube_playlist_id", "video_id")
        .join(vids, "video_id")
        .select(
            F.col("id").alias("log_id"),
            "youtube_playlist_id",
            "video_id",
            F.col("title"),
            F.col("author"),
            F.col("description"),
            F.col("duration_ms"),
        )
    )
    # a second PL_jazz video that resolves to the same track as v05 ->
    # exercises 'skipped (saved during the run)'
    extra = spark.createDataFrame(
        [
            (
                20,
                "PL_jazz",
                "v05b",
                "Take Five: The Classic",
                "SomeoneElse",
                "",
                326_000,
            )
        ],
        current.schema,
    )
    videos = current.unionByName(extra)
    playlist_map = musicflow_sources["playlist_ids"].select(
        "youtube_playlist_id",
        F.col("spotify_playlist_id").alias("user_playlist_id"),
    )
    return videos, playlist_map


@pytest.fixture(scope="module")
def result(spark, source, engine_inputs):
    videos, playlist_map = engine_inputs
    engine = MatchEngine(CFG, source)
    liked = spark.createDataFrame([("spotify:track:t03",)], "uri string")
    return match_with_cache(engine, videos, playlist_map, liked_tracks=liked)[0]


@pytest.fixture(scope="module")
def log_rows(result):
    return {r["log_id"]: r for r in result.log.collect()}


def test_track_matches_and_strategy_zero(log_rows):
    # v01 (log 0, LM): exact title+artist -> strategy 0, first try
    r = log_rows[0]
    assert r["track_uri"] == "spotify:track:t01"
    assert r["search_type_id"] == 0
    assert r["found_on_try"] == 1
    assert r["status"] == "saved"
    assert r["difference_ms"] == 1000
    assert r["track_match"] == 1 and r["total_tracks"] == 1


def test_ost_accept_without_artist(log_rows):
    # v03: 'Moonlight OST | Piano Version' — artist differs entirely;
    # accept via track-in-title + is_ost (spotify_elt.py:288-289)
    r = log_rows[1]
    assert r["track_uri"] == "spotify:track:t03"
    # liked + LM -> saved before the run
    assert r["status"] == "skipped (saved before the run)"


def test_album_branch_over_threshold(log_rows):
    # v06 (log 8, 2.58M ms >= threshold): album branch, duration exact
    r = log_rows[8]
    assert r["album_uri"] == "spotify:album:a10"
    assert r["track_uri"] is None
    assert r["track_match"] == 4 and r["total_tracks"] == 4
    assert r["difference_ms"] == 0


def test_not_found_videos_missing_from_log(log_rows):
    # v09 '(1984)' never matches; library ids 11,12 absent
    assert 11 not in log_rows and 12 not in log_rows


def test_same_playlist_duplicate_skipped_during(log_rows):
    # v05 (log 5) and v05b (log 20) both resolve t05 into sp_jazz:
    # lower log_id saved, higher skipped-during (log_id determinism,
    # SURVEY §7 watch-list #6)
    assert log_rows[5]["track_uri"] == "spotify:track:t05"
    assert log_rows[20]["track_uri"] == "spotify:track:t05"
    assert log_rows[5]["status"] == "saved"
    assert log_rows[20]["status"] == "skipped (saved during the run)"


def test_cross_playlist_duplicate_both_saved(log_rows):
    # v08 saved in PL_jazz (log 6) and LM (log 7): different
    # (uri, playlist) pairs -> both 'saved' (collect_track keys on the
    # pair, spotify_elt.py:317-321)
    assert log_rows[6]["status"] == "saved"
    assert log_rows[7]["status"] == "saved"


def test_exactly_one_uri_non_null(result):
    bad = result.log.filter(
        (
            F.col("album_uri").isNotNull().cast("int")
            + F.col("playlist_uri").isNotNull().cast("int")
            + F.col("track_uri").isNotNull().cast("int")
        )
        != 1
    )
    assert bad.count() == 0


def test_guarded_upsert_tracks(result):
    tracks = {r["track_uri"]: r for r in result.tracks.collect()}
    # track_uri unique after upsert
    assert result.tracks.count() == len(tracks)
    # album children materialize with their album_uri
    assert tracks["spotify:track:t11"]["album_uri"] == "spotify:album:a10"


def test_albums_table(result):
    albums = result.albums.collect()
    assert len(albums) == 1
    a = albums[0]
    assert a["album_uri"] == "spotify:album:a10"
    assert a["duration_ms"] == 2_580_000 and a["total_tracks"] == 4


def test_side_effect_sets(result):
    likes = {r["track_uri"] for r in result.tracks_to_like.collect()}
    # LM saved tracks liked; t03 was skipped-before so NOT liked
    assert "spotify:track:t01" in likes
    assert "spotify:track:t03" not in likes
    adds = {
        (r["user_playlist_id"], r["track_uri"])
        for r in result.playlist_additions.collect()
    }
    assert ("sp_jazz", "spotify:track:t05") in adds
    # album children added to no playlist (v06 lives in LM)
    assert all(p != "LM" for p, _ in adds)


# ----------------------------------------------- other-playlists pass
@pytest.fixture(scope="module")
def others_grouped(spark):
    # two grouped other-user playlists (extract_other_playlists shape):
    # one that matches playlist p10 exactly by duration, one unfindable
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


@pytest.fixture(scope="module")
def others_result(spark, source, engine_inputs, others_grouped):
    videos, playlist_map = engine_inputs
    engine = MatchEngine(CFG, source)
    return match_with_cache(engine, videos, playlist_map, grouped_others=others_grouped)[0]


def test_others_pass_matches_whole_playlists(others_result):
    log = {r["log_id"]: r for r in others_result.log.collect()}
    # both aggregated log ids got a fanned-out row with the SAME match
    assert log[9]["playlist_uri"] == "spotify:playlist:p10"
    assert log[21]["playlist_uri"] == "spotify:playlist:p10"
    assert log[9]["status"] == "saved" and log[21]["status"] == "saved"
    assert log[9]["search_type_id"] == 2  # found on the {fixed} strategy
    # group total_tracks (library rows), not the spotify child count
    assert log[9]["total_tracks"] == 2
    # track_match: children whose title appears in ANY video title
    assert log[9]["track_match"] == 1  # 'Hidden Gem' in 'hidden gem'
    # the unfindable group produced no log rows
    assert 10 not in log


def test_others_pass_side_effects_and_children(others_result):
    # saved LM playlist-kind match -> playlists_to_like
    likes = {r["playlist_uri"] for r in others_result.playlists_to_like.collect()}
    assert likes == {"spotify:playlist:p10"}
    # playlist children keep their own artists and album_uri
    tracks = {r["track_uri"]: r for r in others_result.tracks.collect()}
    assert tracks["spotify:track:t21"]["album_uri"] == "spotify:album:a20"
    assert tracks["spotify:track:t21"]["track_artists"] == "BluesVault"
    assert tracks["spotify:track:t21"]["playlist_uri"] == "spotify:playlist:p10"


def test_album_children_carry_album_artists(result):
    # album a10's children store the ALBUM's artists (reference
    # log_album bug-compat), never ''
    tracks = {r["track_uri"]: r for r in result.tracks.collect()}
    assert tracks["spotify:track:t11"]["track_artists"] == "PinkArchive"
    assert tracks["spotify:track:t11"]["album_uri"] == "spotify:album:a10"


# ----------------------------------------------- REST candidate source
def test_rest_candidate_source_schema_and_batching(spark):
    from musicflow_spark.matching.candidates import RestCandidateSource

    def search_fn(q, kind, limit):
        assert kind == "track" and limit == 7
        if q == "miss":
            return []
        out = [
            {
                "item_uri": f"uri:{q}:1",
                "item_title": q.title(),
                "item_artists": ["A", "B"],
                "item_duration_ms": 1000,
                "album_uri": "alb:1",
                # children in the OLD 3-key shape: new struct fields
                # must coerce to null, not break the Arrow batch
                "children": [
                    {"track_uri": "c1", "track_title": "C1", "duration_ms": 10},
                ],
            },
            {
                "item_uri": f"uri:{q}:2",
                "item_title": q,
                "item_artists": [],
                # optional keys absent entirely
            },
        ][:limit]
        return out

    queries = spark.createDataFrame(
        [(1, "alpha"), (2, "miss"), (3, "beta")], "qid long, q string"
    )
    got = RestCandidateSource(search_fn, n_partitions=2).search(queries, "track", 7)
    rows = {(r["qid"], r["result_rank"]): r for r in got.collect()}
    assert set(rows) == {(1, 1), (1, 2), (3, 1), (3, 2)}  # 'miss' -> no rows
    top = rows[(1, 1)]
    assert top["item_uri"] == "uri:alpha:1" and top["item_artists"] == ["A", "B"]
    child = top["children"][0]
    assert child["track_uri"] == "c1"
    assert child["track_artists"] is None and child["album_uri"] is None
    second = rows[(1, 2)]
    assert second["item_duration_ms"] is None and second["children"] is None


def test_strategy_rows_plan_is_linear_in_fixed_title_refs(spark):
    """Over a prepared frame that is NOT checkpointed, Catalyst inlines
    ``fixed_title`` into every strategy that names it.  Each inlined
    copy must hold one regexp per rewrite step, not 2^9."""
    from musicflow_spark.functions.strings import FIX_TITLE_STEPS, with_fixed_title
    from musicflow_spark.matching.engine import TRACK_STRATEGIES

    videos = spark.createDataFrame(
        [(1, "Song (Live) | OST 1999 Full Album", "Band - Topic")],
        "log_id long, title string, author string",
    )
    prepared = with_fixed_title(videos, "title").withColumn("artist", F.col("author"))
    steps = len(FIX_TITLE_STEPS)
    assert count_plan_nodes(prepared, "RegExpReplace", steps) == steps

    engine = MatchEngine(CFG, source=None)
    rows = engine._strategy_rows(prepared, TRACK_STRATEGIES)
    # each strategy names fixed_title at most twice (its template and
    # its only-if-fixed-differs guard), plus the passed-through column
    bound = steps * (2 * len(TRACK_STRATEGIES) + 1)
    assert count_plan_nodes(rows, "RegExpReplace", bound) <= bound
    # the inlined plan and the one over materialised titles agree
    stored = engine._strategy_rows(prepared.localCheckpoint(), TRACK_STRATEGIES)
    assert sorted(rows.select("priority", "q").collect()) == sorted(
        stored.select("priority", "q").collect()
    )


def test_fix_title_parts_matches_its_oracle(spark, sf_dir):
    """The benchmarked query over the same chain agrees, row for row,
    with its DuckDB oracle (one CTE per rewrite step)."""
    import duckdb

    from musicflow_spark.queries import get_queries
    from tools.check_oracle import compare

    q = next(q for q in get_queries() if q.name == "fix_title_parts")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW part AS SELECT * FROM '{sf_dir}/part.parquet'")
    assert compare(q.name, q.spark(spark, sf_dir).toPandas(), con.execute(q.oracle).df()) == []
