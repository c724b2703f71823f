"""Match-result cache (SURVEY §2.1 S9): the reference memoizes each
video's match in Redis as JSON so a restarted run skips already-
searched videos (spotify_elt.py:772-774,797,823,850; flushed at
:1210; reproduce.md "Just restart the flow").

Spark shape: a parquet cache table ``(video_id, payload)`` where
payload is the JSON-encoded match struct (F21: to_json/from_json with
an explicit schema — the exact idiom the reference uses for Redis
values).  A run left-joins its videos against the cache: hits
reconstruct match rows directly from the payload (NO search
round-trips — preserving the reference's API-cost property), misses
run the engine; the union feeds the normal assembly, and the new
cache is the old one plus the misses' results.  Keyed by video_id:
the same video in two playlists is one cache entry, exactly one
search — playlist-dependent fields (log_id, status, membership) are
recomputed at assembly, never cached.

One lookup per pass: ``_match_pass`` checkpoints its left join of
the pass's rows against the cache once, eagerly, with a hit flag.  The
hit and miss rows, and the probe that skips the engine when nothing
is new, are filters of that checkpoint, so the match rows (and every
output and new cache entry read from them) never read the cache
files the hits were decoded from.  ``save_cache`` may therefore
replace those files as soon as ``match_with_cache`` returns, and the
outputs stay readable.  Only the old-entry half of the merged cache
reads the old files, and ``save_cache`` finishes writing it before it
removes them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.matching.engine import MatchEngine, MatchResult
from musicflow_spark.session import empty_frame
from musicflow_spark.sources.catalog import existing_table, replace_table

#: the per-video payload serialized into cache JSON — everything in a
#: match row except the per-library-row keys (log_id,
#: user_playlist_id), which are run-dependent
PAYLOAD_FIELDS = [
    "search_type_id", "q", "spotify_uri", "album_uri", "item_title",
    "item_artists_s", "item_duration_ms", "difference_ms", "track_match",
    "total_tracks", "children", "found_on_try", "kind",
]

PAYLOAD_SCHEMA = (
    "search_type_id bigint, q string, spotify_uri string, album_uri string, "
    "item_title string, item_artists_s string, item_duration_ms bigint, "
    "difference_ms bigint, track_match bigint, total_tracks bigint, "
    "children array<struct<track_uri:string,track_title:string,duration_ms:bigint,"
    "track_artists:string,album_uri:string>>, "
    "found_on_try bigint, kind string"
)

#: one store, two key namespaces — video_id for the video pass and
#: youtube_playlist_id for the other-playlists pass, exactly like the
#: reference's shared Redis db (spotify_elt.py:772,863)
CACHE_SCHEMA = "video_id string, payload string"


def load_cache(spark: SparkSession, path: str) -> DataFrame:
    """Parquet-backed cache; missing path = cold cache (first run).
    A flush that crashed mid-replace is finished by ``existing_table``."""
    cache = existing_table(spark, path, CACHE_SCHEMA)
    return empty_frame(spark, CACHE_SCHEMA) if cache is None else cache


def save_cache(cache: DataFrame, path: str) -> None:
    """The reference flushes Redis at run end (spotify_elt.py:1210);
    here the flush is one ``replace_table`` of the merged cache."""
    replace_table(cache, path)


def cache_entries(searched: DataFrame) -> DataFrame:
    """Searched rows (``_match_pass``) -> cache rows: one per ``__key__``.

    Matched keys store the JSON payload (lowest log_id wins when the
    video sits in several playlists — payloads are identical by
    construction).  Keys the search did NOT match are cached with a
    null payload: the reference re-searches misses on every restart
    (Redis only memoizes hits, spotify_elt.py:772-797); caching the
    negative verdict is a deliberate improvement that makes warm
    reruns zero-API-call — flagged here because it diverges."""
    return (
        searched.withColumn(
            "__rn__",
            F.row_number().over(
                Window.partitionBy("__key__").orderBy(
                    F.col("kind").isNull().cast("int"), "log_id"
                )
            ),
        )
        .filter(F.col("__rn__") == 1)
        .select(
            F.col("__key__").alias("video_id"),
            F.when(
                F.col("kind").isNotNull(),
                F.to_json(F.struct(*[F.col(c) for c in PAYLOAD_FIELDS])),
            ).alias("payload"),
        )
    )


def _match_pass(
    keyed: DataFrame,
    key: str,
    cache: DataFrame,
    compute: Callable[[DataFrame], DataFrame],
    add_context: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """One cache-aware match pass: the decoded hit rows plus one row
    per searched miss, matched or not, with its cache key in
    ``__key__`` (null on hit rows).  Match rows are those with a
    ``kind``; the searched rows are the pass's new cache entries.

    ``keyed`` carries ``log_id`` and the cache ``key``.  Its left join
    to the cache is checkpointed once (the module docstring's one
    lookup); hits and misses are filters of it.  Hits decode their
    payload, and ``add_context`` adds the pass's ``user_playlist_id``,
    ``log_ids`` and ``pass_no``; the cached negative verdicts (null
    payload) yield no row.  Misses go through ``compute`` (the
    engine), which never runs when every key is cached."""
    looked_up = keyed.join(
        cache.select(F.col("video_id").alias(key), "payload", F.lit(True).alias("__hit__")),
        key,
        "left",
    ).localCheckpoint(eager=True)
    misses = looked_up.filter(F.col("__hit__").isNull()).drop("payload", "__hit__")
    hit_matches = add_context(
        looked_up.filter(F.col("payload").isNotNull()).withColumn(
            "__m__", F.from_json("payload", PAYLOAD_SCHEMA)
        )
    ).select(
        "log_id",
        "user_playlist_id",
        *[F.col(f"__m__.{c}").alias(c) for c in PAYLOAD_FIELDS],
        "log_ids",
        "pass_no",
        F.lit(None).cast("string").alias("__key__"),
    )
    if misses.isEmpty():
        miss_matches = empty_frame(keyed.sparkSession, MatchEngine._match_schema())
    else:
        miss_matches = compute(misses)
    searched = misses.select("log_id", F.col(key).alias("__key__")).join(
        miss_matches, "log_id", "left"
    )
    return hit_matches.unionByName(searched.select(*hit_matches.columns))


def match_with_cache(
    engine: MatchEngine,
    videos: DataFrame,
    playlist_map: DataFrame,
    cache: DataFrame | None = None,
    liked_tracks: DataFrame | None = None,
    liked_albums: DataFrame | None = None,
    grouped_others: DataFrame | None = None,
) -> tuple[MatchResult, DataFrame]:
    """The matcher's one entry point: returns (result, merged_cache).

    Cache hits never reach the CandidateSource; only miss videos run
    the search cascade.  Assembly sees hits and misses together, so
    statuses / guarded upserts / side-effect sets behave exactly as a
    cold run over the same videos.  ``cache=None`` is that cold run:
    every video is a miss.

    videos / playlist_map: see ``MatchEngine.compute_matches``;
    liked_tracks / liked_albums: (uri) sets saved before the run.

    ``grouped_others`` (extract_other_playlists grouping) runs the
    second pass the same way, cached under the youtube_playlist_id
    key — the reference memoizes that pass per playlist id in the
    same Redis db (spotify_elt.py:863-884)."""
    cache = cache if cache is not None else empty_frame(videos.sparkSession, CACHE_SCHEMA)

    rows = _match_pass(
        videos,
        "video_id",
        cache,
        lambda misses: engine.compute_matches(misses, playlist_map),
        lambda hits: (
            hits.join(F.broadcast(playlist_map), "youtube_playlist_id", "left")
            .withColumn("user_playlist_id", F.coalesce("user_playlist_id", F.lit("LM")))
            .withColumn("log_ids", F.lit(None).cast("array<bigint>"))
            .withColumn("pass_no", F.lit(0))
        ),
    )
    if grouped_others is not None:
        # group entries reuse the video cache shape with the playlist
        # id in the key column
        g_rows = _match_pass(
            grouped_others.withColumn("log_id", F.element_at("log_ids", 1)),
            "youtube_playlist_id",
            cache,
            engine.compute_matches_others,
            lambda hits: hits.withColumn("user_playlist_id", F.lit("LM")).withColumn(
                "pass_no", F.lit(1)
            ),
        )
        rows = rows.unionByName(g_rows)

    # the flush and every output read the rows: computed once, by
    # whichever of them runs first
    rows = rows.localCheckpoint(eager=False)
    result = engine.assemble(
        rows.filter(F.col("kind").isNotNull()).drop("__key__"), liked_tracks, liked_albums
    )
    new_entries = cache_entries(rows.filter(F.col("__key__").isNotNull()))
    # misses are disjoint from the cache by construction; keep the
    # merge an explicit prefer-new anti-join rather than an arbitrary
    # dropDuplicates so re-merging the same run is idempotent
    merged = cache.join(new_entries.select("video_id"), "video_id", "left_anti").unionByName(
        new_entries
    )
    return result, merged
