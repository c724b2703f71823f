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

One lookup for both passes: ``match_with_cache`` puts the video rows
and the grouped other-playlist rows in one request frame, each row
with its match context and cache key, and checkpoints that frame's
left join against the cache once, eagerly, with a hit flag.  The hit
rows, each pass's misses and the probes that skip the engine when a
pass has nothing new are filters of that checkpoint, so the match
rows (and every output and new cache entry read from them) never read
the cache files the hits were decoded from.  ``save_cache`` may
therefore replace those files as soon as ``match_with_cache``
returns, and the outputs stay readable.  Only the old-entry half of
the merged cache reads the old files, and ``save_cache`` finishes
writing it before it removes them.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.matching.engine import MATCH_COLUMNS, MATCH_SCHEMA, MatchEngine, MatchResult
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

PAYLOAD_SCHEMA = ", ".join(f"{c} {MATCH_COLUMNS[c]}" for c in PAYLOAD_FIELDS)

#: what a request row carries besides its pass's own columns: the
#: match context the engine passes through to its match rows
CONTEXT = ("log_id", "user_playlist_id", "log_ids", "pass_no")

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
    """Searched rows (``match_with_cache``) -> cache rows: one per ``__key__``.

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

    videos: (log_id, youtube_playlist_id, video_id, title, author,
    description, duration_ms), see ``MatchEngine.compute_matches``;
    playlist_map: (youtube_playlist_id, user_playlist_id) with the
    'LM' pseudo-row (reference get_user_playlist_id,
    spotify_elt.py:134-138), unmapped playlists go to 'LM';
    liked_tracks / liked_albums: (uri) sets saved before the run.

    ``grouped_others`` (extract_other_playlists grouping) is the
    second pass, cached under the youtube_playlist_id key — the
    reference memoizes that pass per playlist id in the same Redis db
    (spotify_elt.py:863-884).

    Both passes share one lookup (the module docstring).  Each pass's
    misses, in its own columns plus ``CONTEXT``, go to its engine
    entry point, which never runs when the pass has no miss.  The
    assembly and the flush read the hits' match rows (null
    ``__key__``) plus one row per searched miss, matched or not."""
    spark = videos.sparkSession
    cache = cache if cache is not None else empty_frame(spark, CACHE_SCHEMA)

    passes = [(videos.columns, engine.compute_matches)]
    requests = (
        videos.join(F.broadcast(playlist_map), "youtube_playlist_id", "left")
        .withColumn("user_playlist_id", F.coalesce("user_playlist_id", F.lit("LM")))
        .withColumn("log_ids", F.lit(None).cast("array<bigint>"))
        .withColumn("pass_no", F.lit(0))
        .withColumn("__key__", F.col("video_id"))
    )
    if grouped_others is not None:
        passes.append((grouped_others.columns, engine.compute_matches_others))
        # a group's match row stands for its first log id
        groups = (
            grouped_others.withColumn("log_id", F.element_at("log_ids", 1))
            .withColumn("user_playlist_id", F.lit("LM"))
            .withColumn("pass_no", F.lit(1))
            .withColumn("__key__", F.col("youtube_playlist_id"))
        )
        requests = requests.unionByName(groups, allowMissingColumns=True)

    looked_up = requests.join(
        cache.select(F.col("video_id").alias("__key__"), "payload", F.lit(True).alias("__hit__")),
        "__key__",
        "left",
    ).localCheckpoint(eager=True)
    payload = F.from_json("payload", PAYLOAD_SCHEMA)
    hits = looked_up.filter(F.col("payload").isNotNull()).select(
        *[payload[c].alias(c) if c in PAYLOAD_FIELDS else F.col(c) for c in MATCH_COLUMNS],
        F.lit(None).cast("string").alias("__key__"),
    )
    misses = looked_up.filter(F.col("__hit__").isNull())
    computed = []
    for pass_no, (columns, compute) in enumerate(passes):
        pass_misses = misses.filter(F.col("pass_no") == pass_no)
        if not pass_misses.isEmpty():
            own = [*columns, *(c for c in CONTEXT if c not in columns)]
            computed.append(compute(pass_misses.select(*own)))
    miss_matches = reduce(DataFrame.unionByName, computed, empty_frame(spark, MATCH_SCHEMA))
    searched = misses.select("log_id", "pass_no", "__key__").join(
        miss_matches, ["log_id", "pass_no"], "left"
    )

    # the flush and every output read the rows: computed once, by
    # whichever of them runs first
    rows = hits.unionByName(searched).localCheckpoint(eager=False)
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
