"""Match-result cache (SURVEY §2.1 S9): the reference memoizes each
video's match in Redis as JSON so a restarted run skips already-
searched videos (spotify_elt.py:772-774,797,823,850; flushed at
:1210; reproduce.md "Just restart the flow").

Spark shape: a parquet cache table ``(video_id, payload)`` where
payload is the JSON-encoded match struct (F21: to_json/from_json with
an explicit schema — the exact idiom the reference uses for Redis
values).  A run left-joins its library rows against the cache; only
the keys that miss run the engine (NO search round-trips for hits —
preserving the reference's API-cost property), and the new cache is
the old one plus one entry per searched key.  Keyed by video_id: the
same video in two playlists is one cache entry and exactly one search
— the engine matches keys, and playlist-dependent fields (log_id,
status, membership) are recomputed at assembly, never cached.

One lookup for both passes: ``match_with_cache`` puts the video rows
and the grouped other-playlist rows in one request frame, each row
with its match context and cache key, and checkpoints that frame's
left join against the cache once, eagerly, with a hit flag.  The
hits, each pass's misses to search and the probes that skip the
engine when a pass has nothing new are filters of that checkpoint.

One decode path: every request row reads its key's JSON payload, a
hit's from the checkpoint and a miss's from the new entry its search
produced, and one ``from_json`` select decodes them all.  Nothing the
outputs read touches the cache files, so ``save_cache`` may replace
them as soon as ``match_with_cache`` returns; only the old-entry half
of the merged cache reads them, and ``save_cache`` writes it first.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.matching.engine import MATCH_COLUMNS, MATCH_SCHEMA, MatchEngine, MatchResult
from musicflow_spark.session import empty_frame
from musicflow_spark.sources.catalog import existing_table, replace_table

#: the per-key payload serialized into cache JSON — every match-row
#: column but the log_id the search ran for
PAYLOAD_FIELDS = [c for c in MATCH_COLUMNS if c != "log_id"]

PAYLOAD_SCHEMA = ", ".join(f"{c} {MATCH_COLUMNS[c]}" for c in PAYLOAD_FIELDS)

#: what a request row carries to ``assemble`` besides its payload:
#: the library row's match context, recomputed every run
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

    Cache hits never reach the CandidateSource; only missed keys run
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

    Both passes share one lookup (the module docstring).  A missed key
    is searched once, for the lowest log_id that requests it, in its
    pass's own columns plus ``log_id``; a pass with no miss never calls
    its engine entry point.  A key searched and not matched is cached
    with a null payload: the reference re-searches it on every restart
    (spotify_elt.py:772-797), a deliberate divergence that makes warm
    reruns zero-API-call."""
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
        passes.append(([*grouped_others.columns, "log_id"], engine.compute_matches_others))
        # a group's match row stands for its first log id
        groups = (
            grouped_others.withColumn("log_id", F.element_at("log_ids", 1))
            .withColumn("user_playlist_id", F.lit("LM"))
            .withColumn("pass_no", F.lit(1))
            .withColumn("__key__", F.col("youtube_playlist_id"))
        )
        requests = requests.unionByName(groups, allowMissingColumns=True)

    # min, not first: the flag must not depend on row order
    first = F.col("log_id") == F.min("log_id").over(Window.partitionBy("__key__"))
    looked_up = (
        requests.withColumn("__first__", first)
        .join(
            cache.select(F.col("video_id").alias("__key__"), "payload", F.lit(True).alias("__hit__")),
            "__key__",
            "left",
        )
        .localCheckpoint(eager=True)
    )
    misses = looked_up.filter(F.col("__hit__").isNull())
    searched = misses.filter("__first__")
    computed = []
    for pass_no, (columns, compute) in enumerate(passes):
        pass_searched = searched.filter(F.col("pass_no") == pass_no)
        if not pass_searched.isEmpty():
            computed.append(compute(pass_searched.select(*columns)))
    matches = reduce(DataFrame.unionByName, computed, empty_frame(spark, MATCH_SCHEMA))
    # the flush and every output read the new entries: computed once,
    # by whichever of them runs first
    new_entries = (
        searched.select("log_id", F.col("__key__").alias("video_id"))
        .join(matches, "log_id", "left")
        .select(
            "video_id",
            F.when(F.col("kind").isNotNull(), F.to_json(F.struct(*PAYLOAD_FIELDS))).alias("payload"),
        )
        .localCheckpoint(eager=False)
    )

    # every request row reads its key's payload: a hit's from the
    # lookup, a miss's from its key's new entry
    payloads = looked_up.filter(F.col("__hit__")).select(*CONTEXT, "payload").unionByName(
        misses.select(*CONTEXT, "__key__")
        .join(new_entries.withColumnRenamed("video_id", "__key__"), "__key__")
        .drop("__key__")
    )
    payload = F.from_json("payload", PAYLOAD_SCHEMA)
    rows = payloads.filter(F.col("payload").isNotNull()).select(
        *CONTEXT, *[payload[c].alias(c) for c in PAYLOAD_FIELDS]
    )
    result = engine.assemble(rows, liked_tracks, liked_albums)
    # a new entry's key missed the cache, so the union holds each key once
    return result, cache.unionByName(new_entries)
