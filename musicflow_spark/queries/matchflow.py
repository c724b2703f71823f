"""Driver-facing oracle queries for the marts pipeline and the match
cascade — the reference's heart, previously pytest-only.

Round-3 verdict item 2: the wide-collapse marts (A4/A6/U1 —
reference dbt/models/marts/log_found_videos.sql:77-108), the tableau
mart (W1/F15/F18 — log_for_tableau.sql:87-110), and the matcher's
strategy cascade with skip statuses (O3/J9/W2 — reference
dags/scripts/spotify_elt.py:214-246,311-336) get CORRECTNESS rows by
deriving a music-schema fixture DETERMINISTICALLY from the driver's
TPC-H-ish parquet inside both engines: the Spark side builds the
source tables with column expressions and runs the REAL production
code (plans/staging.py -> plans/intermediate.py -> plans/marts.py,
and matching/engine.py + matching/candidates.py); the DuckDB oracle
derives the identical fixture in CTEs and states the mart / cascade
semantics in ANSI SQL.  A hash match therefore certifies the actual
pipeline code paths, not a re-implementation.

Scale note: the fixture is order/part-sized (grows with SF), and the
code under test is the production path whose plan shapes are already
audited (broadcast dims, one fact shuffle, banded candidate join via
the first-token inverted index) — nothing here is fixture-only
plumbing except the deterministic value formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from musicflow_spark.config import PipelineConfig
from musicflow_spark.matching.cache import match_with_cache
from musicflow_spark.matching.candidates import CatalogCandidateSource
from musicflow_spark.matching.engine import MatchEngine
from musicflow_spark.plans.intermediate import (
    int_join_spotify_uris,
    int_useful_youtube_library,
)
from musicflow_spark.plans.marts import (
    log_for_tableau,
    log_found_videos,
    log_not_found_videos,
)
from musicflow_spark.plans.staging import stage
from musicflow_spark.queries.registry import Query
from musicflow_spark.sources.catalog import read_table


def _s(col: F.Column) -> F.Column:
    return col.cast("string")


def _mart_stage(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The 10 music-schema source tables derived deterministically
    from orders/customer/nation (exact formulas mirrored in the
    oracle CTEs below), run through the real staging layer.

    Shape choices that exercise the mart semantics: playlists map to
    nations (even nations own a spotify playlist -> current-user
    branch; odd ones don't -> other-users branch), album/playlist log
    rows share all search metadata per CUSTOMER so the other-branch
    wide GROUP BY genuinely collapses multi-video groups, track rows
    are per-order (group size 1), and every third order is absent
    from the log (not-found rows for the left joins)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    oc = orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "inner").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").alias("ck"),
        F.col("c_nationkey").cast("long").alias("nk"),
    )
    nat = nation.select(F.col("n_nationkey").cast("long").alias("nk"), "n_name")

    yp = nat.select(
        F.concat(F.lit("YP"), _s(F.col("nk"))).alias("youtube_playlist_id"),
        F.when(F.col("nk") % 3 == 0, "Playlist")
        .when(F.col("nk") % 3 == 1, "Album")
        .otherwise("EP")
        .alias("type"),
        F.concat(F.lit("list "), F.col("n_name")).alias("title"),
        F.when(F.col("nk") % 4 == 0, "your_channel")
        .when(F.col("nk") % 4 == 1, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("user_"), _s(F.col("nk"))))
        .alias("author"),
        (F.lit(2000) + F.col("nk")).cast("long").alias("year"),
    )
    yv = oc.select(
        F.concat(F.lit("V"), _s(F.col("ok"))).alias("video_id"),
        F.when(F.col("ok") % 4 == 0, "Music video")
        .when(F.col("ok") % 4 == 1, "Lyric video")
        .when(F.col("ok") % 4 == 2, "Art track")
        .otherwise("Official video")
        .alias("type"),
        F.concat(F.lit("vid "), _s(F.col("ok"))).alias("title"),
        F.concat(F.lit("chan "), _s(F.col("ck") % 30)).alias("author"),
        F.concat(F.lit("desc "), _s(F.col("ok"))).alias("description"),
        (F.lit(100000) + (F.col("ok") % 90) * 1000).cast("long").alias("duration_ms"),
    )
    yl = oc.select(
        F.col("ok").alias("id"),
        F.concat(F.lit("YP"), _s(F.col("nk"))).alias("youtube_playlist_id"),
        F.concat(F.lit("V"), _s(F.col("ok"))).alias("video_id"),
    )
    pids = nat.filter(F.col("nk") % 2 == 0).select(
        F.col("nk").alias("id"),
        F.concat(F.lit("YP"), _s(F.col("nk"))).alias("youtube_playlist_id"),
        F.concat(F.lit("SP"), _s(F.col("nk"))).alias("spotify_playlist_id"),
    )
    sp = nat.select(
        F.concat(F.lit("SP"), _s(F.col("nk"))).alias("spotify_playlist_id"),
        F.concat(F.lit("sp "), F.col("n_name")).alias("title"),
    )
    sty = spark.range(1, 8).select(
        F.col("id").alias("search_type_id"),
        F.concat(F.lit("st_"), _s(F.col("id"))).alias("search_type_name"),
    )
    sa = spark.range(0, 50).select(
        F.concat(F.lit("spotify:album:A"), _s(F.col("id"))).alias("album_uri"),
        F.concat(F.lit("album "), _s(F.col("id"))).alias("album_title"),
        F.concat(
            F.lit("artist "), _s(F.col("id") % 20), F.lit("; x "), _s(F.col("id"))
        ).alias("album_artists"),
        (F.lit(200000) + F.col("id") * 1000).cast("long").alias("duration_ms"),
        (F.col("id") % 5 + 5).cast("long").alias("total_tracks"),
    )
    spo = spark.range(0, 50).select(
        F.concat(F.lit("spotify:playlist:P"), _s(F.col("id"))).alias("playlist_uri"),
        F.concat(F.lit("plist "), _s(F.col("id"))).alias("playlist_title"),
        F.concat(F.lit("owner "), _s(F.col("id") % 10)).alias("playlist_owner"),
        (F.lit(300000) + F.col("id") * 2000).cast("long").alias("duration_ms"),
        (F.col("id") % 6 + 4).cast("long").alias("total_tracks"),
    )
    st = oc.select(
        F.concat(F.lit("spotify:track:T"), _s(F.col("ok"))).alias("track_uri"),
        F.lit(None).cast("string").alias("album_uri"),
        F.lit(None).cast("string").alias("playlist_uri"),
        F.concat(F.lit("track "), _s(F.col("ok"))).alias("track_title"),
        F.concat(F.lit("ta "), _s(F.col("ok") % 25)).alias("track_artists"),
        (F.lit(180000) + (F.col("ok") % 120) * 500).cast("long").alias("duration_ms"),
    )
    kind = F.col("ok") % 10
    meta = F.when(kind <= 2, F.col("ck")).otherwise(F.col("ok"))
    sl = oc.filter(F.col("ok") % 3 != 0).select(
        F.col("ok").alias("log_id"),
        F.when(
            kind <= 1, F.concat(F.lit("spotify:album:A"), _s(F.col("ck") % 50))
        ).alias("album_uri"),
        F.when(
            kind == 2, F.concat(F.lit("spotify:playlist:P"), _s(F.col("ck") % 50))
        ).alias("playlist_uri"),
        F.when(kind >= 3, F.concat(F.lit("spotify:track:T"), _s(F.col("ok")))).alias(
            "track_uri"
        ),
        (meta % 3 + 1).cast("long").alias("found_on_try"),
        F.when(kind <= 2, (F.col("ck") % 7) * 500)
        .otherwise((F.col("ok") % 11) * 300)
        .cast("long")
        .alias("difference_ms"),
        F.when(kind <= 2, F.col("ck") % 5).otherwise(F.lit(1)).cast("long").alias(
            "track_match"
        ),
        F.when(kind <= 2, F.col("ck") % 5 + 5)
        .otherwise(F.lit(1))
        .cast("long")
        .alias("total_tracks"),
        F.when(kind <= 2, F.concat(F.lit("q "), _s(F.col("ck") % 50)))
        .otherwise(F.concat(F.lit("q "), _s(F.col("ok"))))
        .alias("q"),
        (meta % 7 + 1).cast("long").alias("search_type_id"),
        F.when(meta % 3 == 0, "saved")
        .when(meta % 3 == 1, "skipped (saved before the run)")
        .otherwise("skipped (saved during the run)")
        .alias("status"),
    )
    return stage(
        {
            "youtube_playlists": yp,
            "youtube_videos": yv,
            "youtube_library": yl,
            "search_types": sty,
            "spotify_albums": sa,
            "spotify_playlists_others": spo,
            "spotify_tracks": st,
            "spotify_playlists": sp,
            "playlist_ids": pids,
            "spotify_log": sl,
        }
    )


#: shared oracle prelude: the fixture tables + the int_join replay
#: (reference: dbt/models/intermediate/int_join_spotify_uris.sql:5-135)
_MART_PRELUDE = """
WITH oc AS (
  SELECT o.o_orderkey AS ok, o.o_custkey AS ck, CAST(c.c_nationkey AS BIGINT) AS nk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
nat AS (SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name FROM nation),
yp AS (
  SELECT 'YP' || nk AS youtube_playlist_id,
         CASE CAST(nk % 3 AS INT) WHEN 0 THEN 'Playlist' WHEN 1 THEN 'Album' ELSE 'EP' END AS type,
         'list ' || n_name AS title,
         CASE WHEN nk % 4 = 0 THEN 'your_channel'
              WHEN nk % 4 = 1 THEN NULL
              ELSE 'user_' || nk END AS author,
         CAST(2000 + nk AS BIGINT) AS year
  FROM nat),
yv AS (
  SELECT 'V' || ok AS video_id,
         CASE CAST(ok % 4 AS INT) WHEN 0 THEN 'Music video' WHEN 1 THEN 'Lyric video'
              WHEN 2 THEN 'Art track' ELSE 'Official video' END AS type,
         'vid ' || ok AS title,
         'chan ' || (ck % 30) AS author,
         'desc ' || ok AS description,
         CAST(100000 + (ok % 90) * 1000 AS BIGINT) AS duration_ms
  FROM oc),
yl AS (SELECT ok AS id, 'YP' || nk AS youtube_playlist_id, 'V' || ok AS video_id FROM oc),
pids AS (SELECT nk AS id, 'YP' || nk AS youtube_playlist_id, 'SP' || nk AS spotify_playlist_id
         FROM nat WHERE nk % 2 = 0),
sp AS (SELECT 'SP' || nk AS spotify_playlist_id, 'sp ' || n_name AS title FROM nat),
sty AS (SELECT CAST(i AS BIGINT) AS search_type_id, 'st_' || i AS search_type_name
        FROM range(1, 8) t(i)),
sa AS (SELECT 'spotify:album:A' || k AS album_uri, 'album ' || k AS album_title,
              'artist ' || (k % 20) || '; x ' || k AS album_artists,
              CAST(200000 + k * 1000 AS BIGINT) AS duration_ms
       FROM range(0, 50) t(k)),
spo AS (SELECT 'spotify:playlist:P' || k AS playlist_uri, 'plist ' || k AS playlist_title,
               'owner ' || (k % 10) AS playlist_owner,
               CAST(300000 + k * 2000 AS BIGINT) AS duration_ms
        FROM range(0, 50) t(k)),
strk AS (SELECT 'spotify:track:T' || ok AS track_uri, 'track ' || ok AS track_title,
                'ta ' || (ok % 25) AS track_artists,
                CAST(180000 + (ok % 120) * 500 AS BIGINT) AS duration_ms
         FROM oc),
sl AS (
  SELECT ok AS log_id,
         CASE WHEN ok % 10 <= 1 THEN 'spotify:album:A' || (ck % 50) END AS album_uri,
         CASE WHEN ok % 10 = 2 THEN 'spotify:playlist:P' || (ck % 50) END AS playlist_uri,
         CASE WHEN ok % 10 >= 3 THEN 'spotify:track:T' || ok END AS track_uri,
         CAST((CASE WHEN ok % 10 <= 2 THEN ck ELSE ok END) % 3 + 1 AS BIGINT) AS found_on_try,
         CAST(CASE WHEN ok % 10 <= 2 THEN (ck % 7) * 500 ELSE (ok % 11) * 300 END AS BIGINT) AS difference_ms,
         CAST(CASE WHEN ok % 10 <= 2 THEN ck % 5 ELSE 1 END AS BIGINT) AS track_match,
         CAST(CASE WHEN ok % 10 <= 2 THEN ck % 5 + 5 ELSE 1 END AS BIGINT) AS total_tracks,
         CASE WHEN ok % 10 <= 2 THEN 'q ' || (ck % 50) ELSE 'q ' || ok END AS q,
         CAST((CASE WHEN ok % 10 <= 2 THEN ck ELSE ok END) % 7 + 1 AS BIGINT) AS search_type_id,
         CASE CAST((CASE WHEN ok % 10 <= 2 THEN ck ELSE ok END) % 3 AS INT)
              WHEN 0 THEN 'saved' WHEN 1 THEN 'skipped (saved before the run)'
              ELSE 'skipped (saved during the run)' END AS status
  FROM oc WHERE ok % 3 <> 0)
"""

_CLOCK = (
    "printf('%02d:%02d:%02d', ({ms} // 1000) // 3600,"
    " (({ms} // 1000) % 3600) // 60, ({ms} // 1000) % 60)"
)


def log_found_videos_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A6/U1 + J1-J4/F10/F16/F17/A10 end to end: the REAL
    int_join_spotify_uris -> log_found_videos code over the derived
    fixture (reference: log_found_videos.sql:77-108 wide collapse,
    sorted string_agg(DISTINCT), summed durations; current-user
    branch keeps the reference's video_title-as-youtube_author
    copy-paste bug)."""
    return log_found_videos(int_join_spotify_uris(_mart_stage(spark, sf_dir)))


#: the int_join_spotify_uris replay, shared by every oracle that
#: consumes the wide intermediate (reference:
#: dbt/models/intermediate/int_join_spotify_uris.sql:5-135)
_IJ_CTE = (
    """,
ij AS (
  SELECT sl.log_id, yl.youtube_playlist_id, pids.spotify_playlist_id,
         sp.title AS user_playlist, sl.found_on_try, sl.q,
         sl.search_type_id, sl.status, yp.title AS title,
         yv.video_id, yv.title AS video_title, yv.author AS video_author,
         yv.description, yv.duration_ms AS video_duration,
         sty.search_type_name,
         CASE WHEN sl.album_uri IS NOT NULL THEN 'Album'
              WHEN sl.playlist_uri IS NOT NULL THEN 'Playlist'
              WHEN sl.track_uri IS NOT NULL THEN 'Track' END AS spotify_type,
         coalesce(sl.album_uri, sl.playlist_uri, sl.track_uri) AS spotify_uri,
         coalesce(sa.album_title, spo.playlist_title, strk.track_title) AS spotify_title,
         coalesce(sa.album_artists, spo.playlist_owner, strk.track_artists) AS spotify_author,
         coalesce(sa.duration_ms, spo.duration_ms, strk.duration_ms) AS spotify_duration,
         sl.track_match, sl.total_tracks,
         round((CAST(sl.track_match AS DOUBLE) / sl.total_tracks) * 100 * 10.0) / 10.0 AS percentage_in_desc,
         """
    + _CLOCK.format(ms="yv.duration_ms")
    + """ AS youtube_duration_timestamp,
         """
    + _CLOCK.format(ms="coalesce(sa.duration_ms, spo.duration_ms, strk.duration_ms)")
    + """ AS spotify_duration_timestamp,
         round((sl.difference_ms / 1000.0) * 10.0) / 10.0 AS difference_sec
  FROM sl
  JOIN yl   ON sl.log_id = yl.id
  JOIN yp   ON yl.youtube_playlist_id = yp.youtube_playlist_id
  LEFT JOIN pids ON yp.youtube_playlist_id = pids.youtube_playlist_id
  JOIN yv   ON yl.video_id = yv.video_id
  LEFT JOIN sp   ON pids.spotify_playlist_id = sp.spotify_playlist_id
  JOIN sty  ON sl.search_type_id = sty.search_type_id
  LEFT JOIN sa   ON sl.album_uri = sa.album_uri
  LEFT JOIN spo  ON sl.playlist_uri = spo.playlist_uri
  LEFT JOIN strk ON sl.track_uri = strk.track_uri)
"""
)

LOG_FOUND_VIDEOS_MART_SQL = (
    _MART_PRELUDE
    + _IJ_CTE
    + """
SELECT video_id, spotify_playlist_id, user_playlist, youtube_playlist_id,
       spotify_uri, spotify_type AS found, video_title AS youtube_title,
       spotify_title, video_title AS youtube_author, spotify_author,
       description, q, search_type_name AS found_by, found_on_try, status,
       track_match, total_tracks, percentage_in_desc,
       youtube_duration_timestamp, spotify_duration_timestamp, difference_sec
FROM ij WHERE spotify_playlist_id IS NOT NULL
UNION ALL
SELECT CAST(NULL AS VARCHAR) AS video_id, spotify_playlist_id, user_playlist,
       youtube_playlist_id, spotify_uri, spotify_type AS found,
       title AS youtube_title, spotify_title,
       array_to_string(list_sort(list_distinct(list(video_author))), '; ') AS youtube_author,
       spotify_author, CAST(NULL AS VARCHAR) AS description, q,
       search_type_name AS found_by, found_on_try, status, track_match,
       total_tracks, percentage_in_desc,
       printf('%02d:%02d:%02d',
              (CAST(sum(video_duration) AS BIGINT) // 1000) // 3600,
              ((CAST(sum(video_duration) AS BIGINT) // 1000) % 3600) // 60,
              (CAST(sum(video_duration) AS BIGINT) // 1000) % 60) AS youtube_duration_timestamp,
       spotify_duration_timestamp, difference_sec
FROM ij WHERE spotify_playlist_id IS NULL
GROUP BY youtube_playlist_id, spotify_playlist_id, user_playlist, spotify_uri,
         spotify_type, title, spotify_title, spotify_author, q,
         search_type_name, found_on_try, status, track_match, total_tracks,
         percentage_in_desc, spotify_duration_timestamp, difference_sec
"""
)


def log_for_tableau_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/F15/F18 + P2/U1 end to end: the REAL log_for_tableau over
    the derived fixture (reference: log_for_tableau.sql:87-110 —
    ownership routing, other-users DISTINCT, union, global surrogate
    row_number over its full tiebreak chain, log-scale zero fix)."""
    stg = _mart_stage(spark, sf_dir)
    cfg = PipelineConfig(threshold_ms=150_000, your_channel_name="your_channel")
    return log_for_tableau(int_useful_youtube_library(stg, cfg), stg, cfg)


LOG_FOR_TABLEAU_MART_SQL = (
    _MART_PRELUDE
    + """,
base AS (
  SELECT yl.id, yp.youtube_playlist_id, yp.author AS yp_author, yp.type AS yp_type,
         yv.video_id, yv.type AS music_type, yv.duration_ms AS video_duration,
         sl.log_id, sl.album_uri, sl.playlist_uri, sl.track_uri,
         sl.found_on_try, sl.search_type_id, sl.difference_ms,
         sl.track_match, sl.total_tracks
  FROM yl
  JOIN yp ON yl.youtube_playlist_id = yp.youtube_playlist_id
  JOIN yv ON yl.video_id = yv.video_id
  LEFT JOIN sl ON yl.id = sl.log_id),
cur AS (
  SELECT log_id, video_id,
         CASE WHEN video_duration < 150000 THEN 'Track'
              WHEN video_duration >= 150000 THEN 'Album/Playlist' END AS youtube_type,
         music_type,
         CASE WHEN album_uri IS NOT NULL THEN 'Album'
              WHEN playlist_uri IS NOT NULL THEN 'Playlist'
              WHEN track_uri IS NOT NULL THEN 'Track' END AS spotify_type,
         found_on_try, search_type_id, difference_ms,
         track_match, total_tracks
  FROM base WHERE yp_author = 'your_channel' OR yp_author IS NULL),
oth0 AS (
  SELECT DISTINCT youtube_playlist_id, yp_type AS youtube_type,
         album_uri, playlist_uri, track_uri, found_on_try, search_type_id,
         difference_ms, track_match, total_tracks
  FROM base WHERE yp_author <> 'your_channel' AND yp_author IS NOT NULL),
oth AS (
  SELECT CAST(NULL AS BIGINT) AS log_id, CAST(NULL AS VARCHAR) AS video_id,
         youtube_type, CAST(NULL AS VARCHAR) AS music_type,
         CASE WHEN album_uri IS NOT NULL THEN 'Album'
              WHEN playlist_uri IS NOT NULL THEN 'Playlist'
              WHEN track_uri IS NOT NULL THEN 'Track' END AS spotify_type,
         found_on_try, search_type_id, difference_ms, track_match, total_tracks
  FROM oth0),
unioned AS (SELECT * FROM cur UNION ALL SELECT * FROM oth),
derived AS (
  SELECT *,
         round((difference_ms / 1000.0) * 10.0) / 10.0 AS difference_sec,
         round((difference_ms / 60000.0) * 100.0) / 100.0 AS difference_m,
         """
    + _CLOCK.format(ms="difference_ms")
    + """ AS difference_timestamp,
         round((CAST(track_match AS DOUBLE) / total_tracks) * 100 * 10.0) / 10.0 AS percentage_in_desc
  FROM unioned)
SELECT row_number() OVER (ORDER BY search_type_id ASC NULLS LAST,
                          log_id ASC NULLS LAST, video_id ASC NULLS LAST,
                          youtube_type ASC NULLS LAST, music_type ASC NULLS LAST,
                          spotify_type ASC NULLS LAST, found_on_try ASC NULLS LAST,
                          difference_ms ASC NULLS LAST, track_match ASC NULLS LAST,
                          total_tracks ASC NULLS LAST) AS id,
       log_id, video_id, youtube_type, music_type, spotify_type, found_on_try,
       search_type_id, difference_ms,
       CASE WHEN difference_sec = 0 THEN 0.1 ELSE difference_sec END AS difference_sec,
       difference_m, difference_timestamp, track_match, total_tracks,
       percentage_in_desc
FROM derived
"""
)


def log_not_found_videos_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/P7 end to end: the REAL int_useful_youtube_library
    (library triple join + duration-threshold routing, reference
    int_useful_youtube_library.sql:5-31) -> log_not_found_videos
    left-anti mart (reference log_not_found_videos.sql:10-13 does
    left join + where null; Spark has the operator natively).  Every
    third order is absent from the fixture log, so the anti join has
    real misses."""
    stg = _mart_stage(spark, sf_dir)
    cfg = PipelineConfig(threshold_ms=150_000, your_channel_name="your_channel")
    return log_not_found_videos(
        int_useful_youtube_library(stg, cfg), stg["spotify_log"]
    )


LOG_NOT_FOUND_VIDEOS_MART_SQL = (
    _MART_PRELUDE
    + """
SELECT yl.id, yp.youtube_playlist_id,
       yp.title AS playlist_name, yp.author AS playlist_author,
       yv.video_id, yv.type, yv.title, yv.author, yv.description,
       yv.duration_ms,
       CASE WHEN yv.duration_ms < 150000 THEN 'Track'
            WHEN yv.duration_ms >= 150000 THEN 'Album/Playlist' END AS estimated_type
FROM yl
JOIN yp ON yl.youtube_playlist_id = yp.youtube_playlist_id
JOIN yv ON yl.video_id = yv.video_id
WHERE NOT EXISTS (SELECT 1 FROM sl WHERE sl.log_id = yl.id)
"""
)


# ------------------------------------------------------- match cascade
def _cascade_fixture(spark: SparkSession, sf_dir: str):
    """Videos + deterministic track catalog derived from ``part``.

    Design (formulas mirrored in the oracle):
    - every part is a video; each odd key reuses its even partner's
      base title, so duplicate matches exist (during-run statuses);
      pk % 4 == 1 rows get a ' (live)' bracket suffix the fix_title
      chain strips (exercising the raw-title strategies 4/5);
    - the catalog holds one track per even part; pk % 10 == 0 rows
      are 'xtr'-titled with alien artists (duration-only accept
      path, some rejected at |delta| 6000 > 5000); pk % 15 == 0 rows
      add a zero-duration artist-matched decoy that outranks the
      real item ONLY when the query carries an artist term, pushing
      the win to strategy priority 1 (found_on_try == 2 — the O3
      cascade actually cascading);
    - 'p<k>' selectivity token leads every title so the first-token
      inverted index stays ~uniform at any SF;
    - every 12th catalog track is pre-liked (J9 'saved before');
      playlist_map routes two playlists to user playlists, the rest
      to LM.
    """
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), "p_name"
    )
    even = part.filter(F.col("pk") % 2 == 0).select(
        F.col("pk").alias("pk2"),
        F.concat(
            F.lit("p"), _s(F.col("pk") % 250), F.lit(" "), F.col("p_name")
        ).alias("base"),
    )
    videos = (
        part.withColumn("pk2", F.col("pk") - F.col("pk") % 2)
        .join(even, "pk2")
        .select(
            F.col("pk").alias("log_id"),
            F.concat(F.lit("YP"), _s(F.col("pk") % 5)).alias("youtube_playlist_id"),
            F.concat(F.lit("V"), _s(F.col("pk"))).alias("video_id"),
            F.when(
                F.col("pk") % 4 == 1, F.concat(F.col("base"), F.lit(" (live)"))
            )
            .otherwise(F.col("base"))
            .alias("title"),
            F.concat(
                F.lit("ch"),
                _s(F.col("pk2") % 40),
                F.when(F.col("pk") % 3 == 0, " - Topic").otherwise(""),
            ).alias("author"),
            F.lit("").alias("description"),
            (F.lit(120000) + (F.col("pk") % 23) * 1000).cast("long").alias("duration_ms"),
        )
    )
    primary = even.select(
        F.concat(F.lit("spotify:track:"), _s(F.col("pk2"))).alias("track_uri"),
        F.concat(F.lit("spotify:album:"), _s(F.col("pk2") % 97)).alias("album_uri"),
        F.when(F.col("pk2") % 15 == 0, F.col("base"))
        .when(F.col("pk2") % 10 == 0, F.concat(F.col("base"), F.lit(" xtr")))
        .otherwise(F.col("base"))
        .alias("track_title"),
        F.when(F.col("pk2") % 15 == 0, "zz")
        .when(F.col("pk2") % 10 == 0, "zz")
        .otherwise(F.concat(F.lit("ch"), _s(F.col("pk2") % 40)))
        .alias("track_artists"),
        (
            F.lit(120000)
            + (F.col("pk2") % 23) * 1000
            + F.when(F.col("pk2") % 15 == 0, 0).otherwise(
                (F.col("pk2") % 7) * 2000 - 6000
            )
        )
        .cast("long")
        .alias("duration_ms"),
    )
    decoys = even.filter(F.col("pk2") % 15 == 0).select(
        F.concat(F.lit("spotify:track:z"), _s(F.col("pk2"))).alias("track_uri"),
        F.concat(F.lit("spotify:album:"), _s(F.col("pk2") % 97)).alias("album_uri"),
        F.col("base").alias("track_title"),
        F.concat(F.lit("ch"), _s(F.col("pk2") % 40)).alias("track_artists"),
        F.lit(0).cast("long").alias("duration_ms"),
    )
    catalog = primary.unionByName(decoys)
    liked = even.filter(F.col("pk2") % 12 == 0).select(
        F.concat(F.lit("spotify:track:"), _s(F.col("pk2"))).alias("uri")
    )
    playlist_map = spark.createDataFrame(
        [("YP0", "UP0"), ("YP1", "UP1")],
        "youtube_playlist_id string, user_playlist_id string",
    )
    return videos, catalog, liked, playlist_map


def match_cascade_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/J9/W2 + F1-F4/J8 end to end through the REAL engine: the
    6-strategy track cascade (reference find_track
    spotify_elt.py:214-246), CatalogCandidateSource's deterministic
    inverted-index search + ranking, the qsearch_track accept
    predicate (:262-309), first-hit-wins with found_on_try (:255-257
    step_num), and the collect_track skip statuses (:311-336) —
    returning the engine's spotify_log frame.  The oracle replays
    every stage (query grammar, token probe, score/artist-hit
    ranking, accept theta, cascade fold, status windows) in ANSI SQL
    over the identical derived fixture."""
    videos, catalog, liked, playlist_map = _cascade_fixture(spark, sf_dir)
    cfg = PipelineConfig(threshold_ms=None)
    engine = MatchEngine(cfg, CatalogCandidateSource(catalog))
    result, _ = match_with_cache(engine, videos, playlist_map, liked_tracks=liked)
    return result.log


MATCH_CASCADE_CATALOG_SQL = r"""
WITH even AS (
  SELECT p_partkey AS pk2,
         'p' || (p_partkey % 250) || ' ' || p_name AS base
  FROM part WHERE p_partkey % 2 = 0),
videos AS (
  SELECT p.p_partkey AS log_id,
         'YP' || (p.p_partkey % 5) AS youtube_playlist_id,
         CASE WHEN p.p_partkey % 4 = 1 THEN e.base || ' (live)' ELSE e.base END AS title,
         CASE WHEN p.p_partkey % 4 = 1 THEN e.base || ' ' ELSE e.base END AS fixed_title,
         'ch' || (e.pk2 % 40) ||
           CASE WHEN p.p_partkey % 3 = 0 THEN ' - Topic' ELSE '' END AS author,
         'ch' || (e.pk2 % 40) AS artist,
         CAST(120000 + (p.p_partkey % 23) * 1000 AS BIGINT) AS duration_ms,
         CASE WHEN p.p_partkey % 5 = 0 THEN 'UP0'
              WHEN p.p_partkey % 5 = 1 THEN 'UP1'
              ELSE 'LM' END AS user_playlist_id
  FROM part p JOIN even e ON p.p_partkey - (p.p_partkey % 2) = e.pk2),
catalog AS (
  SELECT 'spotify:track:' || pk2 AS track_uri,
         'spotify:album:' || (pk2 % 97) AS album_uri,
         CASE WHEN pk2 % 15 = 0 THEN base
              WHEN pk2 % 10 = 0 THEN base || ' xtr'
              ELSE base END AS track_title,
         CASE WHEN pk2 % 15 = 0 THEN 'zz'
              WHEN pk2 % 10 = 0 THEN 'zz'
              ELSE 'ch' || (pk2 % 40) END AS track_artists,
         CAST(120000 + (pk2 % 23) * 1000 +
              CASE WHEN pk2 % 15 = 0 THEN 0 ELSE (pk2 % 7) * 2000 - 6000 END
              AS BIGINT) AS duration_ms
  FROM even
  UNION ALL
  SELECT 'spotify:track:z' || pk2, 'spotify:album:' || (pk2 % 97), base,
         'ch' || (pk2 % 40), CAST(0 AS BIGINT)
  FROM even WHERE pk2 % 15 = 0),
liked AS (SELECT 'spotify:track:' || pk2 AS uri FROM even WHERE pk2 % 12 = 0),
-- strategy fan-out (find_track's 6 ordered query shapes; raw-title
-- strategies only when the fixed title differs)
strat AS (
  SELECT v.*, s.priority, CAST(s.search_type_id AS BIGINT) AS search_type_id,
         CASE s.priority
           WHEN 0 THEN 'track:' || v.fixed_title || ' artist:' || v.artist
           WHEN 1 THEN v.fixed_title
           WHEN 2 THEN 'track "' || v.fixed_title || '"'
           WHEN 3 THEN v.artist || ' ' || v.fixed_title
           WHEN 4 THEN 'track "' || v.title || '"'
           WHEN 5 THEN v.title END AS q,
         v.log_id * 6 + s.priority AS qid
  FROM videos v
  CROSS JOIN (VALUES (0, 0), (1, 2), (2, 4), (3, 6), (4, 5), (5, 3))
             s(priority, search_type_id)
  WHERE s.priority <= 3 OR v.fixed_title <> v.title),
-- the search grammar (_parse_q) + first-token probe
qparsed AS (
  SELECT *,
         lower(trim(CASE
           WHEN q LIKE 'track "%' THEN regexp_extract(q, '^track "(.*)"$', 1)
           WHEN q LIKE 'track:%' THEN regexp_extract(q, '^track:(.*?)( artist:.*)?$', 1)
           ELSE q END)) AS qtitle,
         lower(coalesce(CASE WHEN contains(q, ' artist:')
                             THEN regexp_extract(q, ' artist:(.*)$', 1) END, '')) AS qartist
  FROM strat),
qtok AS (
  SELECT *, list_filter(string_split_regex(qtitle, '\s+'), x -> x <> '')[1] AS tok
  FROM qparsed),
itok AS (
  SELECT c.*, u.tok
  FROM catalog c,
       UNNEST(list_distinct(list_filter(
         string_split_regex(lower(trim(c.track_title)), '\s+'), x -> x <> ''))) u(tok)),
scored0 AS (
  SELECT q.qid, q.qtitle, q.qartist, i.track_uri, i.album_uri, i.track_title,
         i.track_artists, i.duration_ms AS item_duration_ms,
         CASE WHEN lower(i.track_title) = q.qtitle THEN 3
              WHEN contains(q.qtitle, lower(i.track_title)) THEN 2
              WHEN contains(lower(i.track_title), q.qtitle) THEN 1
              ELSE 0 END AS score
  FROM qtok q JOIN itok i ON q.tok = i.tok
  WHERE q.tok IS NOT NULL),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY score DESC,
             (CASE WHEN qartist <> '' AND len(list_filter(
                     string_split(track_artists, '; '),
                     a -> contains(qartist, lower(a)))) > 0
                   THEN 1 ELSE 0 END) DESC,
             track_uri ASC) AS result_rank
  FROM scored0 WHERE score > 0),
-- rank-1 per search, scored with the qsearch_track accept predicate
joined AS (
  SELECT s.log_id, s.user_playlist_id, s.priority, s.search_type_id, s.q,
         s.title, s.author, s.duration_ms AS video_duration_ms,
         r.track_uri, r.track_artists, r.track_title, r.item_duration_ms,
         abs(r.item_duration_ms - s.duration_ms) AS difference_ms,
         (r.item_duration_ms IS NOT NULL AND r.item_duration_ms <> 0)
           AND ((contains(lower(s.title), lower(r.track_title))
                 AND (regexp_matches(s.title, '\bOST\b')
                      OR len(list_filter(string_split(r.track_artists, '; '),
                             a -> contains(lower(s.title), lower(a)))) > 0
                      OR len(list_filter(string_split(r.track_artists, '; '),
                             a -> contains(lower(s.author), lower(a)))) > 0))
                OR abs(r.item_duration_ms - s.duration_ms) <= 5000) AS accepted
  FROM strat s JOIN ranked r ON s.qid = r.qid AND r.result_rank = 1),
-- first-hit-wins cascade fold + step_num (found_on_try)
folded AS (
  SELECT *,
         row_number() OVER (PARTITION BY log_id
                            ORDER BY (CASE WHEN accepted THEN 0 ELSE 1 END), priority) AS rn,
         CAST(count(*) OVER (PARTITION BY log_id ORDER BY priority
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS found_on_try
  FROM joined),
winners AS (SELECT * FROM folded WHERE rn = 1 AND accepted),
-- J9 statuses: liked-set probe, then during-run membership window
with_status AS (
  SELECT w.*,
         (l.uri IS NOT NULL) AS is_liked,
         row_number() OVER (PARTITION BY w.track_uri, w.user_playlist_id
                            ORDER BY w.log_id) AS occ
  FROM winners w LEFT JOIN liked l ON w.track_uri = l.uri)
SELECT log_id,
       CAST(NULL AS VARCHAR) AS album_uri,
       CAST(NULL AS VARCHAR) AS playlist_uri,
       track_uri, found_on_try, difference_ms,
       CAST(1 AS BIGINT) AS track_match, CAST(1 AS BIGINT) AS total_tracks,
       q, search_type_id,
       CASE WHEN is_liked AND user_playlist_id = 'LM'
              THEN 'skipped (saved before the run)'
            WHEN occ > 1 THEN 'skipped (saved during the run)'
            ELSE 'saved' END AS status
FROM with_status
"""


def _collection_fixture(spark: SparkSession, sf_dir: str):
    """Videos + album/playlist catalog (with child tracks) derived
    from ``part`` for the COLLECTION branch of the cascade — the
    album/playlist counterpart of ``_cascade_fixture``.

    Design (formulas mirrored in the oracle):
    - every part is a video sized near its partner album's child sum
      (delta swept over [-40000, 40000] so the <40s duration rule
      accepts, rejects at the closed edge, and routes some videos
      below the 150000 threshold into the track branch, which finds
      nothing — the catalog's track titles never share the 'p<k>'
      first token);
    - each even part is an album with 5 child tracks; descriptions
      embed the first (pk % 7) child titles so the 60%-overlap rule
      (total_tracks >= 4) fires at pk % 7 >= 3;
    - albums at pk2 % 8 == 0 share the video's case-sensitive
      author, exercising the album-only title/artist accept clause;
    - every 5th even part is ALSO a playlist (distinct children,
      child sum ~25000 ABOVE the album's: the only album-miss family
      surviving the threshold sits at delta = +40000, so the playlist
      lands 15000 away and its <40s rule accepts) — the
      find_album -> find_other_playlist fallback;
    - every 12th album is pre-liked ('saved before'); odd/even
      partners share winners ('saved during')."""
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), "p_name"
    )
    even = part.filter(F.col("pk") % 2 == 0).select(
        F.col("pk").alias("pk2"),
        F.concat(
            F.lit("p"), _s(F.col("pk") % 250), F.lit(" "), F.col("p_name")
        ).alias("base"),
    )
    c = F.explode(F.sequence(F.lit(0), F.lit(4))).alias("c")
    alb_children = even.select("pk2", "base", c).select(
        F.concat(F.lit("spotify:track:"), _s(F.col("pk2")), F.lit("c"), _s(F.col("c"))).alias(
            "track_uri"
        ),
        F.concat(F.lit("spotify:album:"), _s(F.col("pk2"))).alias("album_uri"),
        F.lit(None).cast("string").alias("playlist_uri"),
        F.concat(F.lit("song "), _s(F.col("pk2")), F.lit(" "), _s(F.col("c"))).alias(
            "track_title"
        ),
        F.concat(F.lit("ch"), _s(F.col("pk2") % 40)).alias("track_artists"),
        (F.lit(30000) + ((F.col("pk2") + F.col("c")) % 7) * 1000)
        .cast("long")
        .alias("duration_ms"),
    )
    pl_children = (
        even.filter(F.col("pk2") % 5 == 0)
        .select("pk2", "base", c)
        .filter(F.col("c") < 4)
        .select(
            F.concat(
                F.lit("spotify:track:p"), _s(F.col("pk2")), F.lit("c"), _s(F.col("c"))
            ).alias("track_uri"),
            F.lit(None).cast("string").alias("album_uri"),
            F.concat(F.lit("spotify:playlist:"), _s(F.col("pk2"))).alias("playlist_uri"),
            F.concat(F.lit("ptrack "), _s(F.col("pk2")), F.lit(" "), _s(F.col("c"))).alias(
                "track_title"
            ),
            F.concat(F.lit("ch"), _s(F.col("pk2") % 40)).alias("track_artists"),
            # album child sum plus 25000, spread over 4 children
            (
                (
                    F.lit(150000)
                    + F.expr(
                        "aggregate(sequence(0,4), 0L, (a, x) -> a + (pk2 + x) % 7 * 1000)"
                    )
                    + F.lit(25000)
                )
                / 4
            )
            .cast("long")
            .alias("duration_ms"),
        )
    )
    tracks = alb_children.unionByName(pl_children)
    albums = even.select(
        F.concat(F.lit("spotify:album:"), _s(F.col("pk2"))).alias("album_uri"),
        F.col("base").alias("album_title"),
        F.when(
            F.col("pk2") % 8 == 0, F.concat(F.lit("ch"), _s(F.col("pk2") % 40))
        )
        .otherwise(F.concat(F.lit("AC"), _s(F.col("pk2") % 40)))
        .alias("album_artists"),
        F.lit(0).cast("long").alias("duration_ms"),  # scoring uses child sum
        F.lit(5).cast("long").alias("total_tracks"),
    )
    playlists = even.filter(F.col("pk2") % 5 == 0).select(
        F.concat(F.lit("spotify:playlist:"), _s(F.col("pk2"))).alias("playlist_uri"),
        F.col("base").alias("playlist_title"),
        F.concat(F.lit("own"), _s(F.col("pk2") % 9)).alias("playlist_owner"),
        F.lit(0).cast("long").alias("duration_ms"),
        F.lit(4).cast("long").alias("total_tracks"),
    )
    alb_sum = F.expr("aggregate(sequence(0,4), 0L, (a, x) -> a + (pk2 + x) % 7 * 1000)") + F.lit(
        150000
    )
    desc_n = F.col("pk") % 7  # first n child titles into the description
    videos = (
        part.withColumn("pk2", F.col("pk") - F.col("pk") % 2)
        .join(even, "pk2")
        .select(
            F.col("pk").alias("log_id"),
            F.concat(F.lit("YP"), _s(F.col("pk") % 5)).alias("youtube_playlist_id"),
            F.concat(F.lit("V"), _s(F.col("pk"))).alias("video_id"),
            F.when(F.col("pk") % 4 == 1, F.concat(F.col("base"), F.lit(" (live)")))
            .otherwise(F.col("base"))
            .alias("title"),
            F.concat(
                F.lit("ch"),
                _s(F.col("pk2") % 40),
                F.when(F.col("pk") % 3 == 0, " - Topic").otherwise(""),
            ).alias("author"),
            # sequence(0, -1) DESCENDS in Spark, so the n == 0 case
            # must produce the empty description explicitly
            F.when(desc_n == 0, F.lit(""))
            .otherwise(
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), desc_n - 1),
                        lambda i: F.concat(
                            F.lit("song "), _s(F.col("pk2")), F.lit(" "), _s(i)
                        ),
                    ),
                    "; ",
                )
            )
            .alias("description"),
            (alb_sum + (F.col("pk") % 9) * 10000 - F.lit(40000)).cast("long").alias(
                "duration_ms"
            ),
        )
    )
    liked_albums = even.filter(F.col("pk2") % 12 == 0).select(
        F.concat(F.lit("spotify:album:"), _s(F.col("pk2"))).alias("uri")
    )
    playlist_map = spark.createDataFrame(
        [("YP0", "UP0"), ("YP1", "UP1")],
        "youtube_playlist_id string, user_playlist_id string",
    )
    return videos, tracks, albums, playlists, liked_albums, playlist_map


def collection_cascade_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COLLECTION branch of the match engine end to end: P7
    threshold routing, the find_album 2-strategy cascade
    (spotify_elt.py:372-394), child-track fan-in scoring — duration
    delta vs the children SUM, title-in-description overlap counting,
    the <40s / >=60%-of->=4-tracks / case-SENSITIVE title+artist
    accept rules (qsearch_album :399-516) — the find_other_playlist
    fallback for album misses (:565-690, playlists drop the
    title/artist clause), and J9 statuses over both kinds.  The
    oracle replays routing, search ranking, child aggregation,
    accept logic, the miss-driven playlist fallback, and the status
    windows in ANSI SQL.  Videos routed below the threshold hit the
    track pass, whose catalog shares no first token — zero rows, as
    the oracle's WHERE states."""
    videos, tracks, albums, playlists, liked_albums, playlist_map = _collection_fixture(
        spark, sf_dir
    )
    cfg = PipelineConfig(threshold_ms=150_000)
    engine = MatchEngine(cfg, CatalogCandidateSource(tracks, albums, playlists))
    result, _ = match_with_cache(engine, videos, playlist_map, liked_albums=liked_albums)
    return result.log


MATCH_COLLECTION_CASCADE_SQL = r"""
WITH even AS (
  SELECT p_partkey AS pk2,
         'p' || (p_partkey % 250) || ' ' || p_name AS base,
         CAST(150000 + ((p_partkey + 0) % 7 + (p_partkey + 1) % 7 + (p_partkey + 2) % 7
              + (p_partkey + 3) % 7 + (p_partkey + 4) % 7) * 1000 AS BIGINT) AS alb_sum
  FROM part WHERE p_partkey % 2 = 0),
videos AS (
  SELECT p.p_partkey AS pk, e.pk2, e.base, e.alb_sum,
         p.p_partkey AS log_id,
         CASE WHEN p.p_partkey % 4 = 1 THEN e.base || ' (live)' ELSE e.base END AS title,
         CASE WHEN p.p_partkey % 4 = 1 THEN e.base || ' ' ELSE e.base END AS fixed_title,
         'ch' || (e.pk2 % 40) ||
           CASE WHEN p.p_partkey % 3 = 0 THEN ' - Topic' ELSE '' END AS author,
         CASE WHEN p.p_partkey % 7 = 0 THEN ''
              ELSE array_to_string(list_transform(range(0, CAST(p.p_partkey % 7 AS INT)),
                                   i -> 'song ' || e.pk2 || ' ' || i), '; ') END AS description,
         e.alb_sum + (p.p_partkey % 9) * 10000 - 40000 AS duration_ms,
         CASE WHEN p.p_partkey % 5 = 0 THEN 'UP0'
              WHEN p.p_partkey % 5 = 1 THEN 'UP1'
              ELSE 'LM' END AS user_playlist_id
  FROM part p JOIN even e ON p.p_partkey - (p.p_partkey % 2) = e.pk2
  -- threshold routing: below 150000 the video takes the TRACK branch,
  -- where the catalog's song/ptrack titles never contain the query's
  -- 'p<k>' first token -> zero candidates, zero log rows
  WHERE e.alb_sum + (p.p_partkey % 9) * 10000 - 40000 >= 150000),
albums AS (
  SELECT pk2, 'spotify:album:' || pk2 AS item_uri, base AS item_title,
         CASE WHEN pk2 % 8 = 0 THEN 'ch' || (pk2 % 40)
              ELSE 'AC' || (pk2 % 40) END AS artist1,
         alb_sum AS child_sum, 5 AS n_children
  FROM even),
playlists AS (
  SELECT pk2, 'spotify:playlist:' || pk2 AS item_uri, base AS item_title,
         'own' || (pk2 % 9) AS artist1,
         alb_sum + 25000 AS raw_sum
  FROM even WHERE pk2 % 5 = 0),
-- playlist child durations are integer-divided across 4 children, so
-- the effective sum is 4 * ((alb_sum - 15000) / 4) (floor division)
pl AS (SELECT pk2, item_uri, item_title, artist1,
              CAST(4 * ((raw_sum) // 4) AS BIGINT) AS child_sum, 4 AS n_children
       FROM playlists),
strat AS (
  SELECT v.*, s.priority, CAST(s.search_type_id AS BIGINT) AS search_type_id,
         CASE s.priority WHEN 0 THEN v.fixed_title ELSE v.title END AS q,
         v.log_id * 2 + s.priority AS qid
  FROM videos v
  CROSS JOIN (VALUES (0, 2), (1, 3)) s(priority, search_type_id)
  WHERE s.priority = 0 OR v.fixed_title <> v.title),
qtok AS (
  SELECT *, lower(trim(q)) AS qtitle,
         list_filter(string_split_regex(lower(trim(q)), '\s+'), x -> x <> '')[1] AS tok
  FROM strat),
-- ranking over a catalog: score on lowered titles, no artist term in
-- either collection strategy, ties by uri
rank1 AS (
  SELECT qid, kind, item_uri, item_title, artist1, child_sum, n_children, pk2 AS cat_pk2
  FROM (
    SELECT q.qid, i.kind, i.item_uri, i.item_title, i.artist1, i.child_sum,
           i.n_children, i.pk2,
           row_number() OVER (
             PARTITION BY q.qid, i.kind
             ORDER BY (CASE WHEN lower(i.item_title) = q.qtitle THEN 3
                            WHEN contains(q.qtitle, lower(i.item_title)) THEN 2
                            WHEN contains(lower(i.item_title), q.qtitle) THEN 1
                            ELSE 0 END) DESC,
                      i.item_uri ASC) AS rn,
           CASE WHEN lower(i.item_title) = q.qtitle THEN 3
                WHEN contains(q.qtitle, lower(i.item_title)) THEN 2
                WHEN contains(lower(i.item_title), q.qtitle) THEN 1
                ELSE 0 END AS score
    FROM qtok q
    JOIN (SELECT pk2, item_uri, item_title, artist1, child_sum, n_children,
                 'album' AS kind FROM albums
          UNION ALL
          SELECT pk2, item_uri, item_title, artist1, child_sum, n_children,
                 'playlist' AS kind FROM pl) i
      ON q.tok IS NOT NULL
     AND list_contains(list_distinct(list_filter(
           string_split_regex(lower(trim(i.item_title)), '\s+'), x -> x <> '')), q.tok)
  ) WHERE rn = 1 AND score > 0),
-- album scoring: children sum/overlap + the three accept rules
alb_scored AS (
  SELECT s.log_id, s.user_playlist_id, s.priority, s.search_type_id, s.q,
         r.item_uri, r.item_title, r.child_sum,
         abs(r.child_sum - s.duration_ms) AS difference_ms,
         -- overlap: album children are 'song <cat_pk2> <c>', the
         -- description holds the first (pk % 7) titles of the VIDEO's
         -- partner album -> count children contained in description
         CAST((SELECT count(*) FROM range(0, 5) t(cc)
               WHERE contains(lower(s.description),
                              'song ' || r.cat_pk2 || ' ' || cc)) AS BIGINT) AS track_match,
         CAST(5 AS BIGINT) AS total_tracks,
         ((s.title LIKE '%' || r.item_title || '%') AND (s.author LIKE '%' || r.artist1 || '%'))
           OR abs(r.child_sum - s.duration_ms) < 40000
           OR (SELECT count(*) FROM range(0, 5) t(cc)
               WHERE contains(lower(s.description),
                              'song ' || r.cat_pk2 || ' ' || cc)) * 100 >= 60 * 5
           AS accepted
  FROM strat s JOIN rank1 r ON s.qid = r.qid AND r.kind = 'album'),
alb_folded AS (
  SELECT *, row_number() OVER (PARTITION BY log_id
             ORDER BY (CASE WHEN accepted THEN 0 ELSE 1 END), priority) AS rn,
         CAST(count(*) OVER (PARTITION BY log_id ORDER BY priority
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS found_on_try
  FROM alb_scored),
alb_win AS (SELECT *, 'album' AS kind FROM alb_folded WHERE rn = 1 AND accepted),
-- playlist pass only for videos the album pass missed
pl_scored AS (
  SELECT s.log_id, s.user_playlist_id, s.priority, s.search_type_id, s.q,
         r.item_uri, r.item_title, r.child_sum,
         abs(r.child_sum - s.duration_ms) AS difference_ms,
         -- ptrack titles never appear in descriptions -> overlap 0
         CAST(0 AS BIGINT) AS track_match,
         CAST(4 AS BIGINT) AS total_tracks,
         abs(r.child_sum - s.duration_ms) < 40000 AS accepted
  FROM strat s JOIN rank1 r ON s.qid = r.qid AND r.kind = 'playlist'
  WHERE NOT EXISTS (SELECT 1 FROM alb_win w WHERE w.log_id = s.log_id)),
pl_folded AS (
  SELECT *, row_number() OVER (PARTITION BY log_id
             ORDER BY (CASE WHEN accepted THEN 0 ELSE 1 END), priority) AS rn,
         CAST(count(*) OVER (PARTITION BY log_id ORDER BY priority
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS found_on_try
  FROM pl_scored),
pl_win AS (SELECT *, 'playlist' AS kind FROM pl_folded WHERE rn = 1 AND accepted),
winners AS (SELECT * FROM alb_win UNION ALL SELECT * FROM pl_win),
liked AS (SELECT 'spotify:album:' || pk2 AS uri FROM even WHERE pk2 % 12 = 0),
with_status AS (
  SELECT w.*, (l.uri IS NOT NULL AND w.kind = 'album') AS is_liked,
         row_number() OVER (PARTITION BY w.item_uri, w.user_playlist_id
                            ORDER BY w.log_id) AS occ
  FROM winners w LEFT JOIN liked l ON w.item_uri = l.uri)
SELECT log_id,
       CASE WHEN kind = 'album' THEN item_uri END AS album_uri,
       CASE WHEN kind = 'playlist' THEN item_uri END AS playlist_uri,
       CAST(NULL AS VARCHAR) AS track_uri,
       found_on_try, difference_ms, track_match, total_tracks, q,
       search_type_id,
       CASE WHEN is_liked AND user_playlist_id = 'LM'
              THEN 'skipped (saved before the run)'
            WHEN occ > 1 THEN 'skipped (saved during the run)'
            ELSE 'saved' END AS status
FROM with_status
"""


def others_cascade_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND match pass end to end — other users' playlists
    matched as whole collections (reference prepare_playlists_others,
    spotify_elt.py:859-923, driven at :1141-1143): group-grain
    matching with the OTHERS strategy set (fixed, raw-if-different,
    and the '{author} {fixed}' search_type-6 extension — whose
    author-led first token finds nothing in this catalog, exercising
    the returned-no-result leg), GROUPED scoring (children counted
    against the group's video-title ARRAY, total_tracks = the
    group's library row count), and assemble's per-log_id fan-out:
    every member of a matched playlist gets a log row carrying the
    GROUP's status (:886-889,914-916).

    Fixture (mirrored in the oracle): one group per even part —
    4..6 member videos titled after the partner album's child tracks
    (so grouped overlap accepts), every 11th group 'tune'-titled and
    duration-shifted so it misses (and, where a playlist exists,
    still misses — the fallback runs and rejects), every 4th group
    '(live)'-decorated so the raw strategy fires, every 12th album
    pre-liked ('saved before' at group grain => on EVERY member
    row)."""
    _, tracks, albums, playlists, liked_albums, playlist_map = _collection_fixture(
        spark, sf_dir
    )
    even = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("ck"),
        F.concat(
            F.lit("p"), _s(F.col("p_partkey") % 250), F.lit(" "), F.col("p_name")
        ).alias("base"),
    )
    n = (F.col("ck") % 3 + 4).cast("int")
    is_off = F.col("ck") % 11 == 0  # 'tune' groups: overlap 0, duration off
    member_title = lambda i: F.concat(  # noqa: E731
        F.when(is_off, "tune ").otherwise("song "),
        _s(F.col("ck")),
        F.lit(" "),
        _s(i),
    )
    member_dur = lambda i: (  # noqa: E731
        F.lit(30000)
        + ((F.col("ck") + i) % 7) * 1000
        + F.when(is_off, 25000).otherwise(0)
    ).cast("long")
    idx = F.sequence(F.lit(0), n - 1)
    grouped = even.select(
        F.concat(F.lit("OP"), _s(F.col("ck"))).alias("youtube_playlist_id"),
        F.when(F.col("ck") % 4 == 2, F.concat(F.col("base"), F.lit(" (live)")))
        .otherwise(F.col("base"))
        .alias("title"),
        F.concat(F.lit("user"), _s(F.col("ck") % 20)).alias("author"),
        n.cast("long").alias("total_tracks"),
        F.transform(idx, lambda i: F.lower(member_title(i))).alias("track_titles"),
        F.transform(idx, lambda i: (F.col("ck") * 10 + i).cast("long")).alias("log_ids"),
        F.aggregate(
            F.transform(idx, member_dur),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        ).alias("duration_ms"),
    )
    cfg = PipelineConfig(threshold_ms=150_000)
    engine = MatchEngine(cfg, CatalogCandidateSource(tracks, albums, playlists))
    empty_videos = grouped.sparkSession.createDataFrame(
        [],
        "log_id bigint, youtube_playlist_id string, video_id string, "
        "title string, author string, description string, duration_ms bigint",
    )
    result, _ = match_with_cache(
        engine, empty_videos, playlist_map, liked_albums=liked_albums, grouped_others=grouped
    )
    return result.log


OTHERS_CASCADE_CATALOG_SQL = r"""
WITH even AS (
  SELECT p_partkey AS ck,
         'p' || (p_partkey % 250) || ' ' || p_name AS base,
         CAST(150000 + ((p_partkey + 0) % 7 + (p_partkey + 1) % 7 + (p_partkey + 2) % 7
              + (p_partkey + 3) % 7 + (p_partkey + 4) % 7) * 1000 AS BIGINT) AS alb_sum,
         CAST(p_partkey % 3 + 4 AS INT) AS n,
         p_partkey % 11 = 0 AS is_off
  FROM part WHERE p_partkey % 2 = 0),
grp AS (
  SELECT ck, base, alb_sum, n, is_off,
         CASE WHEN ck % 4 = 2 THEN base || ' (live)' ELSE base END AS title,
         CASE WHEN ck % 4 = 2 THEN base || ' ' ELSE base END AS fixed_title,
         'user' || (ck % 20) AS author,
         ck * 10 AS log_id,   -- element_at(log_ids, 1)
         CAST((SELECT sum(CASE WHEN t.i < n
                               THEN 30000 + (ck + t.i) % 7 * 1000
                                    + CASE WHEN is_off THEN 25000 ELSE 0 END
                               ELSE 0 END)
               FROM (SELECT unnest([0, 1, 2, 3, 4, 5]) AS i) t) AS BIGINT) AS duration_ms
  FROM even),
albums AS (
  SELECT pk2, 'spotify:album:' || pk2 AS item_uri, base AS item_title,
         CASE WHEN pk2 % 8 = 0 THEN 'ch' || (pk2 % 40)
              ELSE 'AC' || (pk2 % 40) END AS artist1,
         alb_sum AS child_sum
  FROM (SELECT ck AS pk2, base, alb_sum FROM even)),
pl AS (
  SELECT ck AS pk2, 'spotify:playlist:' || ck AS item_uri, base AS item_title,
         'own' || (ck % 9) AS artist1,
         CAST(4 * ((alb_sum + 25000) // 4) AS BIGINT) AS child_sum
  FROM even WHERE ck % 5 = 0),
-- OTHERS strategy set: fixed (st 2), raw when different (st 3),
-- '{author} {fixed}' extension (st 6) — the author-led first token
-- never indexes, so st 6 searches return nothing
strat AS (
  SELECT g.*, s.priority, CAST(s.search_type_id AS BIGINT) AS search_type_id,
         CASE s.priority WHEN 0 THEN g.fixed_title
                         WHEN 1 THEN g.title
                         ELSE g.author || ' ' || g.fixed_title END AS q,
         g.log_id * 3 + s.priority AS qid
  FROM grp g
  CROSS JOIN (VALUES (0, 2), (1, 3), (2, 6)) s(priority, search_type_id)
  WHERE s.priority <> 1 OR g.fixed_title <> g.title),
qtok AS (
  SELECT *, lower(trim(q)) AS qtitle,
         list_filter(string_split_regex(lower(trim(q)), '\s+'), x -> x <> '')[1] AS tok
  FROM strat),
rank1 AS (
  SELECT qid, kind, item_uri, item_title, artist1, child_sum, cat_pk2
  FROM (
    SELECT q.qid, i.kind, i.item_uri, i.item_title, i.artist1, i.child_sum,
           i.pk2 AS cat_pk2,
           row_number() OVER (
             PARTITION BY q.qid, i.kind
             ORDER BY (CASE WHEN lower(i.item_title) = q.qtitle THEN 3
                            WHEN contains(q.qtitle, lower(i.item_title)) THEN 2
                            WHEN contains(lower(i.item_title), q.qtitle) THEN 1
                            ELSE 0 END) DESC,
                      i.item_uri ASC) AS rn,
           CASE WHEN lower(i.item_title) = q.qtitle THEN 3
                WHEN contains(q.qtitle, lower(i.item_title)) THEN 2
                WHEN contains(lower(i.item_title), q.qtitle) THEN 1
                ELSE 0 END AS score
    FROM qtok q
    JOIN (SELECT pk2, item_uri, item_title, artist1, child_sum, 'album' AS kind
          FROM albums
          UNION ALL
          SELECT pk2, item_uri, item_title, artist1, child_sum, 'playlist' AS kind
          FROM pl) i
      ON q.tok IS NOT NULL
     AND list_contains(list_distinct(list_filter(
           string_split_regex(lower(trim(i.item_title)), '\s+'), x -> x <> '')), q.tok)
  ) WHERE rn = 1 AND score > 0),
-- grouped scoring: children counted against the group's TITLE ARRAY,
-- total_tracks = group size; albums keep the case-sensitive
-- title/artist clause, playlists drop it
alb_scored AS (
  SELECT s.log_id, s.priority, s.search_type_id, s.q,
         r.item_uri, abs(r.child_sum - s.duration_ms) AS difference_ms,
         -- member titles are exactly 'song <ck> <c>' (or 'tune ...')
         -- for c < n, so child 'song <cat_pk2> <cc>' is contained in
         -- one iff cat_pk2 = ck, not off, and cc < n
         CAST((SELECT count(*) FROM range(0, 5) t(cc)
               WHERE r.cat_pk2 = s.ck AND NOT s.is_off AND cc < s.n) AS BIGINT)
           AS track_match,
         CAST(s.n AS BIGINT) AS total_tracks,
         ((s.title LIKE '%' || r.item_title || '%') AND (s.author LIKE '%' || r.artist1 || '%'))
           OR abs(r.child_sum - s.duration_ms) < 40000
           OR ((s.n >= 4) AND
               (SELECT count(*) FROM range(0, 5) t(cc)
                WHERE r.cat_pk2 = s.ck AND NOT s.is_off AND cc < s.n) * 100
               >= 60 * s.n)
           AS accepted
  FROM strat s JOIN rank1 r ON s.qid = r.qid AND r.kind = 'album'),
alb_folded AS (
  SELECT *, row_number() OVER (PARTITION BY log_id
             ORDER BY (CASE WHEN accepted THEN 0 ELSE 1 END), priority) AS rn,
         CAST(count(*) OVER (PARTITION BY log_id ORDER BY priority
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS found_on_try
  FROM alb_scored),
alb_win AS (SELECT *, 'album' AS kind FROM alb_folded WHERE rn = 1 AND accepted),
pl_scored AS (
  SELECT s.log_id, s.priority, s.search_type_id, s.q,
         r.item_uri, abs(r.child_sum - s.duration_ms) AS difference_ms,
         -- ptrack child titles never appear among member titles
         CAST(0 AS BIGINT) AS track_match,
         CAST(s.n AS BIGINT) AS total_tracks,
         abs(r.child_sum - s.duration_ms) < 40000
           OR ((s.n >= 4) AND 0 >= 60 * s.n)
           AS accepted
  FROM strat s JOIN rank1 r ON s.qid = r.qid AND r.kind = 'playlist'
  WHERE NOT EXISTS (SELECT 1 FROM alb_win w WHERE w.log_id = s.log_id)),
pl_folded AS (
  SELECT *, row_number() OVER (PARTITION BY log_id
             ORDER BY (CASE WHEN accepted THEN 0 ELSE 1 END), priority) AS rn,
         CAST(count(*) OVER (PARTITION BY log_id ORDER BY priority
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS found_on_try
  FROM pl_scored),
pl_win AS (SELECT *, 'playlist' AS kind FROM pl_folded WHERE rn = 1 AND accepted),
winners AS (SELECT * FROM alb_win UNION ALL SELECT * FROM pl_win),
liked AS (SELECT 'spotify:album:' || ck AS uri FROM even WHERE ck % 12 = 0),
with_status AS (
  SELECT w.*, (l.uri IS NOT NULL AND w.kind = 'album') AS is_liked,
         row_number() OVER (PARTITION BY w.item_uri ORDER BY w.log_id) AS occ
  FROM winners w LEFT JOIN liked l ON w.item_uri = l.uri)
-- assemble's per-log_id fan-out: one row per group member, all
-- carrying the group's match and status (user_playlist_id = 'LM')
SELECT g.log_id + m.i AS log_id,
       CASE WHEN s.kind = 'album' THEN s.item_uri END AS album_uri,
       CASE WHEN s.kind = 'playlist' THEN s.item_uri END AS playlist_uri,
       CAST(NULL AS VARCHAR) AS track_uri,
       s.found_on_try, s.difference_ms, s.track_match, s.total_tracks, s.q,
       s.search_type_id,
       CASE WHEN s.is_liked THEN 'skipped (saved before the run)'
            WHEN s.occ > 1 THEN 'skipped (saved during the run)'
            ELSE 'saved' END AS status
FROM with_status s
JOIN grp g ON s.log_id = g.log_id
JOIN (SELECT unnest([0, 1, 2, 3, 4, 5]) AS i) m ON m.i < g.n
"""


# ------------------------------------------------------- analyses


# ------------------------------------------------------- analyses
def skipped_during_run_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 ordered string_agg + A5 HAVING>1 through the REAL analysis
    code (plans/analyses.py::skipped_during_the_run; reference:
    dbt/analyses/spotify/skipped_during_the_run.sql): per
    (uri, playlist) groups with >1 video, newline-joined links and
    '<log_id> <status>' lines in log-id order.  Album log rows share
    all metadata per customer in the fixture, so multi-video groups
    genuinely occur."""
    from musicflow_spark.plans.analyses import skipped_during_the_run

    return skipped_during_the_run(int_join_spotify_uris(_mart_stage(spark, sf_dir)))


SKIPPED_DURING_RUN_ANALYSIS_SQL = (
    _MART_PRELUDE
    + _IJ_CTE
    + """
SELECT spotify_uri, spotify_playlist_id, user_playlist, spotify_title,
       spotify_author,
       CAST(count(video_id) AS BIGINT) AS video_cnt,
       string_agg('https://www.youtube.com/watch?v=' || video_id, chr(10)
                  ORDER BY log_id) AS links_to_videos,
       string_agg(log_id || ' ' || status, chr(10) ORDER BY log_id) AS statuses
FROM ij
WHERE spotify_playlist_id IS NOT NULL
GROUP BY spotify_uri, spotify_playlist_id, user_playlist, spotify_type,
         spotify_title, spotify_author, spotify_duration, total_tracks
HAVING count(video_id) > 1
"""
)


def found_ratio_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 + A10 through the REAL analysis code
    (plans/analyses.py::ratio_of_found_by_playlists; reference:
    dbt/analyses/spotify/ratio_of_found_by_playlists.sql): left join
    to the log, null-skipping count(log_id) vs count(id), rounded
    percentage.  Every third order is absent from the fixture log, so
    ratios are strictly between 0 and 100."""
    from musicflow_spark.plans.analyses import ratio_of_found_by_playlists

    return ratio_of_found_by_playlists(_mart_stage(spark, sf_dir))


FOUND_RATIO_ANALYSIS_SQL = (
    _MART_PRELUDE
    + """
SELECT yp.youtube_playlist_id, yp.type, yp.title, yp.author,
       CAST(count(sl.log_id) AS BIGINT) AS found_tracks,
       CAST(count(yl.id) AS BIGINT) AS total_tracks,
       round((count(sl.log_id) * 100 / CAST(count(yl.id) AS DOUBLE)) * 100.0) / 100.0
         AS percentage_found
FROM yp
JOIN yl ON yp.youtube_playlist_id = yl.youtube_playlist_id
LEFT JOIN sl ON yl.id = sl.log_id
GROUP BY yp.youtube_playlist_id, yp.type, yp.title, yp.author
"""
)


def found_by_stats_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 null-skipping count through the REAL analysis code
    (plans/analyses.py::found_by_statistics; reference:
    dbt/analyses/spotify/found_by_statistics.sql)."""
    from musicflow_spark.plans.analyses import found_by_statistics

    return found_by_statistics(int_join_spotify_uris(_mart_stage(spark, sf_dir)))


FOUND_BY_STATS_ANALYSIS_SQL = (
    _MART_PRELUDE
    + _IJ_CTE
    + """
SELECT search_type_name AS found_by,
       CAST(count(spotify_uri) AS BIGINT) AS records_found
FROM ij
GROUP BY search_type_id, search_type_name
"""
)


QUERIES: list[Query] = [
    Query(
        "log_found_videos_mart",
        "A4,A6,U1,J1-J4,F10,F16,F17,A10 (marts pipeline end-to-end)",
        log_found_videos_mart,
        LOG_FOUND_VIDEOS_MART_SQL,
    ),
    Query(
        "log_for_tableau_mart",
        "W1,F15,F18,P2,U1 (tableau mart end-to-end)",
        log_for_tableau_mart,
        LOG_FOR_TABLEAU_MART_SQL,
    ),
    Query(
        "log_not_found_videos_mart",
        "J6,P7,J5 (anti-join mart end-to-end)",
        log_not_found_videos_mart,
        LOG_NOT_FOUND_VIDEOS_MART_SQL,
    ),
    Query(
        "match_cascade_catalog",
        "O3,J9,W2,J8,F1-F4 (match engine end-to-end)",
        match_cascade_catalog,
        MATCH_CASCADE_CATALOG_SQL,
    ),
    Query(
        "collection_cascade_catalog",
        "P7,O3,J8,J9,A10 (album/playlist cascade end-to-end)",
        collection_cascade_catalog,
        MATCH_COLLECTION_CASCADE_SQL,
    ),
    Query(
        "others_cascade_catalog",
        "O3 (st-6 extension),J8 (grouped overlap),J9,U2 (others pass end-to-end)",
        others_cascade_catalog,
        OTHERS_CASCADE_CATALOG_SQL,
    ),
    Query(
        "skipped_during_run_analysis",
        "A4 (ordered string_agg),A5,F6 (analysis end-to-end)",
        skipped_during_run_analysis,
        SKIPPED_DURING_RUN_ANALYSIS_SQL,
    ),
    Query(
        "found_ratio_analysis",
        "J7,A10,A1 (analysis end-to-end)",
        found_ratio_analysis,
        FOUND_RATIO_ANALYSIS_SQL,
    ),
    Query(
        "found_by_stats_analysis",
        "A1 (null-skipping count; analysis end-to-end)",
        found_by_stats_analysis,
        FOUND_BY_STATS_ANALYSIS_SQL,
    ),
]
