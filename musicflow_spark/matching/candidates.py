"""Candidate acquisition for the match engine.

The reference calls ``sp.search(q, limit, type)`` per video per
strategy (spotify_elt.py:252,401,594) and takes the FIRST result.
Here a CandidateSource answers a whole queries DataFrame at once:

- CatalogCandidateSource — deterministic local search over catalog
  tables (the offline test/benchmark path, SURVEY §7.6 'a
  deterministic local mock enabling offline correctness runs').
  Search is an inverted-index token join + containment scoring, i.e.
  an honest distributed search, not a driver loop.
- RestCandidateSource — the online path: Arrow-batched mapInPandas
  over the queries frame calling an injected search function with
  client-side batching/rate-limiting.  The Spark plumbing (schema,
  batching, partitioning) is real; the default search_fn raises
  NotImplementedError since no API client ships in this environment.

Query grammar handled (built by the engine, mirroring
find_track/find_album q shapes): 'track:<title> artist:<artist>',
'track "<title>"', '<artist> <title>', bare '<title>'.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Protocol

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from musicflow_spark.session import empty_frame

#: candidate schema common to all sources; `children` carries the
#: child-track fan (empty for kind='track')
CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType(), False),
        T.StructField("result_rank", T.LongType(), False),
        T.StructField("item_uri", T.StringType(), False),
        T.StructField("item_title", T.StringType(), False),
        T.StructField("item_artists", T.ArrayType(T.StringType()), False),
        T.StructField("item_duration_ms", T.LongType(), True),
        T.StructField("album_uri", T.StringType(), True),
        T.StructField(
            "children",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("track_uri", T.StringType(), False),
                        T.StructField("track_title", T.StringType(), False),
                        T.StructField("duration_ms", T.LongType(), False),
                        # per-child provenance the reference's playlist
                        # tracks_info carries (spotify_elt.py:727-733);
                        # album children get these overridden at
                        # assembly (log_album :544-556 stores the
                        # ALBUM's artists on every child)
                        T.StructField("track_artists", T.StringType(), True),
                        T.StructField("album_uri", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

#: what a search ranks: the candidate fields before ``qid``/``result_rank``
ITEM_SCHEMA = T.StructType(CANDIDATE_SCHEMA.fields[2:])


class CandidateSource(Protocol):
    def search(self, queries: DataFrame, kind: str, limit: int) -> DataFrame:
        """queries: (qid, q).  Returns CANDIDATE_SCHEMA rows; at most
        ``limit`` per qid, result_rank starting at 1."""
        ...


def _parse_q(qcol: F.Column) -> tuple[F.Column, F.Column]:
    """Split a query string into (title_part, artist_part?) following
    the engine's query grammar."""
    title = qcol
    # 'track:<t> artist:<a>'
    title = F.when(
        qcol.startswith("track:"),
        F.regexp_extract(qcol, r"^track:(.*?)( artist:.*)?$", 1),
    ).otherwise(title)
    # 'track "<t>"' / '"<t>"'
    title = F.when(
        qcol.rlike(r'^track "'), F.regexp_extract(qcol, r'^track "(.*)"$', 1)
    ).otherwise(title)
    artist = F.when(
        qcol.contains(" artist:"), F.regexp_extract(qcol, r" artist:(.*)$", 1)
    ).otherwise(F.lit(None).cast("string"))
    return F.trim(title), artist


class CatalogCandidateSource:
    """Search a local catalog deterministically.

    catalog_tracks:    (track_uri, album_uri, track_title,
                        track_artists, duration_ms) — artists as
                        '; '-joined string (reference storage shape)
    catalog_albums:    (album_uri, album_title, album_artists,
                        duration_ms, total_tracks) or None
    catalog_playlists: (playlist_uri, playlist_title, playlist_owner,
                        duration_ms, total_tracks) or None

    Ranking: exact lowered-title == query-title beats title-contained-
    in-query beats query-contains-title; artist agreement breaks
    ties, then uri.  Top-``limit`` per query, rank order stable.
    The probe join is an inverted-index equi-join on the query
    title's first token (shuffle on the token key — the same shape a
    distributed search index produces), never a cross join.
    """

    def __init__(
        self,
        catalog_tracks: DataFrame,
        catalog_albums: DataFrame | None = None,
        catalog_playlists: DataFrame | None = None,
    ):
        self.tracks = catalog_tracks
        # each kind's search items (no item when its catalog is absent)
        self.items = {
            "track": catalog_tracks.select(
                F.col("track_uri").alias("item_uri"),
                F.col("track_title").alias("item_title"),
                F.split(F.col("track_artists"), "; ").alias("item_artists"),
                F.col("duration_ms").alias("item_duration_ms"),
                "album_uri",
            ).withColumn("children", F.lit(None).cast(CANDIDATE_SCHEMA["children"].dataType)),
            "album": self._collection_items(
                catalog_albums,
                "album_uri",
                F.col("album_uri").alias("item_uri"),
                F.col("album_title").alias("item_title"),
                F.split(F.col("album_artists"), "; ").alias("item_artists"),
                F.col("duration_ms").alias("item_duration_ms"),
                F.col("album_uri"),
            ),
            "playlist": self._collection_items(
                catalog_playlists,
                "playlist_uri",
                F.col("playlist_uri").alias("item_uri"),
                F.col("playlist_title").alias("item_title"),
                F.array(F.col("playlist_owner")).alias("item_artists"),
                F.col("duration_ms").alias("item_duration_ms"),
                F.lit(None).cast("string").alias("album_uri"),
            ),
        }

    def _index(self, items: DataFrame, title_col: str) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(title_col))), r"\s+"), lambda t: t != ""
        )
        return items.withColumn("__tok__", F.explode(F.array_distinct(toks)))

    def search(self, queries: DataFrame, kind: str, limit: int = 50) -> DataFrame:
        items = self.items[kind]
        qt, qa = _parse_q(F.col("q"))
        q = queries.select(
            "qid",
            F.lower(qt).alias("__qtitle__"),
            F.lower(F.coalesce(qa, F.lit(""))).alias("__qartist__"),
        ).withColumn(
            "__tok__",
            F.element_at(
                F.filter(F.split(F.col("__qtitle__"), r"\s+"), lambda t: t != ""), 1
            ),
        ).filter(F.col("__tok__").isNotNull())

        probe = q.join(self._index(items, "item_title"), "__tok__")
        lt = F.lower(F.col("item_title"))
        scored = (
            probe.withColumn(
                "__score__",
                F.when(lt == F.col("__qtitle__"), 3)
                .when(F.col("__qtitle__").contains(lt), 2)
                .when(lt.contains(F.col("__qtitle__")), 1)
                .otherwise(0),
            )
            .filter(F.col("__score__") > 0)
            .withColumn(
                "__artist_hit__",
                F.when(
                    (F.col("__qartist__") != "")
                    & F.exists(
                        F.col("item_artists"),
                        lambda a: F.col("__qartist__").contains(F.lower(a)),
                    ),
                    1,
                ).otherwise(0),
            )
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("__score__"), F.desc("__artist_hit__"), F.asc("item_uri")
        )
        return (
            scored.withColumn("result_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("result_rank") <= limit)
            .select(
                "qid",
                "result_rank",
                "item_uri",
                "item_title",
                "item_artists",
                "item_duration_ms",
                "album_uri",
                "children",
            )
        )

    def _collection_items(self, items: DataFrame | None, key: str, *fields: F.Column) -> DataFrame:
        """Albums or playlists as search items: ``fields`` projected,
        plus the child-track fan — the catalog tracks grouped by
        ``key`` (album_uri / playlist_uri), empty when none.  No
        catalog gives no items."""
        if items is None:
            return empty_frame(self.tracks.sparkSession, ITEM_SCHEMA)
        children = (
            self.tracks.filter(F.col(key).isNotNull())
            .groupBy(key)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("track_uri"),
                            F.col("track_title"),
                            F.col("duration_ms"),
                            F.col("track_artists"),
                            F.col("album_uri"),
                        )
                    )
                ).alias("children")
            )
        )
        return items.join(children, key, "left").select(
            *fields,
            F.coalesce(
                "children", F.array().cast(CANDIDATE_SCHEMA["children"].dataType)
            ).alias("children"),
        )


class RestCandidateSource:
    """Online search: Arrow-batched mapInPandas over the queries frame
    (reference: per-row sp.search loops, spotify_elt.py:252).

    search_fn(q, kind, limit) -> list[dict] with keys matching
    CANDIDATE_SCHEMA item fields.  Batching happens per Arrow batch;
    repartition(n_partitions) bounds API concurrency (each partition
    is one sequential client).
    """

    def __init__(
        self,
        search_fn: Callable[[str, str, int], list[dict]] | None = None,
        n_partitions: int = 4,
    ):
        self.search_fn = search_fn
        self.n_partitions = n_partitions

    def search(self, queries: DataFrame, kind: str, limit: int = 50) -> DataFrame:
        fn = self.search_fn
        if fn is None:
            raise NotImplementedError(
                "RestCandidateSource needs an injected search_fn; no API "
                "client is available in this environment"
            )

        def run(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                out: list[dict] = []
                for qid, qstr in zip(pdf["qid"], pdf["q"]):
                    for rank, item in enumerate(fn(qstr, kind, limit), start=1):
                        out.append(
                            {
                                "qid": qid,
                                "result_rank": rank,
                                "item_uri": item["item_uri"],
                                "item_title": item["item_title"],
                                "item_artists": item.get("item_artists", []),
                                "item_duration_ms": item.get("item_duration_ms"),
                                "album_uri": item.get("album_uri"),
                                "children": item.get("children"),
                            }
                        )
                yield pd.DataFrame(
                    out, columns=[f.name for f in CANDIDATE_SCHEMA.fields]
                )

        return (
            queries.select("qid", "q")
            .repartition(self.n_partitions)
            .mapInPandas(run, CANDIDATE_SCHEMA)
        )
