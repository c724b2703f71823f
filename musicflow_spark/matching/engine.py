"""Set-oriented match engine (SURVEY §7.6).

Reference flow (dags/scripts/spotify_elt.py:1096-1211): per video —
threshold branch -> strategy cascade (find_track :214-246 6 ordered
query shapes / find_album :372-384 + find_other_playlist :565-577) ->
first-result scoring (qsearch_* :252-309,399-516,592-690) -> accept
predicate -> membership/status checks (collect_* :311-336,494-522,
693-718) -> guarded dict upsert + log append (log_*).

Here each stage is a DataFrame transform:

- strategy cascade  -> exploded (priority, search_type_id, q) rows
- per-search top-1  -> the CandidateSource ranks; result_rank == 1
- accept predicate  -> native boolean columns (J8 theta predicate)
- first-hit-wins    -> row_number over priority (O3/W2)
- found_on_try      -> count of lower-priority strategies that
                      returned a candidate (reference step_num)
- skip statuses     -> liked-set semi-join + (uri, playlist) window
                      ordered by log_id (J9; 'during' determinism via
                      log_id order per SURVEY §7 watch-list #6)
- guarded upsert    -> prefer-non-null playlist_uri window (A8)

Cost note (SURVEY §7 watch-list #4): one eager cascade evaluates every
strategy set-at-a-time, which is optimal when search is a local
catalog join.  The reference's miss-driven API-call saving lives one
layer up: the match cache (cache.py) hands the engine only the videos
it has not seen, so search calls stay limited to cache misses.

The seven eager ``localCheckpoint``s and the ``isEmpty`` probes stay:
on incremental_sync (shared 4-core host), one checkpoint for the three
winner sets was no faster over three pairs, and dropping every
checkpoint made the traced match task slower (45 s against 28-38 s).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from musicflow_spark.config import PipelineConfig
from musicflow_spark.functions.strings import is_ost, strip_topic_suffix, with_fixed_title
from musicflow_spark.matching.candidates import CandidateSource

TRACK_STRATEGIES = [
    # (priority, search_type_id, q template, only_if_fixed_differs)
    # reference: find_track, spotify_elt.py:219-243
    (0, 0, "track:{fixed} artist:{artist}", False),
    (1, 2, "{fixed}", False),
    (2, 4, 'track "{fixed}"', False),
    (3, 6, "{artist} {fixed}", False),
    (4, 5, 'track "{raw}"', True),
    (5, 3, "{raw}", True),
]

COLLECTION_STRATEGIES = [
    # find_album / find_other_playlist: fixed (st 2) then raw (st 3)
    (0, 2, "{fixed}", False),
    (1, 3, "{raw}", True),
]

OTHERS_COLLECTION_STRATEGIES = COLLECTION_STRATEGIES + [
    # the *_extended '{author} {fixed}' fallback (search_type_id 6) the
    # other-playlists pass adds (find_album_extended spotify_elt.py:
    # 386-394, find_other_playlist_extended :579-587) — raw author, not
    # the Topic-stripped artist
    (2, 6, "{author} {fixed}", False),
]

#: the children element type shared by schema strings below
_CHILD_T = (
    "array<struct<track_uri:string,track_title:string,duration_ms:bigint,"
    "track_artists:string,album_uri:string>>"
)


@dataclass
class MatchResult:
    """The engine's outputs, shaped exactly like the reference's five
    BigQuery loads (spotify_elt.py:1151-1207)."""

    log: DataFrame  # schemas.SPOTIFY_LOG shape
    tracks: DataFrame  # distinct_tracks after guarded upsert
    albums: DataFrame
    playlists_others: DataFrame
    tracks_to_like: DataFrame  # (track_uri) where saved via LM
    albums_to_like: DataFrame
    #: (playlist_uri) saved playlist-kind LM matches — the reference
    #: follows these (collect_other_playlist spotify_elt.py:715-722,
    #: like_playlists :935-943; it stores the playlist id, the engine
    #: keeps the uri like every other side-effect set)
    playlists_to_like: DataFrame
    playlist_additions: DataFrame  # (user_playlist_id, track_uri)


def _q_expr(template: str) -> F.Column:
    """Render a strategy template from the prepared video columns."""
    out: list[F.Column] = []
    rest = template
    keys = (
        ("{fixed}", F.col("fixed_title")),
        ("{raw}", F.col("title")),
        ("{artist}", F.col("artist")),
        ("{author}", F.col("author")),
    )
    while rest:
        for key, col in keys:
            if rest.startswith(key):
                out.append(col)
                rest = rest[len(key) :]
                break
        else:
            nxt = min(
                [i for i in (rest.find(k) for k, _ in keys) if i >= 0],
                default=len(rest),
            )
            out.append(F.lit(rest[:nxt]))
            rest = rest[nxt:]
    return F.concat(*out)


def _prepare_titles(frame: DataFrame) -> DataFrame:
    """The title columns every strategy template reads: the fixed
    title, the Topic-stripped artist and the OST flag."""
    return (
        with_fixed_title(frame, "title", "fixed_title")
        .withColumn("artist", strip_topic_suffix("author"))
        .withColumn("ost", is_ost("title"))
    )


class MatchEngine:
    def __init__(self, cfg: PipelineConfig, source: CandidateSource):
        self.cfg = cfg
        self.source = source

    # ------------------------------------------------------------ public
    def compute_matches(self, videos: DataFrame, playlist_map: DataFrame) -> DataFrame:
        """The video pass's search/score/accept stage: one unioned
        match-row frame (``_match_schema`` shape) across the track/
        album/playlist branches.  The cache layer (cache.py,
        ``match_with_cache``) calls it for the videos it has not seen.

        videos: (log_id, youtube_playlist_id, video_id, title, author,
        description, duration_ms) — one row per library entry of the
        current user (reference extract_videos, spotify_elt.py:92-126).
        playlist_map: (youtube_playlist_id, user_playlist_id) with the
        'LM' pseudo-row (reference get_user_playlist_id :134-138)."""
        # prepared and the per-kind winner sets each feed 2+ downstream
        # consumers (the album winners gate the playlist pass; assembly
        # unions all three and fans into 7 outputs).  Materialize them
        # once — winners are tiny relative to the input, and truncating
        # the lineage here keeps Catalyst analysis linear instead of
        # re-planning the whole cascade per consumer.
        prepared = (
            _prepare_titles(videos)
            .join(F.broadcast(playlist_map), "youtube_playlist_id", "left")
            .withColumn("user_playlist_id", F.coalesce("user_playlist_id", F.lit("LM")))
            .localCheckpoint(eager=True)
        )
        th = self.cfg.threshold_ms
        if th is None:
            track_videos, coll_videos = prepared, prepared.limit(0)
        else:
            track_videos = prepared.filter(F.col("duration_ms") < th)
            coll_videos = prepared.filter(F.col("duration_ms") >= th)

        limit = self.cfg.search_limit_tracks
        track_matches = self._match_kind(
            track_videos, "track", TRACK_STRATEGIES, limit, self._track_scores()
        ).localCheckpoint(eager=True)
        return track_matches.unionByName(
            self._albums_then_playlists(coll_videos, COLLECTION_STRATEGIES)
        )

    def compute_matches_others(self, grouped: DataFrame) -> DataFrame:
        """The reference's SECOND pass — other users' playlists
        (prepare_playlists_others, spotify_elt.py:859-923, driven at
        :1141-1143): each youtube playlist authored by someone else is
        matched as a whole against albums first, then playlists, with
        the extended '{author} {fixed}' strategy (search_type_id 6).

        grouped: (youtube_playlist_id, title, author, total_tracks,
        track_titles: array<string> of LOWERCASED video titles in
        log-id order, log_ids: array<bigint> sorted, duration_ms:
        summed video duration) — the extract_other_playlists grouping.

        Match rows come back at GROUP grain (log_id = first log id, so
        statuses dedup per group exactly like the reference's shared
        log membership probe); assemble() fans log rows out per log_id
        afterwards, all carrying the group's status (:886-889,914-916
        loop log_ids with one status)."""
        prepared = (
            _prepare_titles(grouped)
            .withColumn("user_playlist_id", F.lit("LM"))
            .withColumn("log_id", F.element_at("log_ids", 1))
            .localCheckpoint(eager=True)
        )
        return self._albums_then_playlists(
            prepared, OTHERS_COLLECTION_STRATEGIES, grouped=True
        )

    # ------------------------------------------------------------ stages
    def _albums_then_playlists(
        self, videos: DataFrame, strategies, grouped: bool = False
    ) -> DataFrame:
        """Album search, then playlist search for the videos the album
        pass missed (reference: find_other_playlist runs when
        find_album returns nothing, spotify_elt.py:826-834)."""

        def winners(frame: DataFrame, kind: str) -> DataFrame:
            if frame.isEmpty():
                out = frame.sparkSession.createDataFrame([], self._match_schema())
            else:
                limit = self.cfg.search_limit_albums
                scores = self._collection_scores(kind, grouped)
                out = self._match_kind(frame, kind, strategies, limit, scores)
            return out.localCheckpoint(eager=True)

        albums = winners(videos, "album")
        missing = videos.join(albums.select("log_id"), "log_id", "left_anti")
        return albums.unionByName(winners(missing, "playlist"))

    def _strategy_rows(self, videos: DataFrame, strategies) -> DataFrame:
        structs = [
            F.when(
                F.lit(not only_diff) | (F.col("fixed_title") != F.col("title")),
                F.struct(
                    F.lit(priority).alias("priority"),
                    F.lit(st_id).cast("long").alias("search_type_id"),
                    _q_expr(tpl).alias("q"),
                ),
            )
            for priority, st_id, tpl, only_diff in strategies
        ]
        n = len(strategies)
        return (
            videos.withColumn(
                "__strat__",
                F.filter(F.array(*structs), lambda s: s.isNotNull()),
            )
            .select("*", F.explode("__strat__").alias("s"))
            .drop("__strat__")
            .select(
                "*",
                F.col("s.priority").alias("priority"),
                F.col("s.search_type_id").alias("search_type_id"),
                F.col("s.q").alias("q"),
            )
            .drop("s")
            .withColumn("qid", F.col("log_id") * n + F.col("priority"))
        )

    def _match_kind(
        self, videos: DataFrame, kind: str, strategies, limit: int, scores: dict[str, F.Column]
    ) -> DataFrame:
        """One kind's cascade: strategy rows -> search -> the top
        candidate per query -> score -> the first accepted strategy
        wins.  Every kind projects the same match-row columns; the
        caller supplies the search limit and the scores
        (``_track_scores`` / ``_collection_scores``)."""
        strat = self._strategy_rows(videos, strategies)
        cands = self.source.search(strat.select("qid", "q"), kind, limit).filter(
            F.col("result_rank") == 1
        )
        scored = strat.join(cands, "qid", "inner").select(
            "log_id",
            "user_playlist_id",
            "priority",
            "search_type_id",
            "q",
            F.col("item_uri").alias("spotify_uri"),
            "album_uri",
            "item_title",
            F.array_join(F.col("item_artists"), "; ").alias("item_artists_s"),
            *[col.alias(name) for name, col in scores.items()],
        )
        return self._pick_winner(scored, kind=kind)

    def _track_scores(self) -> dict[str, F.Column]:
        """The qsearch_track accept predicate (spotify_elt.py:262-309)
        as columns.  Candidates without a duration never accept but DO
        count as a returned result (reference :267-273 warns + breaks
        after step_num increment)."""
        lower_title = F.lower(F.col("title"))
        artists_in_title = F.size(
            F.filter(
                F.col("item_artists"), lambda a: lower_title.contains(F.lower(a))
            )
        )
        artists_in_channel = F.size(
            F.filter(
                F.col("item_artists"),
                lambda a: F.lower(F.col("author")).contains(F.lower(a)),
            )
        )
        track_in_title = lower_title.contains(F.lower(F.col("item_title")))
        diff = F.abs(F.col("item_duration_ms") - F.col("duration_ms"))
        has_duration = F.col("item_duration_ms").isNotNull() & (
            F.col("item_duration_ms") != 0
        )
        accepted = has_duration & (
            (track_in_title & (F.col("ost") | (artists_in_title > 0) | (artists_in_channel > 0)))
            | (diff <= self.cfg.track_max_diff_ms)
        )
        return {
            "item_duration_ms": F.col("item_duration_ms"),
            "difference_ms": diff,
            "track_match": F.lit(1).cast("long"),  # pseudo (log_track :363-364)
            "total_tracks": F.lit(1).cast("long"),
            "children": F.lit(None).cast(_CHILD_T),
            "log_ids": F.lit(None).cast("array<bigint>"),
            "pass_no": F.lit(0),
            "accepted": accepted,
        }

    def _collection_scores(self, kind: str, grouped: bool) -> dict[str, F.Column]:
        """qsearch_album/qsearch_playlist scoring (spotify_elt.py:
        399-516,592-690): child-track fan -> duration delta vs the
        video, title-in-description match counting, the 60%/40s accept
        rule.  Child containment checks run on the children array with
        higher-order functions — no explode needed for scoring.

        ``grouped`` = the other-playlists pass: match counting checks
        each child title against the GROUP's video-title array instead
        of a description (:432-435), and total_tracks is the group's
        library row count, not the child count (:444-446 row.get)."""
        children = F.coalesce(F.col("children"), F.array().cast(_CHILD_T))
        child_sum = F.aggregate(
            children, F.lit(0).cast("long"), lambda acc, c: acc + c["duration_ms"]
        )
        if grouped:
            # child title found "like any track title in the YouTube
            # album": containment within any lowered video title
            track_match_cnt = F.size(
                F.filter(
                    children,
                    lambda c: F.exists(
                        F.col("track_titles"),
                        lambda t: t.contains(F.lower(c["track_title"])),
                    ),
                )
            )
            total_tracks = F.col("total_tracks").cast("long")
        else:
            lower_desc = F.lower(F.coalesce(F.col("description"), F.lit("")))
            track_match_cnt = F.size(
                F.filter(children, lambda c: lower_desc.contains(F.lower(c["track_title"])))
            )
            total_tracks = F.greatest(F.size(children), F.lit(1)).cast("long")
        diff = F.col("duration_ms") - child_sum
        pct = (track_match_cnt / total_tracks) * 100
        # reference :455-462: case-SENSITIVE containment for the
        # title/artist clause (album only; playlists drop that clause)
        title_artist_clause = (
            F.col("title").contains(F.col("item_title"))
            & F.col("author").contains(F.element_at(F.col("item_artists"), 1))
            if kind == "album"
            else F.lit(False)
        )
        accepted = (
            title_artist_clause
            | (F.abs(diff) < self.cfg.album_max_diff_ms)
            | (
                (total_tracks >= self.cfg.overlap_min_tracks)
                & (pct >= self.cfg.overlap_accept_pct)
            )
        )
        return {
            "item_duration_ms": child_sum,
            "difference_ms": F.abs(diff),
            "track_match": track_match_cnt.cast("long"),
            "total_tracks": total_tracks,
            "children": children,
            "log_ids": F.col("log_ids") if grouped else F.lit(None).cast("array<bigint>"),
            "pass_no": F.lit(1 if grouped else 0),
            "accepted": accepted,
        }

    def _pick_winner(self, scored: DataFrame, kind: str) -> DataFrame:
        """First-hit-wins + found_on_try: the winner is the lowest
        accepted priority; found_on_try counts strategies at <= that
        priority that returned a candidate (reference step_num)."""
        w_rank = Window.partitionBy("log_id").orderBy(
            F.when(F.col("accepted"), 0).otherwise(1), "priority"
        )
        tries_up_to = (
            Window.partitionBy("log_id")
            .orderBy("priority")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            scored.withColumn("found_on_try", F.count(F.lit(1)).over(tries_up_to))
            .withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") == 1)
            .filter(F.col("accepted"))
            .drop("rn", "accepted", "priority")
            .withColumn("kind", F.lit(kind))
        )

    @staticmethod
    def _match_schema() -> str:
        return (
            "log_id bigint, user_playlist_id string, search_type_id bigint, q string, "
            "spotify_uri string, album_uri string, item_title string, "
            "item_artists_s string, item_duration_ms bigint, difference_ms bigint, "
            "track_match bigint, total_tracks bigint, "
            f"children {_CHILD_T}, "
            "log_ids array<bigint>, pass_no int, "
            "found_on_try bigint, kind string"
        )

    # ---------------------------------------------------------- assembly
    def assemble(
        self,
        matches: DataFrame,
        liked_tracks: DataFrame | None = None,
        liked_albums: DataFrame | None = None,
    ) -> MatchResult:
        """Statuses, log shaping, entity tables, and side-effect sets
        from a unioned match-row frame (the cache layer's hit+miss
        union, ``match_with_cache``)."""
        spark = matches.sparkSession
        liked_tracks = liked_tracks or spark.createDataFrame([], "uri string")
        liked_albums = liked_albums or spark.createDataFrame([], "uri string")

        # ---- statuses (collect_*: liked-before check first, then the
        # saved-during membership probe over earlier log rows)
        liked = (
            liked_tracks.select(F.col("uri"), F.lit("track").alias("liked_kind"))
            .unionByName(
                liked_albums.select(F.col("uri"), F.lit("album").alias("liked_kind"))
            )
            .withColumn("liked", F.lit(True))
        )
        # the reference runs the video pass before the other-playlists
        # pass (spotify_elt.py:1135-1143) and its during-run dedup is
        # insertion order over the shared log lists — pass_no first
        # mirrors that, log_id orders within a pass
        w_dup = Window.partitionBy("spotify_uri", "user_playlist_id").orderBy(
            F.coalesce(F.col("pass_no"), F.lit(0)), "log_id"
        )
        with_status = (
            matches.join(
                F.broadcast(liked),
                (matches["spotify_uri"] == liked["uri"])
                & (matches["kind"] == liked["liked_kind"]),
                "left",
            )
            .drop("uri", "liked_kind")
            .withColumn("occ", F.row_number().over(w_dup))
            .withColumn(
                "status",
                F.when(
                    F.col("liked").isNotNull()
                    & (F.col("user_playlist_id") == "LM")
                    & F.col("kind").isin("track", "album"),
                    "skipped (saved before the run)",
                )
                .when(F.col("occ") > 1, "skipped (saved during the run)")
                .otherwise("saved"),
            )
            .drop("liked", "occ")
        )

        # group-grain rows (other-playlists pass) fan out one log row
        # per aggregated log_id, all with the group's status
        # (spotify_elt.py:886-889,914-916)
        log = with_status.select(
            F.explode(F.coalesce("log_ids", F.array("log_id"))).alias("log_id"),
            F.when(F.col("kind") == "album", F.col("spotify_uri")).alias("album_uri"),
            F.when(F.col("kind") == "playlist", F.col("spotify_uri")).alias("playlist_uri"),
            F.when(F.col("kind") == "track", F.col("spotify_uri")).alias("track_uri"),
            "found_on_try",
            "difference_ms",
            "track_match",
            "total_tracks",
            "q",
            "search_type_id",
            "status",
        )

        # ---- entity tables with the guarded upsert (A8)
        track_rows = with_status.filter(F.col("kind") == "track").select(
            F.col("spotify_uri").alias("track_uri"),
            F.col("album_uri"),
            F.lit(None).cast("string").alias("playlist_uri"),
            F.col("item_title").alias("track_title"),
            F.col("item_artists_s").alias("track_artists"),
            F.col("item_duration_ms").alias("duration_ms"),
            F.col("log_id"),
        )
        album_children = (
            with_status.filter(F.col("kind") == "album")
            .select("spotify_uri", "log_id", "item_artists_s", F.explode("children").alias("c"))
            .select(
                F.col("c.track_uri").alias("track_uri"),
                F.col("spotify_uri").alias("album_uri"),
                F.lit(None).cast("string").alias("playlist_uri"),
                F.col("c.track_title").alias("track_title"),
                # the ALBUM's artists on every child — "not always
                # correct, but we don't iterate for every artist on
                # every track" (log_album spotify_elt.py:544-556)
                F.col("item_artists_s").alias("track_artists"),
                F.col("c.duration_ms").alias("duration_ms"),
                F.col("log_id"),
            )
        )
        playlist_children = (
            with_status.filter(F.col("kind") == "playlist")
            .select("spotify_uri", "log_id", F.explode("children").alias("c"))
            .select(
                F.col("c.track_uri").alias("track_uri"),
                # playlist children keep their OWN album_uri + artists
                # (log_other_playlist tracks_info, spotify_elt.py:
                # 727-739 stores each child's artists and album)
                F.col("c.album_uri").alias("album_uri"),
                F.col("spotify_uri").alias("playlist_uri"),
                F.col("c.track_title").alias("track_title"),
                F.coalesce(F.col("c.track_artists"), F.lit("")).alias("track_artists"),
                F.col("c.duration_ms").alias("duration_ms"),
                F.col("log_id"),
            )
        )
        all_tracks = track_rows.unionByName(album_children).unionByName(playlist_children)
        # guarded upsert: prefer rows carrying a playlist_uri, then
        # first write (log order) — reference log_track :345-355,
        # log_album :531-541, log_other_playlist :735-741
        w_upsert = Window.partitionBy("track_uri").orderBy(
            F.col("playlist_uri").isNull().cast("int"), "log_id"
        )
        tracks = (
            all_tracks.withColumn("rn", F.row_number().over(w_upsert))
            .filter(F.col("rn") == 1)
            .drop("rn", "log_id")
        )

        w_first = Window.partitionBy("spotify_uri").orderBy("log_id")
        albums = (
            with_status.filter(F.col("kind") == "album")
            .withColumn("rn", F.row_number().over(w_first))
            .filter(F.col("rn") == 1)
            .select(
                F.col("spotify_uri").alias("album_uri"),
                F.col("item_title").alias("album_title"),
                F.col("item_artists_s").alias("album_artists"),
                F.col("item_duration_ms").alias("duration_ms"),
                F.size("children").cast("long").alias("total_tracks"),
            )
        )
        playlists_others = (
            with_status.filter(F.col("kind") == "playlist")
            .withColumn("rn", F.row_number().over(w_first))
            .filter(F.col("rn") == 1)
            .select(
                F.col("spotify_uri").alias("playlist_uri"),
                F.col("item_title").alias("playlist_title"),
                F.col("item_artists_s").alias("playlist_owner"),
                F.col("item_duration_ms").alias("duration_ms"),
                F.size("children").cast("long").alias("total_tracks"),
            )
        )

        saved = with_status.filter(F.col("status") == "saved")
        tracks_to_like = saved.filter(
            (F.col("kind") == "track") & (F.col("user_playlist_id") == "LM")
        ).select(F.col("spotify_uri").alias("track_uri"))
        albums_to_like = saved.filter(
            (F.col("kind") == "album") & (F.col("user_playlist_id") == "LM")
        ).select(F.col("spotify_uri").alias("album_uri"))
        playlists_to_like = saved.filter(
            (F.col("kind") == "playlist") & (F.col("user_playlist_id") == "LM")
        ).select(F.col("spotify_uri").alias("playlist_uri"))
        direct_adds = saved.filter(
            (F.col("kind") == "track") & (F.col("user_playlist_id") != "LM")
        ).select("user_playlist_id", F.col("spotify_uri").alias("track_uri"))
        child_adds = (
            saved.filter((F.col("kind") != "track") & (F.col("user_playlist_id") != "LM"))
            .select("user_playlist_id", F.explode("children").alias("c"))
            .select("user_playlist_id", F.col("c.track_uri").alias("track_uri"))
        )
        playlist_additions = direct_adds.unionByName(child_adds).dropDuplicates(
            ["user_playlist_id", "track_uri"]
        )

        return MatchResult(
            log=log,
            tracks=tracks,
            albums=albums,
            playlists_others=playlists_others,
            tracks_to_like=tracks_to_like,
            albums_to_like=albums_to_like,
            playlists_to_like=playlists_to_like,
            playlist_additions=playlist_additions,
        )


def apply_side_effects(
    df: DataFrame, batch_fn, batch_size: int = 50
) -> None:
    """S11: side-effecting sink — foreachPartition with client-side
    chunking (reference likes/adds in chunks of 50,
    spotify_elt.py:922-979).  batch_fn receives a list of Rows."""

    def run(partition) -> None:
        batch: list = []
        for row in partition:
            batch.append(row)
            if len(batch) >= batch_size:
                batch_fn(batch)
                batch = []
        if batch:
            batch_fn(batch)

    df.foreachPartition(run)
