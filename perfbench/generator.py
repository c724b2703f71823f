"""Seeded MusicFlow-shaped source tables with planted ground truth.

``generate(seed, library_rows)`` builds the nine source tables the
pipeline reads — the six YouTube/user tables and the three catalog
tables the local search runs over — and, for every library row, the
catalog uri the matcher should find (``None`` when the video has no
planted match).  Pure Python with ``random.Random(seed)``: the same
seed gives the same tables on every machine.

Shape of the data (all shares are of distinct videos):

- the current user's playlists (plus the ``LM`` liked-music
  pseudo-playlist), each mapped to a Spotify playlist;
- ``MULTI_SHARE`` of videos sit in two or three different playlists
  (never twice in one playlist);
- ``ALBUM_SHARE`` of videos are album-length (>= the 12-minute
  threshold) and route to the album/playlist search;
- ``MATCHABLE_SHARE`` of videos have a planted catalog match whose
  title equals the video's cleaned title and whose duration is within
  the accept window;
- ``COMMON_WORD_SHARE`` of all titles (videos and catalog) start with
  the same word, which makes one key of the search's token join hot;
- ``OTHER_PLAYLISTS`` playlists of other users, one video each, are
  matched as whole albums or playlists by the second pass.

Constraints the reference check suite encodes, kept by construction:
no video twice in one playlist; every other user's playlist holds
exactly one video (the other-users branch of ``log_for_tableau`` is a
DISTINCT per playlist, so its row count equals the library's only
then); album and playlist children are disjoint, so durations and
track counts match their parents.

Titles are lower-case words plus one id token whose prefix says what
it is (``q`` planted track, ``n`` unmatched video, ``a`` album video,
``o`` other-user video, ``c`` catalog child, ``d`` distractor).  No
query title can contain another kind's id token, so a planted match
is the only exact-title hit and an unmatched video gets no candidate
that passes the search's containment score.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

from musicflow_spark.matching.cache import PAYLOAD_FIELDS
from musicflow_spark.schemas import SEARCH_TYPE_ROWS

YOUR_CHANNEL = "your_channel"
THRESHOLD_MS = 720_000
COMMON_WORD = "love"
#: other users' playlists, one video each
OTHER_PLAYLISTS = 24
#: shares of the current user's distinct videos: in 2-3 playlists,
#: album-length, with a planted catalog match, new since yesterday
MULTI_SHARE = 0.2
ALBUM_SHARE = 0.05
MATCHABLE_SHARE = 0.7
NEW_SHARE = 0.1
#: share of all titles (videos and catalog) starting with COMMON_WORD
COMMON_WORD_SHARE = 0.05
#: unmatchable catalog tracks per video
DISTRACTORS_PER_VIDEO = 1
ID_SPACE = 10_000_000

VIDEO_TYPES = (
    "MUSIC_VIDEO_TYPE_ATV",
    "MUSIC_VIDEO_TYPE_OMV",
    "MUSIC_VIDEO_TYPE_UGC",
    "MUSIC_VIDEO_TYPE_OFFICIAL_SOURCE_MUSIC",
)
#: bracketed decorations fix_title strips (its step 1)
DECORATIONS = (" (Official Video)", " [Official Audio]", " (Lyrics)", " [HD]")

#: column order of each table, as in musicflow_spark.schemas
COLUMNS: dict[str, tuple[str, ...]] = {
    "youtube_playlists": ("youtube_playlist_id", "type", "title", "author", "year"),
    "youtube_videos": ("video_id", "type", "title", "author", "description", "duration_ms"),
    "youtube_library": ("id", "youtube_playlist_id", "video_id"),
    "search_types": ("search_type_id", "search_type_name"),
    "spotify_playlists": ("spotify_playlist_id", "title"),
    "playlist_ids": ("id", "youtube_playlist_id", "spotify_playlist_id"),
    "spotify_tracks": (
        "track_uri", "album_uri", "playlist_uri", "track_title", "track_artists", "duration_ms",
    ),
    "spotify_albums": ("album_uri", "album_title", "album_artists", "duration_ms", "total_tracks"),
    "spotify_playlists_others": (
        "playlist_uri", "playlist_title", "playlist_owner", "duration_ms", "total_tracks",
    ),
}

#: the catalog the local search runs over (not pipeline inputs)
CATALOG_TABLES = ("spotify_tracks", "spotify_albums", "spotify_playlists_others")


@dataclass
class Dataset:
    """Generated tables (name -> list of row tuples in COLUMNS order),
    the planted truth, and what the matcher should record for it."""

    tables: dict[str, list[tuple]]
    #: library id -> planted catalog uri, or None when unmatchable
    truth: dict[int, str | None]
    #: cache key (video_id, or youtube_playlist_id for another user's
    #: playlist) -> the match row the engine records for it (the
    #: cache payload fields plus ``log_ids``), None when unmatched
    matches: dict[str, dict | None] = field(default_factory=dict)
    #: video ids new since yesterday's sync (incremental workload)
    new_videos: set[str] = field(default_factory=set)

    @property
    def library_rows(self) -> int:
        return len(self.tables["youtube_library"])

    def yesterday(self) -> "Dataset":
        """The same user one day earlier: library rows of the new
        videos removed, every other table unchanged."""
        tables = dict(self.tables)
        tables["youtube_library"] = [
            r for r in self.tables["youtube_library"] if r[2] not in self.new_videos
        ]
        kept = {r[0] for r in tables["youtube_library"]}
        truth = {k: v for k, v in self.truth.items() if k in kept}
        matches = {k: v for k, v in self.matches.items() if k not in self.new_videos}
        return Dataset(tables, truth, matches)

    # ------------------------------------------- expected engine output
    def _found(self) -> list[tuple[int, dict]]:
        """(library id, match row) for every library row the matcher
        should find, keyed like the engine: own videos by video_id,
        other users' playlists by playlist id."""
        owner = {p[0]: p[3] for p in self.tables["youtube_playlists"]}
        out = []
        for lid, pid, vid in self.tables["youtube_library"]:
            key = vid if owner[pid] in (YOUR_CHANNEL, None) else pid
            m = self.matches.get(key)
            if m is not None:
                out.append((lid, m))
        return out

    def expected_log(self) -> list[tuple]:
        """spotify_log rows the pipeline must write (SPOTIFY_LOG order).
        Planted uris are distinct per video and a video never repeats
        within a playlist, so every status is 'saved'."""
        rows = []
        for lid, m in self._found():
            kind, uri = m["kind"], m["spotify_uri"]
            rows.append((
                lid,
                uri if kind == "album" else None,
                uri if kind == "playlist" else None,
                uri if kind == "track" else None,
                m["found_on_try"], m["difference_ms"], m["track_match"], m["total_tracks"],
                m["q"], m["search_type_id"], "saved",
            ))
        return sorted(rows)

    def expected_entities(self) -> dict[str, list[tuple]]:
        """spotify_tracks / spotify_albums / spotify_playlists_others as
        the pipeline writes them for the found matches."""
        tracks: dict[str, tuple] = {}
        albums: dict[str, tuple] = {}
        playlists: dict[str, tuple] = {}
        for _, m in self._found():
            uri, kind = m["spotify_uri"], m["kind"]
            if kind == "track":
                tracks[uri] = (uri, m["album_uri"], None, m["item_title"],
                               m["item_artists_s"], m["item_duration_ms"])
                continue
            entity = (uri, m["item_title"], m["item_artists_s"], m["item_duration_ms"],
                      len(m["children"]))
            (albums if kind == "album" else playlists)[uri] = entity
            for c in m["children"]:
                if kind == "album":
                    tracks[c["track_uri"]] = (c["track_uri"], uri, None, c["track_title"],
                                              m["item_artists_s"], c["duration_ms"])
                else:
                    tracks[c["track_uri"]] = (c["track_uri"], c["album_uri"], uri,
                                              c["track_title"], c["track_artists"] or "",
                                              c["duration_ms"])
        return {
            "spotify_tracks": sorted(tracks.values()),
            "spotify_albums": sorted(albums.values()),
            "spotify_playlists_others": sorted(playlists.values()),
        }

    def expected_cache(self) -> list[tuple[str, str | None]]:
        """(key, payload JSON) rows of the match cache after a sync of
        this library: one per searched video or other-user playlist,
        null payload for a known miss."""
        owner = {p[0]: p[3] for p in self.tables["youtube_playlists"]}
        keys = {
            vid if owner[pid] in (YOUR_CHANNEL, None) else pid
            for _, pid, vid in self.tables["youtube_library"]
        }
        out = []
        for key in sorted(keys):
            m = self.matches.get(key)
            payload = None
            if m is not None:
                payload = json.dumps({f: m[f] for f in PAYLOAD_FIELDS if m[f] is not None})
            out.append((key, payload))
        return out


def _words(rng: random.Random, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "den", "mar", "tol", "pex"]
    out: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 3)))
        if w != COMMON_WORD:
            out.add(w)
    return sorted(out)


def generate(seed: int, library_rows: int) -> Dataset:
    rng = random.Random(seed)
    vocab = _words(rng, 1500)
    counter = iter(range(ID_SPACE))
    offset = rng.randrange(ID_SPACE)

    def title(kind: str) -> str:
        # a scattered, never-repeating 7-digit id: k -> k*m + c mod 10^7
        # with m coprime to 10^7 is a bijection
        tok = (next(counter) * 3_999_971 + offset) % ID_SPACE
        first = COMMON_WORD if rng.random() < COMMON_WORD_SHARE else rng.choice(vocab)
        return f"{first} {rng.choice(vocab)} {kind}{tok:07d}"

    def artist() -> str:
        return f"artist{rng.randrange(5000):04d}"

    tracks: list[tuple] = []
    albums: list[tuple] = []
    pl_others: list[tuple] = []
    matches: dict[str, dict | None] = {}

    def children(total_ms: int, n: int, artists: str, album_uri: str | None,
                 playlist_uri: str | None) -> list[tuple]:
        """n catalog tracks whose durations sum to exactly total_ms."""
        cuts = sorted(rng.sample(range(1, total_ms // 1000), n - 1))
        durs = [(b - a) * 1000 for a, b in zip([0, *cuts], [*cuts, total_ms // 1000])]
        durs[-1] += total_ms - sum(durs)
        rows = []
        for d in durs:
            t = title("c")
            tok = t.rsplit(" ", 1)[1]
            rows.append((f"spotify:track:{tok}", album_uri or f"spotify:album:p{tok}",
                         playlist_uri, t, artists, d))
        return rows

    def collection(kind: str, t: str, artists: str, video_ms: int, n_child: int,
                   desc: str, group_tracks: int | None) -> tuple[dict, list[tuple]]:
        """Plant an album or playlist titled t whose children sum to
        within the 40 s accept window of video_ms; returns the match row
        the engine records (first collection strategy, 'title (fixed)')
        and the children."""
        uri = f"spotify:{kind}:{t.rsplit(' ', 1)[1]}"
        kids = children(video_ms + rng.randint(-30_000, 30_000), n_child, artists,
                        uri if kind == "album" else None,
                        uri if kind == "playlist" else None)
        total = sum(k[5] for k in kids)
        (albums if kind == "album" else pl_others).append((uri, t, artists, total, n_child))
        tracks.extend(kids)
        lowered = desc.lower()
        return {
            "search_type_id": 2, "q": t, "spotify_uri": uri,
            "album_uri": uri if kind == "album" else None,
            "item_title": t, "item_artists_s": artists, "item_duration_ms": total,
            "difference_ms": abs(video_ms - total),
            # album pass: children named in the description; other
            # users' pass: children named in a video title (none here)
            "track_match": 0 if group_tracks else sum(k[3].lower() in lowered for k in kids),
            "total_tracks": group_tracks or n_child,
            "children": [
                {"track_uri": k[0], "track_title": k[3], "duration_ms": k[5],
                 "track_artists": k[4], "album_uri": k[1]}
                for k in sorted(kids)
            ],
            "found_on_try": 1, "kind": kind,
        }, kids

    # ---- the current user's playlists
    n_playlists = max(3, library_rows // 150)
    playlists = [("LM", "Playlist", "Liked Music", None, None)]
    playlist_ids = [(0, "LM", "LM")]
    spotify_playlists = [("LM", "Liked Music")]
    for i in range(1, n_playlists):
        pid = f"PL{i:05d}"
        ptitle = f"{rng.choice(vocab).title()} {rng.choice(vocab)} {i}"
        playlists.append((pid, rng.choice(("Playlist", "Album", "EP")), ptitle, YOUR_CHANNEL,
                          rng.choice((None, rng.randint(1990, 2024)))))
        playlist_ids.append((i, pid, f"sp{i:05d}"))
        spotify_playlists.append((f"sp{i:05d}", ptitle))
    own_ids = [p[0] for p in playlists]

    # ---- the current user's videos and their planted matches
    mean_copies = 1 + MULTI_SHARE * 1.5
    n_videos = max(1, round((library_rows - OTHER_PLAYLISTS) / mean_copies))
    videos: list[tuple] = []
    for i in range(n_videos):
        vid = f"v{i:07d}"
        vtype = rng.choice(VIDEO_TYPES)
        art = artist()
        author = f"{art} - Topic" if vtype == "MUSIC_VIDEO_TYPE_ATV" else art
        match = rng.random() < MATCHABLE_SHARE
        m = None
        if rng.random() < ALBUM_SHARE:
            n_child = rng.randint(8, 12)
            dur = rng.randint(n_child * 150, n_child * 330) * 1000 + rng.randrange(1000)
            t = title("a")
            desc = ""
            if match:
                m, kids = collection("album", t, art, dur, n_child, "", None)
                desc = "; ".join(k[3] for k in kids[: n_child // 2])
                m["track_match"] = n_child // 2
            videos.append((vid, vtype, t, author, desc, dur))
        else:
            dur = rng.randint(120, 420) * 1000 + rng.randrange(1000)
            t = title("q" if match else "n")
            decorated = rng.random() < 0.3
            if match:
                tok = t.rsplit(" ", 1)[1]
                uri = f"spotify:track:{tok}"
                artists = art + (f"; {artist()}" if rng.random() < 0.2 else "")
                cat_ms = dur + rng.randint(-4000, 4000)
                tracks.append((uri, f"spotify:album:s{tok}", None, t, artists, cat_ms))
                if rng.random() < 0.1:
                    # near miss: ranks below the planted exact title
                    tracks.append((f"spotify:track:r{tok}", f"spotify:album:r{tok}", None,
                                   f"{t} live", art, dur + 60_000))
                # fix_title drops the bracketed decoration but keeps the
                # space before it
                fixed = t + (" " if decorated else "")
                m = {
                    "search_type_id": 0, "q": f"track:{fixed} artist:{art}",
                    "spotify_uri": uri, "album_uri": f"spotify:album:s{tok}",
                    "item_title": t, "item_artists_s": artists, "item_duration_ms": cat_ms,
                    "difference_ms": abs(cat_ms - dur), "track_match": 1, "total_tracks": 1,
                    "children": None, "found_on_try": 1, "kind": "track",
                }
            shown = t + (rng.choice(DECORATIONS) if decorated else "")
            videos.append((vid, vtype, shown, author, "", dur))
        matches[vid] = m

    # ---- library rows: every video once, MULTI_SHARE of them in 2-3
    # distinct playlists
    entries: list[tuple[str, str]] = []
    for v in videos:
        copies = 1 + (rng.randint(1, 2) if rng.random() < MULTI_SHARE else 0)
        for pid in rng.sample(own_ids, min(copies, len(own_ids))):
            entries.append((pid, v[0]))
    rng.shuffle(entries)

    # ---- other users' playlists: one video each, matched as a whole
    for j in range(OTHER_PLAYLISTS):
        pid = f"OT{j:04d}"
        owner = f"curator{j:03d}"
        ptitle = title("g")
        playlists.append((pid, rng.choice(("Playlist", "Album", "EP")), ptitle, owner,
                          rng.choice((None, rng.randint(1990, 2024)))))
        vid = f"w{j:06d}"
        n_child = rng.randint(5, 10)
        dur = rng.randint(n_child * 150, n_child * 330) * 1000
        videos.append((vid, "MUSIC_VIDEO_TYPE_UGC", title("o"), artist(), "", dur))
        roll = rng.random()
        m = None
        if roll < 0.8:
            kind = "album" if roll < 0.4 else "playlist"
            m, _ = collection(kind, ptitle, owner, dur, n_child, "", 1)
        matches[pid] = m
        entries.insert(rng.randrange(len(entries) + 1), (pid, vid))

    library = [(i, pid, vid) for i, (pid, vid) in enumerate(entries)]
    key = {v[0]: v[0] for v in videos}
    key.update({vid: pid for pid, vid in entries if pid.startswith("OT")})
    truth = {
        i: (matches[key[vid]] or {}).get("spotify_uri") for i, _, vid in library
    }

    # ---- distractors: catalog tracks no video should match
    for _ in range(DISTRACTORS_PER_VIDEO * n_videos):
        t = title("d")
        tok = t.rsplit(" ", 1)[1]
        tracks.append((f"spotify:track:{tok}", f"spotify:album:{tok}", None, t, artist(),
                       rng.randint(120, 420) * 1000))
    rng.shuffle(tracks)

    own_video_ids = [v[0] for v in videos if v[0].startswith("v")]
    new_videos = set(rng.sample(own_video_ids, round(NEW_SHARE * len(own_video_ids))))

    return Dataset(
        tables={
            "youtube_playlists": playlists,
            "youtube_videos": videos,
            "youtube_library": library,
            "search_types": list(SEARCH_TYPE_ROWS),
            "spotify_playlists": spotify_playlists,
            "playlist_ids": playlist_ids,
            "spotify_tracks": tracks,
            "spotify_albums": albums,
            "spotify_playlists_others": pl_others,
        },
        truth=truth,
        matches=matches,
        new_videos=new_videos,
    )
