"""String expression chains — the heart of the matcher, as native
Catalyst expressions instead of per-row Python.

The reference implements these as Python ``re`` calls applied one row
at a time inside ``df.apply`` (reference:
dags/scripts/spotify_elt.py:160-211 ``fix_title``, :216-217 OST/Topic
handling, :274-281 containment checks). Here each step is an
``F.regexp_replace`` / ``F.when`` column expression, so the whole
chain runs JVM-side and scales linearly with executors — zero Python
in the hot path.  The ``fix_title`` chain runs outside whole-stage
codegen: its blank guard is a ``transform`` lambda, which Spark
evaluates interpreted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the 9 rewrite steps of ``fix_title`` (reference:
#: spotify_elt.py:160-211).  Each is (java_regex, replacement);
#: after every step the reference "undoes" the rewrite if the result
#: is blank — reproduced by :func:`_unless_blank`.
FIX_TITLE_STEPS: list[tuple[str, str]] = [
    # 1. brackets () [] 【】 and their content
    (r"(\((.*?)\)|\[(.*?)\]|【(.*?)】)", ""),
    # 2. dash-dividers " -...- " and content inside
    (r"( -)(.*?)(- )", " "),
    # 3. pipes
    (r"\|", ""),
    # 4. colons -> space
    (r":", " "),
    # 5. curly apostrophe -> straight
    ("‘", "'"),
    # 6. free dashes (not between word chars)
    (r"\B-\B", ""),
    # 7. the word OST -> space
    (r"\bOST\b", " "),
    # 8. years 19xx/20xx
    (r"\b(19|20)\d{2}\b", ""),
    # 9. 'Full Album', case-insensitive
    (r"(?i)Full Album", ""),
]


def _unless_blank(step: Column, original: Column) -> Column:
    """``step``, or ``original`` when ``step`` is blank, with ``step``
    referenced once.  The plain ``when(trim(step) == "", original)
    .otherwise(step)`` names ``step`` twice, so once Catalyst collapses
    the chain into one expression every step doubles the tree: 2^9
    ``regexp_replace``s per use of the result.  Binding ``step`` to a
    lambda variable keeps the tree linear in the number of steps; the
    lambda is evaluated interpreted, outside whole-stage codegen."""
    return F.element_at(
        F.transform(
            F.array(step), lambda s: F.when(F.trim(s) == "", original).otherwise(s)
        ),
        1,
    )


def fix_title(title: Column | str) -> Column:
    """Clean a video title for search, with per-step blank-undo.

    Exactly mirrors the reference's 9-step chain *including* the
    "if nothing left, undo the last step" guard after each step,
    where "undo" restores the ORIGINAL title (spotify_elt.py:166-210
    resets ``new_title = title``, not the previous step's value).
    Each step's regexp appears once in the expression.
    """
    original = F.col(title) if isinstance(title, str) else title
    cur = original
    for pattern, repl in FIX_TITLE_STEPS:
        cur = _unless_blank(F.regexp_replace(cur, pattern, repl), original)
    return cur


def with_fixed_title(df, title_col: str, out_col: str = "fixed_title"):
    """DataFrame-level :func:`fix_title`: adds ``out_col``."""
    return df.withColumn(out_col, fix_title(title_col))


def strip_topic_suffix(author: Column | str) -> Column:
    """Drop the YouTube auto-channel suffix `` - Topic``
    (reference: spotify_elt.py:217)."""
    c = F.col(author) if isinstance(author, str) else author
    return F.regexp_replace(c, " - Topic", "")


def is_ost(title: Column | str) -> Column:
    """Whole-word OST detector (reference: spotify_elt.py:216)."""
    c = F.col(title) if isinstance(title, str) else title
    return c.rlike(r"\bOST\b")


def url_host(url: Column | str) -> Column:
    """Canonical host of a URL: parsed HOST, lowercased, leading
    ``www.`` stripped.  parse_url runs JVM-side (no UDF)."""
    url = F.col(url) if isinstance(url, str) else url
    return F.regexp_replace(
        F.lower(F.parse_url(url, F.lit("HOST"))), r"^www\.", ""
    )


def canonical_url(url: Column | str) -> Column:
    """Canonical form for dedup/grouping: lowercase scheme + canonical
    host + path verbatim; query string and fragment dropped (the
    standard web-corpus URL key — tracking params and anchors never
    distinguish documents)."""
    url = F.col(url) if isinstance(url, str) else url
    return F.concat(
        F.lower(F.parse_url(url, F.lit("PROTOCOL"))),
        F.lit("://"),
        url_host(url),
        F.parse_url(url, F.lit("PATH")),
    )
