"""Document/text operator queries: the fix_title rewrite chain (F1-F3)
and the training-data text-analysis + dedup extensions over the
documents table.

The fix_title oracle is generated from the same step table the Spark
expression chain uses (functions/strings.py), as a CTE pipeline —
one CTE per rewrite step with the reference's blank-undo guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.functions.portable import pround
from musicflow_spark.functions.strings import FIX_TITLE_STEPS, is_ost, with_fixed_title
from musicflow_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    jaccard_pairs,
    minhash_dedup_incremental,
    cross_substring_spans,
    minhash_dedup_pairs,
    paragraph_dedup,
    prefix_filter_pairs,
    winnow_fingerprints,
    positional_shingle_table,
    shared_span_stats,
    simhash_near_pairs,
    span_scrub,
    suffix_span_scrub,
    with_shingles,
)
from musicflow_spark.operators.classify import logreg_oracle_sql, logreg_train_gd
from musicflow_spark.operators.textstats import (
    LANG_MARKERS,
    STOPWORDS,
    bpe_oracle_sql,
    bpe_train_merges,
    lang_id,
    lang_scores,
    quality_features,
    tokens,
    unigram_oracle_sql,
)
from musicflow_spark.queries.registry import Query
from musicflow_spark.sources.catalog import read_table

# ------------------------------------------------------------ fix_title
# synthetic "video titles" built from part columns — identical
# expression on both engines — exercising every rewrite step:
# brackets, dash-dividers, pipes, colons, curly apostrophes, OST,
# years, 'Full Album' (case-insensitive)


def _title_expr_spark() -> F.Column:
    year = (F.lit(1980) + F.col("p_partkey") % 45).cast("string")
    return F.concat(
        F.col("p_name"),
        F.lit(" ["),
        F.col("p_brand"),
        F.lit("] -"),
        F.col("p_type"),
        F.lit("- "),
        year,
        F.when(F.col("p_partkey") % 3 == 0, F.lit(" | full album")).otherwise(F.lit("")),
        F.when(F.col("p_partkey") % 7 == 0, F.lit(" OST")).otherwise(F.lit("")),
        F.when(F.col("p_partkey") % 5 == 0, F.lit(" ‘best‘")).otherwise(F.lit("")),
        F.when(F.col("p_partkey") % 4 == 0, F.lit(": Live")).otherwise(F.lit("")),
    )


_TITLE_EXPR_SQL = """p_name || ' [' || p_brand || '] -' || p_type || '- '
    || cast(1980 + p_partkey % 45 AS varchar)
    || CASE WHEN p_partkey % 3 = 0 THEN ' | full album' ELSE '' END
    || CASE WHEN p_partkey % 7 = 0 THEN ' OST' ELSE '' END
    || CASE WHEN p_partkey % 5 = 0 THEN ' ‘best‘' ELSE '' END
    || CASE WHEN p_partkey % 4 = 0 THEN ': Live' ELSE '' END"""


def _fix_title_oracle_sql() -> str:
    """Generate the DuckDB CTE chain from FIX_TITLE_STEPS — one CTE
    per step, each applying regexp_replace(..., 'g') with the
    blank-undo guard (undo restores the ORIGINAL title, matching the
    reference's fix_title, spotify_elt.py:160-211)."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    ctes = [
        f"titled AS (SELECT p_partkey, {_TITLE_EXPR_SQL} AS title FROM part)",
        "s0 AS (SELECT p_partkey, title, title AS t0 FROM titled)",
    ]
    for i, (pat, rep) in enumerate(FIX_TITLE_STEPS, start=1):
        prev, cur = f"t{i - 1}", f"t{i}"
        rr = f"regexp_replace({prev}, '{q(pat)}', '{q(rep)}', 'g')"
        ctes.append(
            f"s{i} AS (SELECT * EXCLUDE ({prev}), "
            f"CASE WHEN trim({rr}) = '' THEN title ELSE {rr} END AS {cur} "
            f"FROM s{i - 1})"
        )
    last = f"t{len(FIX_TITLE_STEPS)}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT p_partkey, title, {last} AS fixed_title,
       regexp_matches(title, '\\bOST\\b') AS title_is_ost
FROM s{len(FIX_TITLE_STEPS)}
"""
    )


def fix_title_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F3: the reference's 9-step title-rewrite chain with per-step
    blank-undo (spotify_elt.py:160-211) as a native regexp_replace /
    when expression chain — zero UDFs.  The chain runs outside
    whole-stage codegen: each blank guard is a ``transform`` lambda."""
    part = read_table(spark, sf_dir, "part")
    titled = part.select("p_partkey", _title_expr_spark().alias("title"))
    return with_fixed_title(titled, "title").select(
        "p_partkey",
        "title",
        "fixed_title",
        is_ost("title").alias("title_is_ost"),
    )


# ------------------------------------------------------------ token stats
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (ext: text analysis): whitespace tokenization via
    native split + higher-order functions; single map stage."""
    docs = quality_features(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "n_tokens",
        "n_uniq_tokens",
        pround(F.col("avg_token_len"), 4).alias("avg_token_len"),
        F.length("text").alias("n_chars_measured"),
    )


DOC_TOKEN_STATS_SQL = r"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents)
SELECT doc_id,
       len(t)                 AS n_tokens,
       len(list_distinct(t))  AS n_uniq_tokens,
       round(CASE WHEN len(t) = 0 THEN 0.0
             ELSE list_sum(list_transform(t, x -> length(x))) / cast(len(t) AS double)
             END * 10000.0) / 10000.0 AS avg_token_len,
       length(text)           AS n_chars_measured
FROM toks
"""


# --------------------------------------------------------- quality score
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (ext): stopword / punctuation / uniqueness
    ratios — the standard pre-training text-filter features."""
    docs = quality_features(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "n_tokens",
        pround(F.col("stopword_frac"), 4).alias("stopword_frac"),
        pround(F.col("punct_frac"), 4).alias("punct_frac"),
        pround(F.col("uniq_frac"), 4).alias("uniq_frac"),
    )


_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

DOC_QUALITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents)
SELECT doc_id,
       len(t) AS n_tokens,
       round(CASE WHEN len(t) = 0 THEN 0.0
             ELSE len(list_filter(t, x -> list_contains([{_SW}], x))) / cast(len(t) AS double)
             END * 10000.0) / 10000.0 AS stopword_frac,
       round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{{}}-]', '', 'g')))
                  / cast(length(text) AS double)
             END * 10000.0) / 10000.0 AS punct_frac,
       round(CASE WHEN len(t) = 0 THEN 0.0
             ELSE len(list_distinct(t)) / cast(len(t) AS double)
             END * 10000.0) / 10000.0 AS uniq_frac
FROM toks
"""


# ------------------------------------------------------------- lang id
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (ext): marker-word hit counts per
    language, argmax with deterministic tie-break."""
    docs = read_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    cols = [F.col("doc_id"), F.col("lang").alias("labeled_lang")]
    cols += [scores[lang].alias(f"s_{lang}") for lang in sorted(scores)]
    cols.append(lang_id("text").alias("pred_lang"))
    return docs.select(*cols)


def _lang_id_oracle_sql() -> str:
    marker_exprs = []
    for lang in sorted(LANG_MARKERS):
        mk = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        marker_exprs.append(
            f"len(list_filter(t, x -> list_contains([{mk}], x))) AS s_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    g = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + g + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {g} THEN '{lang}' "
    case += "END"
    return rf"""
WITH toks AS (
  SELECT doc_id, lang,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
scores AS (SELECT doc_id, lang AS labeled_lang, {", ".join(marker_exprs)} FROM toks)
SELECT doc_id, labeled_lang, {", ".join("s_" + lang for lang in langs)},
       {case} AS pred_lang
FROM scores
"""


# -------------------------------------------------------- exact dedup
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (ext): md5 fingerprint of normalized text, keep
    lowest doc_id per group (deterministic keep-first)."""
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "fp", "dup_count")


DOC_EXACT_DEDUP_SQL = """
SELECT doc_id, fp, dup_count FROM (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
         row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                            ORDER BY doc_id) AS rn,
         count(*)    OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS dup_count
  FROM documents) WHERE rn = 1
"""


# --------------------------------------------- AllPairs prefix filtering
def doc_allpairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT Jaccard join at t = 1/2 (ext:
    operators/dedup.py::prefix_filter_pairs — AllPairs/PPJoin df-
    ordered prefixes, rational-threshold integer bounds).  The oracle
    is the UNPRUNED quadratic inverted-index join, so a hash-green
    row certifies prefix-filter completeness on this corpus — the
    guarantee the max_df-capped tier (doc_jaccard_pairs) explicitly
    gives up."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = prefix_filter_pairs(docs, n=3, t_num=1, t_den=2)
    return pairs.select(
        "doc_a", "doc_b", "inter_cnt", pround(F.col("jaccard"), 6).alias("jaccard")
    )


DOC_ALLPAIRS_EXACT_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                      i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks),
sets AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
inv AS (SELECT doc_id, n_sh, unnest(s) AS shingle FROM sets),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter_cnt
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, CAST(inter_cnt AS BIGINT) AS inter_cnt,
       round(inter_cnt / CAST(n_a + n_b - inter_cnt AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE inter_cnt * 3 >= n_a + n_b
"""


# ------------------------------------------------- paragraph dedup (C4)
def doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup (ext), generalised to a fixed
    8-word segmenter since this corpus has no newlines: every
    duplicated segment survives only at its first (doc_id, position)
    occurrence; docs are reassembled from their kept segments.

    The first-occurrence pass is a min(struct) groupBy (map-side
    combinable) + equi-join back on the segment — no global window.
    Reference scope: the reference dedups whole rows (dbt
    ``distinct`` staging models, e.g. models/staging/*.sql); segment-
    level dedup is the training-pipeline extension of the same A7
    keep-first contract."""
    docs = read_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, seg_words=8)


DOC_PARAGRAPH_DEDUP_SQL = """
WITH base AS (
  SELECT doc_id, str_split(text, ' ') AS words FROM documents),
segs AS (
  SELECT doc_id, i AS seg_id,
         array_to_string(list_slice(words, i*8 + 1, (i+1)*8), ' ') AS seg
  FROM base, unnest(range(0, CAST(ceil(len(words)/8.0) AS BIGINT))) AS t(i)),
ranked AS (
  SELECT doc_id, seg_id, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_id) AS rn
  FROM segs)
SELECT doc_id,
       count(*) AS n_segs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_id), '')
         AS kept_text
FROM ranked
GROUP BY doc_id
"""


# ------------------------------------------------------ n-gram jaccard
def doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (ext): 3-token shingles with the
    max_df=20 discriminative-shingle filter (bounds the inverted-index
    join at scale), exact overlap ratio over kept shingles."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.2, max_df=20)
    return pairs.select(
        "doc_a", "doc_b", "inter_cnt", pround(F.col("jaccard"), 6).alias("jaccard")
    )


DOC_JACCARD_PAIRS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                      i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks),
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
inv1 AS (SELECT *, count(*) OVER (PARTITION BY shingle) AS sh_df FROM inv0),
inv AS (SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM inv1 WHERE sh_df <= 20)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS inter_cnt,
       round(count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) * 1000000.0) / 1000000.0 AS jaccard
FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
HAVING count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) >= 0.2
"""


# ------------------------------------------- sketch-based dedup
def doc_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (ext): 64-perm signature, banded
    bucket equi-join candidates, exact-Jaccard verification over the
    same max_df-filtered shingle sets.

    Oracle: the exact jaccard_pairs SQL at the same threshold.  The
    verify stage makes every emitted pair exactly correct
    (soundness); equality with the exact result additionally asserts
    100% LSH recall on this corpus — an honest bar here because the
    corpus pair distribution is strongly bimodal (every qualifying
    pair has jaccard >= 0.8, the next pair down is <= 0.14, measured
    at sf 0.001/0.01/0.1) and 16 bands x 2 rows gives
    P(miss | j=0.8) = (1 - 0.64)^16 ~ 3e-8 (1e-12 at the sf0.01
    check's j >= 0.9).  k = bands x rows exactly: with exact
    verification downstream, signature length beyond what banding
    consumes is pure hashing waste.  n_bands_hit is sketch
    bookkeeping the oracle cannot see -> dropped from the projection.
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, k=32, bands=16, threshold=0.2, max_df=20)
    return pairs.select(
        "doc_a", "doc_b", "inter_cnt", pround(F.col("jaccard"), 6).alias("jaccard")
    )


WINNOW_W = 8


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (ext): the MOSS selection over 3-gram
    portable hashes with window w=8
    (operators/dedup.py::winnow_fingerprints) — ~2/(w+1) of the
    shingle rows with a hard guarantee that any shared token run of
    w+n-1 = 10 surfaces a shared fingerprint.  The oracle replays
    hash, windowing, struct-min tie-break, and partial-window rule
    exactly (all-integer path)."""
    docs = read_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, n=3, w=WINNOW_W)


DOC_WINNOW_FINGERPRINTS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
pg0 AS (
  SELECT doc_id, unnest(range(1, greatest(len(t) - 1, 1))) AS i, t
  FROM toks),
pgrams AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT AS h
  FROM pg0),
counted AS (
  SELECT doc_id, pos, h, count(*) OVER (PARTITION BY doc_id) AS m
  FROM pgrams),
sel AS (
  SELECT doc_id, m, pos,
         min(struct_pack(h := h, pos := pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS s
  FROM counted)
SELECT DISTINCT doc_id,
       CAST(s.pos AS BIGINT) AS fp_pos,
       s.h AS fp_hash
FROM sel
WHERE pos <= greatest(m - {WINNOW_W}, 0)
"""


WINNOW_MIN_SHARED = 2


def doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-join near-dup pairs (ext): the winnowing tier of
    the dedup ladder — bucket-join documents on shared fingerprints
    and keep pairs sharing >= 2.  Complements the other tiers with a
    different guarantee: MinHash recall is probabilistic in the
    Jaccard, the fingerprint join is DETERMINISTIC in shared-run
    length (two docs sharing two runs of w+n-1 tokens ALWAYS pair),
    at ~2/(w+1) of the inverted-index rows the exact Jaccard tier
    scans.  Scale shape identical to the shingle bucket join —
    fingerprint equi-join, no pairwise stage — with the index ~4.5x
    smaller for w=8, and the same df<=20 hot-bucket cap the shingle
    tiers use (a viral paragraph selected into millions of docs'
    fingerprints must not become a quadratic bucket)."""
    docs = read_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, n=3, w=WINNOW_W).select("doc_id", "fp_hash").distinct()
    fps = fps.withColumn(
        "fp_df", F.count(F.lit(1)).over(Window.partitionBy("fp_hash"))
    ).filter(F.col("fp_df") <= 20)
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("fp_hash").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )


DOC_WINNOW_PAIRS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
pg0 AS (
  SELECT doc_id, unnest(range(1, greatest(len(t) - 1, 1))) AS i, t
  FROM toks),
pgrams AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15))::BIGINT AS h
  FROM pg0),
counted AS (
  SELECT doc_id, pos, h, count(*) OVER (PARTITION BY doc_id) AS m
  FROM pgrams),
sel AS (
  SELECT doc_id, m, pos,
         min(struct_pack(h := h, pos := pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS s
  FROM counted),
fps0 AS (
  SELECT DISTINCT doc_id, s.h AS fp_hash
  FROM sel
  WHERE pos <= greatest(m - {WINNOW_W}, 0)),
fps AS (
  SELECT doc_id, fp_hash
  FROM (SELECT *, count(*) OVER (PARTITION BY fp_hash) AS fp_df FROM fps0)
  WHERE fp_df <= 20)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(DISTINCT a.fp_hash) AS n_shared_fps
FROM fps a JOIN fps b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(DISTINCT a.fp_hash) >= {WINNOW_MIN_SHARED}
"""


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental delta-vs-corpus dedup (ext): the daily-ingest
    shape — near-dup pairs touching the new batch (here every 5th
    doc_id stands in for "today's ingest"), found WITHOUT the
    base×base pairing a full re-run pays
    (operators/dedup.py::minhash_dedup_incremental; same
    k=32/bands=16/threshold/max_df envelope as ``doc_minhash_dedup``).

    Oracle: the exact-Jaccard pair SQL restricted to pairs with a
    delta member, oriented delta-first — stating the operator's
    contract (restriction of the full-corpus result) directly in
    ANSI SQL.

    Recall caveat, restated from ``doc_minhash_dedup`` because the
    hash match depends on it: the oracle is EXACT Jaccard, so
    equality holds only where LSH recall is 100%.  In general k=32
    with 2 rows/band gives ~48% recall at j=0.2; on this corpus the
    Jaccard distribution is bimodal (true near-dups sit far above
    the banding knee, everything else far below), which is what
    makes the sketch tier lossless here — verified green at
    sf0.001/0.01/0.1.  On a corpus with mass near the threshold the
    sketch tier would (by design) trade that recall for the banded
    join's scalability."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_incremental(
        docs,
        (F.col("doc_id") % 5) == 0,
        k=32,
        bands=16,
        threshold=0.2,
        max_df=20,
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "inter_cnt",
        pround(F.col("jaccard"), 6).alias("jaccard"),
        "partner_in_delta",
    )


DOC_INCREMENTAL_DEDUP_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                      i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks),
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
inv1 AS (SELECT *, count(*) OVER (PARTITION BY shingle) AS sh_df FROM inv0),
inv AS (SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM inv1 WHERE sh_df <= 20),
pairs AS (
  SELECT a.doc_id AS x, b.doc_id AS y,
         count(*) AS inter_cnt,
         round(count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) * 1000000.0) / 1000000.0 AS jaccard
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
  HAVING count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) >= 0.2)
SELECT CASE WHEN x % 5 = 0 THEN x ELSE y END AS doc_a,
       CASE WHEN x % 5 = 0 THEN y ELSE x END AS doc_b,
       inter_cnt,
       jaccard,
       (x % 5 = 0 AND y % 5 = 0) AS partner_in_delta
FROM pairs
WHERE x % 5 = 0 OR y % 5 = 0
"""


CLEAN_MIN_TOKENS = 20
CLEAN_MIN_UNIQ = 0.3


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data cleaning pipeline as ONE query
    (ext): language filter (predicted 'en') -> quality gates
    (n_tokens, uniq_frac) -> exact dedup (lowest id per fingerprint)
    -> near-dup clustering (jaccard pairs within the survivor set ->
    connected components -> one keeper per cluster).  Returns the
    surviving documents with their dedup provenance.

    Every stage is an operator verified on its own elsewhere; this
    query verifies the COMPOSITION — filters narrowing the dedup
    universe, df-counts computed over the filtered subset, the
    clustering keep-rule applied after the exact tier — which is
    where production pipelines actually break."""
    docs = read_table(spark, sf_dir, "documents")
    feats = quality_features(docs)
    passed = feats.withColumn("pred_lang", lang_id("text")).filter(
        (F.col("pred_lang") == "en")
        & (F.col("n_tokens") >= CLEAN_MIN_TOKENS)
        & (F.col("uniq_frac") >= CLEAN_MIN_UNIQ)
    )
    ex = exact_dedup(passed)
    pairs = jaccard_pairs(ex, threshold=0.2, max_df=20)
    clusters = dedup_clusters(ex.select("doc_id"), pairs)
    return (
        ex.join(clusters.filter(F.col("keep")), "doc_id")
        .select("doc_id", "n_tokens", "dup_count", "cluster_id")
    )


def _corpus_clean_oracle_sql() -> str:
    langs = sorted(LANG_MARKERS)
    marker_exprs = ", ".join(
        f"len(list_filter(tl, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        + f"], x))) AS s_{lang}"
        for lang in langs
    )
    g = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + g + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {g} THEN '{lang}' "
    case += "END"
    return rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS tl
  FROM documents),
feats AS (
  SELECT doc_id, text, tl, len(t) AS n_tokens,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE len(list_distinct(t)) / cast(len(t) AS double) END AS uniq_frac,
         {marker_exprs}
  FROM toks),
passed AS (
  SELECT doc_id, text, tl, n_tokens FROM feats
  WHERE {case} = 'en' AND n_tokens >= {CLEAN_MIN_TOKENS} AND uniq_frac >= {CLEAN_MIN_UNIQ}),
ex0 AS (
  SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM passed),
ex AS (
  SELECT doc_id, tl, n_tokens, dup_count FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
           count(*) OVER (PARTITION BY fp) AS dup_count
    FROM ex0) WHERE rn = 1),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(tl) - 1, 1)),
                                      i -> array_to_string(tl[i:i+2], ' '))) AS s
  FROM ex),
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
inv1 AS (SELECT *, count(*) OVER (PARTITION BY shingle) AS sh_df FROM inv0),
inv AS (SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM inv1 WHERE sh_df <= 20),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
  HAVING count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) >= 0.2),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM ex
  UNION
  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
clusters AS (
  SELECT id AS doc_id, min(r) AS cluster_id, min(r) = id AS keep
  FROM reach GROUP BY id)
SELECT e.doc_id, e.n_tokens, e.dup_count, c.cluster_id
FROM ex e JOIN clusters c ON e.doc_id = c.doc_id
WHERE c.keep
"""


DOC_KNN_K = 5
DOC_KNN_QUERIES = 8


def doc_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-ANN composite (ext): documents -> feature-hash
    embeddings -> exact cosine top-k among documents.  Exercises the
    full text->vector->similarity bridge as one query; the oracle
    recomputes the identical embedding (portable hash) and the same
    rerank.  Zero-vector docs never rank (cosine undefined -> null ->
    filtered), identically on both engines."""
    from musicflow_spark.operators.similarity import (
        brute_force_topk,
        feature_hash_embedding,
    )

    docs = read_table(spark, sf_dir, "documents")
    emb = feature_hash_embedding(docs, dim=EMBED_DIM).withColumnRenamed(
        "doc_id", "vec_id"
    )
    nonzero = emb.filter(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x) > 0
    ).localCheckpoint(eager=True)
    queries = nonzero.filter(F.col("vec_id") < DOC_KNN_QUERIES)
    topk = brute_force_topk(nonzero, queries, k=DOC_KNN_K)
    return topk.select(
        F.col("query_id").alias("doc_id"),
        F.col("neighbor_id").alias("neighbor_doc"),
        pround(F.col("cos_sim"), 6).alias("cos_sim"),
        "rank",
    )


def _doc_text_knn_oracle_sql() -> str:
    sign_bit = EMBED_DIM.bit_length() - 1
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
cells AS (
  SELECT doc_id, h % {EMBED_DIM} AS dim,
         CASE WHEN ((h >> {sign_bit}) & 1) = 1 THEN 1.0 ELSE -1.0 END AS s
  FROM h),
agg AS (SELECT doc_id, dim, sum(s) AS v FROM cells GROUP BY doc_id, dim),
grid AS (
  SELECT d.doc_id, g.dim
  FROM documents d CROSS JOIN (SELECT unnest(range({EMBED_DIM})) AS dim) g),
filled AS (
  SELECT grid.doc_id, grid.dim, coalesce(agg.v, 0.0) AS v
  FROM grid LEFT JOIN agg ON agg.doc_id = grid.doc_id AND agg.dim = grid.dim),
emb AS (SELECT doc_id, list(v ORDER BY dim) AS e FROM filled GROUP BY doc_id),
nz AS (
  SELECT * FROM emb
  WHERE list_sum(list_transform(e, x -> x * x)) > 0),
scored AS (
  SELECT q.doc_id AS doc_id, c.doc_id AS neighbor_doc,
         list_sum(list_transform(range(1, {EMBED_DIM} + 1), i -> q.e[i] * c.e[i]))
         / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
            * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos_sim
  FROM nz c CROSS JOIN (SELECT * FROM nz WHERE doc_id < {DOC_KNN_QUERIES}) q
  WHERE c.doc_id <> q.doc_id)
SELECT doc_id, neighbor_doc,
       round(cos_sim * 1000000.0) / 1000000.0 AS cos_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cos_sim DESC, neighbor_doc) AS rank
      FROM scored)
WHERE rank <= {DOC_KNN_K}
"""


NEG_MAX, NEG_K = 0.5, 5


def doc_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (ext: training-pair
    construction): for each query document, the top-5 MOST similar
    documents whose similarity stays BELOW the near-duplicate cutoff
    (0.5) — similar enough to be hard, distinct enough to be true
    negatives.  Same text -> feature-hash embedding -> cosine bridge
    as doc_text_knn; both the sub-threshold filter and the ranking run
    on the 6-dp-rounded similarity so a cross-engine ulp cannot flip a
    boundary pair.  Scale shape: bounded query set broadcast, linear
    corpus scan, per-query top-k window."""
    from pyspark.sql import Window

    from musicflow_spark.operators.similarity import (
        cosine,
        feature_hash_embedding,
    )

    docs = read_table(spark, sf_dir, "documents")
    emb = feature_hash_embedding(docs, dim=EMBED_DIM).withColumnRenamed(
        "doc_id", "vec_id"
    )
    nonzero = emb.filter(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x) > 0
    ).localCheckpoint(eager=True)
    queries = nonzero.filter(F.col("vec_id") < DOC_KNN_QUERIES).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        nonzero.select(
            F.col("vec_id").alias("neg_doc"), F.col("embedding").alias("c_vec")
        )
        .crossJoin(F.broadcast(queries))
        .filter(F.col("neg_doc") != F.col("doc_id"))
        .select(
            "doc_id",
            "neg_doc",
            pround(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") < NEG_MAX)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cos_sim"), F.asc("neg_doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEG_K)
        .select("doc_id", "neg_doc", "cos_sim", "rank")
    )


def _doc_hard_negatives_oracle_sql() -> str:
    sign_bit = EMBED_DIM.bit_length() - 1
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
cells AS (
  SELECT doc_id, h % {EMBED_DIM} AS dim,
         CASE WHEN ((h >> {sign_bit}) & 1) = 1 THEN 1.0 ELSE -1.0 END AS s
  FROM h),
agg AS (SELECT doc_id, dim, sum(s) AS v FROM cells GROUP BY doc_id, dim),
grid AS (
  SELECT d.doc_id, g.dim
  FROM documents d CROSS JOIN (SELECT unnest(range({EMBED_DIM})) AS dim) g),
filled AS (
  SELECT grid.doc_id, grid.dim, coalesce(agg.v, 0.0) AS v
  FROM grid LEFT JOIN agg ON agg.doc_id = grid.doc_id AND agg.dim = grid.dim),
emb AS (SELECT doc_id, list(v ORDER BY dim) AS e FROM filled GROUP BY doc_id),
nz AS (
  SELECT * FROM emb
  WHERE list_sum(list_transform(e, x -> x * x)) > 0),
scored AS (
  SELECT q.doc_id AS doc_id, c.doc_id AS neg_doc,
         round(list_sum(list_transform(range(1, {EMBED_DIM} + 1), i -> q.e[i] * c.e[i]))
         / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
            * sqrt(list_sum(list_transform(c.e, x -> x * x)))) * 1000000.0) / 1000000.0 AS cos_sim
  FROM nz c CROSS JOIN (SELECT * FROM nz WHERE doc_id < {DOC_KNN_QUERIES}) q
  WHERE c.doc_id <> q.doc_id)
SELECT doc_id, neg_doc, cos_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cos_sim DESC, neg_doc) AS rank
      FROM scored WHERE cos_sim < {NEG_MAX})
WHERE rank <= {NEG_K}
"""


def doc_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling (ext): per-language document-length
    distribution — count, mean, and exact interpolated quartiles/p95.
    The standard first look at a training corpus (length filters are
    set off these numbers).  Uses Spark's exact ``percentile`` (not
    the approx sketch) so DuckDB's ``quantile_cont`` — the same
    linear-interpolation definition — can hash-check it; at corpus
    scale swap in ``percentile_approx`` (documented, sketch-based,
    not oracle-exact)."""
    docs = read_table(spark, sf_dir, "documents")
    cents = F.expr(
        "percentile(length(text), array(0.25, 0.5, 0.75, 0.95))"
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.length("text")) / F.count(F.lit(1))).alias("mean_chars"),
            cents.alias("__p__"),
        )
        .select(
            "lang",
            "n_docs",
            pround(F.col("mean_chars"), 4).alias("mean_chars"),
            pround(F.element_at("__p__", 1), 4).alias("p25"),
            pround(F.element_at("__p__", 2), 4).alias("p50"),
            pround(F.element_at("__p__", 3), 4).alias("p75"),
            pround(F.element_at("__p__", 4), 4).alias("p95"),
        )
    )


DOC_LENGTH_PROFILE_SQL = """
SELECT lang,
       count(*) AS n_docs,
       round(sum(length(text)) / cast(count(*) AS double) * 10000.0) / 10000.0 AS mean_chars,
       round(quantile_cont(length(text), 0.25) * 10000.0) / 10000.0 AS p25,
       round(quantile_cont(length(text), 0.50) * 10000.0) / 10000.0 AS p50,
       round(quantile_cont(length(text), 0.75) * 10000.0) / 10000.0 AS p75,
       round(quantile_cont(length(text), 0.95) * 10000.0) / 10000.0 AS p95
FROM documents
GROUP BY lang
"""


EMBED_DIM = 64


def doc_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embedding (ext): the hashing-trick bag-of-words
    projection from the documents table — the text->vector bridge
    into the ANN/near-dup operators, computed as a map-only fold (no
    shuffle).  Emitted long-form (doc_id, dim, v) so the oracle
    compares scalar cells; values are signed token counts (exact in
    doubles).  Portable md5 hash -> the oracle replicates the whole
    projection bit-for-bit."""
    from musicflow_spark.operators.similarity import feature_hash_embedding

    docs = read_table(spark, sf_dir, "documents")
    emb = feature_hash_embedding(docs, dim=EMBED_DIM)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "v")
    ).select("doc_id", F.col("dim").cast("long").alias("dim"), "v")


DOC_HASH_EMBEDDING_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
cells AS (
  SELECT doc_id, h % {EMBED_DIM} AS dim,
         CASE WHEN ((h >> {EMBED_DIM.bit_length() - 1}) & 1) = 1 THEN 1.0 ELSE -1.0 END AS s
  FROM h),
agg AS (SELECT doc_id, dim, sum(s) AS v FROM cells GROUP BY doc_id, dim)
SELECT d.doc_id, g.dim, CAST(coalesce(agg.v, 0.0) AS DOUBLE) AS v
FROM documents d
CROSS JOIN (SELECT unnest(range({EMBED_DIM})) AS dim) g
LEFT JOIN agg ON agg.doc_id = d.doc_id AND agg.dim = g.dim
"""


def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering (ext): connected components over the exact
    jaccard near-dup pairs — transitive closure via iterative
    min-label propagation, one keeper per cluster.  The oracle
    recomputes the same closure with a recursive CTE, so the
    ITERATIVE DataFrame algorithm is hash-checked against a
    declarative fixpoint — singletons included (their own cluster)."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.2, max_df=20)
    return dedup_clusters(docs.select("doc_id"), pairs)


DOC_DEDUP_CLUSTERS_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                      i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks),
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
inv1 AS (SELECT *, count(*) OVER (PARTITION BY shingle) AS sh_df FROM inv0),
inv AS (SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM inv1 WHERE sh_df <= 20),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
  HAVING count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) >= 0.2),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)
SELECT id AS doc_id, min(r) AS cluster_id, min(r) = id AS keep
FROM reach
GROUP BY id
"""


def doc_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering via large-star/small-star contraction (ext:
    operators/graph.py::star_components — the O(log² n)-round MapReduce
    connected-components algorithm, vs min-label propagation's
    O(diameter)).  Same edges (exact jaccard near-dup pairs), same
    output contract, same recursive-CTE oracle as doc_dedup_clusters —
    a green row proves the star-contraction algebra equals the
    declarative transitive closure; the two Spark implementations are
    additionally cross-checked in tests on path-shaped graphs where
    their round counts diverge."""
    from musicflow_spark.operators.graph import star_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.2, max_df=20)
    return star_components(docs.select("doc_id"), pairs)


def doc_canonical_selection(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Canonical-document selection (ext): after dedup clustering,
    keep the LONGEST member of each near-dup cluster (doc_id
    tiebreak) — the standard "which copy survives" policy when
    near-dups differ in truncation, distinct from dedup_clusters'
    min-id keeper.  One keyed window over the cluster assignment;
    cluster sizes are near-dup group sizes (tiny), so the window
    never sees skew.  Composes jaccard_pairs -> dedup_clusters ->
    quality-ranked keep flag.

    ``pairs``: a pre-built ``jaccard_pairs(docs, threshold=0.2,
    max_df=20)`` frame to reuse — compositions that need the SAME
    candidate pairs twice (corpus_training_batch_mart runs this
    selection AND the split-contamination probe, which is built on an
    identical jaccard call) pass one shared frame so the shingle pass
    and the inverted-index join run once, not per consumer."""
    docs = read_table(spark, sf_dir, "documents")
    if pairs is None:
        # ``toks``: a shared tokenized_docs frame — the shingle pass
        # hashes the already-tokenized arrays instead of re-tokenizing
        # the corpus (guide §2.4; values identical, see
        # with_hashed_shingles)
        pairs = jaccard_pairs(docs, threshold=0.2, max_df=20, toks=toks)
    clusters = dedup_clusters(docs.select("doc_id"), pairs).select(
        "doc_id", "cluster_id"
    )
    scored = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    wc = Window.partitionBy("cluster_id")
    return scored.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("is_canonical"),
        F.count(F.lit(1)).over(wc).alias("n_members"),
    )


def _doc_canonical_selection_oracle_sql() -> str:
    clusters = DOC_DEDUP_CLUSTERS_SQL.strip().rstrip()
    return f"""
SELECT c.doc_id, c.cluster_id,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY d.n_chars DESC, c.doc_id) = 1 AS is_canonical,
       CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members
FROM ({clusters}) c JOIN documents d ON c.doc_id = d.doc_id
"""


SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_MAX_HAMMING = 20


def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (ext): 60-bit weighted fingerprint over
    the md5-based portable token hash, 15-bit chunk banding, exact
    hamming verification.  The portable hash makes the WHOLE pipeline
    integer-exact on both engines, so the oracle replicates it end to
    end (fingerprints, banding, hamming) — a full hash-match check,
    not rows-only.  The production default stays xxhash64/64-bit
    (operators/dedup.py::simhash_near_pairs(portable=False))."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(
        docs,
        max_hamming=SIMHASH_MAX_HAMMING,
        n_bits=SIMHASH_BITS,
        n_chunks=SIMHASH_CHUNKS,
        portable=True,
    )
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_oracle_sql() -> str:
    """DuckDB replica of the portable simhash pipeline: same md5-based
    60-bit token hash, same per-bit votes, same chunk banding, same
    exact-hamming verify — integer arithmetic only, so bit-exact."""
    n_bits, n_chunks = SIMHASH_BITS, SIMHASH_CHUNKS
    chunk_bits = n_bits // n_chunks
    mask = (1 << chunk_bits) - 1
    votes = ",\n         ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(n_bits)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, {fp} AS sh FROM votes),
chunks AS (
  SELECT doc_id, sh, c, (sh >> (c * {chunk_bits})) & {mask} AS key
  FROM fp, (SELECT unnest(range({n_chunks})) AS c))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
FROM chunks a JOIN chunks b ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {SIMHASH_MAX_HAMMING}
"""


# ------------------------------------------------ doc fingerprinting
FP_GRAM = 8


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (ext): rolling window of 8-char grams,
    each hashed (md5, 16-hex prefix), fingerprint = minimum hash —
    the min-hash-of-rolling-windows core of winnowing.  Equal texts
    share fingerprints; near-equal texts share them with probability
    ~ overlap.  All JVM-side: sequence + transform + array_min, no
    UDF; fingerprints stay strings so Spark and the oracle compare
    identically (lexicographic on lowercase hex)."""
    docs = read_table(spark, sf_dir, "documents")
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {FP_GRAM - 1}, 1)),"
        f" i -> substring(md5(substring(text, i, {FP_GRAM})), 1, 16))"
    )
    return docs.select(
        "doc_id",
        F.array_min(grams).alias("fingerprint"),
        F.size(F.array_distinct(grams)).alias("n_distinct_grams"),
    )


DOC_FINGERPRINT_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text) - {FP_GRAM - 1}, 1) + 1),
                        i -> substr(md5(substr(text, i, {FP_GRAM})), 1, 16)) AS grams
  FROM documents)
SELECT doc_id,
       list_min(grams)           AS fingerprint,
       len(list_distinct(grams)) AS n_distinct_grams
FROM g
ORDER BY doc_id
"""


TFIDF_K = 3


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (ext): top-3 characteristic terms per
    document by smoothed tf-idf (operators/textstats.py::tfidf_topk) —
    explode -> keyed tf/df aggregations -> per-doc top-k window.  The
    1-row corpus-count broadcast is the only non-equi join."""
    from musicflow_spark.operators.textstats import tfidf_topk

    docs = read_table(spark, sf_dir, "documents")
    out = tfidf_topk(docs, "doc_id", "text", k=TFIDF_K)
    return out.select(
        "doc_id", "term", "tf", "df", pround(F.col("score"), 6).alias("score"), "rank"
    )


DOC_TFIDF_TOPK_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
         tf.tf * ln((n.n_docs + 1) / cast(dfr.df + 1 AS double)) AS score
  FROM tf JOIN dfr USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df,
       round(score * 1000000.0) / 1000000.0 AS score, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank FROM s)
WHERE rank <= {TFIDF_K}
"""


# ------------------------------------------- heavy-hitter n-grams
def doc_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (ext): the 20 trigrams present in the
    most documents — C4-style heavy-hitter mining (a phrase in
    thousands of pages is template text, not content).  One explode +
    one keyed count; the global top-k plans as TakeOrderedAndProject
    (per-partition heaps, no single-partition shuffle).  Tie-break by
    ngram string makes the cut deterministic."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        with_shingles(docs, n=3, out_col="sh")
        .select(F.explode("sh").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "ngram")
        .limit(20)
    )


DOC_FREQUENT_NGRAMS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                      i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks)
SELECT shingle AS ngram, count(*) AS doc_freq
FROM (SELECT doc_id, unnest(s) AS shingle FROM sh)
GROUP BY shingle
ORDER BY doc_freq DESC, ngram
LIMIT 20
"""


# ------------------------------------------- duplicated-span analysis
def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup QA (ext): for every near-dup candidate pair,
    the total positional trigram overlap and the LONGEST contiguous
    shared token run — substring-level duplication evidence (Lee et
    al. 2022) bounded to candidate pairs, so the positional join costs
    pairs x doc-length rather than corpus².  Composition:
    jaccard_pairs candidates -> positional_shingle_table ->
    shared_span_stats (gaps-and-islands on the pair diagonal, one
    keyed window)."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.2, max_df=20).select("doc_a", "doc_b")
    grams = positional_shingle_table(docs, n=3)
    return shared_span_stats(pairs, grams, n=3)


DOC_DUP_SPANS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                      i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks),
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
inv1 AS (SELECT *, count(*) OVER (PARTITION BY shingle) AS sh_df FROM inv0),
inv AS (SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM inv1 WHERE sh_df <= 20),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
  HAVING count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) >= 0.2),
pg0 AS (
  SELECT doc_id, unnest(range(1, greatest(len(t) - 1, 1))) AS i, t
  FROM toks),
pgrams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+2], ' ') AS gram FROM pg0),
pts AS (
  SELECT p.doc_a, p.doc_b, a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS d
  FROM pairs p
  JOIN pgrams a ON a.doc_id = p.doc_a
  JOIN pgrams b ON b.doc_id = p.doc_b AND b.gram = a.gram),
isl AS (
  SELECT doc_a, doc_b, d, pos_a,
         pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, d ORDER BY pos_a) AS isl
  FROM pts),
runs AS (
  SELECT doc_a, doc_b, d, isl, count(*) AS run_grams
  FROM isl GROUP BY doc_a, doc_b, d, isl)
SELECT doc_a, doc_b,
       cast(sum(run_grams) AS BIGINT) AS n_shared_grams,
       cast(max(run_grams) + 2 AS BIGINT) AS max_run_tokens
FROM runs
GROUP BY doc_a, doc_b
"""


# ------------------------------------------- duplicated-span REMOVAL
SPAN_SCRUB_N = 3
SPAN_SCRUB_MIN = 8


def doc_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal (ext — VERDICT r07 item 3): the
    operation a pretraining pipeline runs AFTER span detection —
    ``doc_dup_spans`` measures cross-document repeated spans, THIS
    query emits the cleaned corpus with every >= 8-token
    cross-document span cut except its globally first occurrence
    (operators/dedup.py::span_scrub; Lee et al. 2022 gram-island
    form).  Returns per doc: token count, kept count, removed count,
    and the reassembled clean text — so the driver hash certifies the
    span selection AND the byte-exact reassembly."""
    docs = read_table(spark, sf_dir, "documents")
    return span_scrub(docs, n=SPAN_SCRUB_N, min_span=SPAN_SCRUB_MIN)


#: (doc_id, pos) encoding for the first-occurrence rule: pos < 2^20
#: (fixture docs are ~100 tokens; any doc under a million tokens fits).
#: The Spark operator (min over struct(doc_id, pos)) has NO such
#: bound, so the oracle guards it explicitly: the gs CTE scans every
#: pgrams row and raises via error() on the first pos >= 2^20 rather
#: than silently diverging from Spark's keep-first ordering (ADVICE r8)
_SPAN_POS_ENC = 1 << 20

DOC_SPAN_SCRUB_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
low AS (
  SELECT doc_id, list_transform(t, x -> lower(x)) AS lt FROM toks),
pgrams AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, array_to_string(lt[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, lt, unnest(range(1, greatest(len(lt) - 1, 1))) AS i
        FROM low)),
gs AS (
  SELECT gram,
         min(doc_id * {_SPAN_POS_ENC}
             + CASE WHEN pos >= {_SPAN_POS_ENC}
                    THEN error('span pos overflows 2^20 encoding')
                    ELSE pos END) AS fo,
         count(DISTINCT doc_id) AS n_docs
  FROM pgrams GROUP BY gram),
rem AS (
  SELECT p.doc_id, p.pos
  FROM pgrams p JOIN gs ON gs.gram = p.gram
  WHERE gs.n_docs >= 2 AND p.doc_id * {_SPAN_POS_ENC} + p.pos <> gs.fo),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM rem),
runs AS (
  SELECT doc_id, min(pos) AS s, count(*) AS run_grams
  FROM isl GROUP BY doc_id, g
  HAVING count(*) >= {SPAN_SCRUB_MIN - SPAN_SCRUB_N + 1}),
cov AS (
  SELECT DISTINCT doc_id, unnest(range(s, s + run_grams + {SPAN_SCRUB_N - 1})) AS tpos
  FROM runs),
tp AS (
  SELECT doc_id, i - 1 AS tpos, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
kept AS (
  SELECT tp.doc_id, tp.tpos, tp.tok
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.tpos = tp.tpos
  WHERE cov.doc_id IS NULL),
ag AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY tpos) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT toks.doc_id AS doc_id,
       cast(len(t) AS bigint) AS n_tokens,
       cast(coalesce(n_kept, 0) AS bigint) AS n_kept,
       cast(len(t) - coalesce(n_kept, 0) AS bigint) AS n_removed,
       coalesce(clean_text, '') AS clean_text
FROM toks LEFT JOIN ag USING (doc_id)
"""


# --------------------------------------- exact long-substring dedup
SUFFIX_SCRUB_MIN = 50


def doc_suffix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact long-substring dedup, suffix-ordered (ext — VERDICT r08
    item 3): the Lee et al. 2022 suffix-array rung — every token
    covered by an exact >= 50-token substring occurring MORE THAN
    ONCE in the corpus is cut, first occurrence kept, documents
    reassembled.  Unlike ``doc_span_scrub``'s fixed-3-gram islands,
    the removal unit here is the 50-token window itself
    (operators/dedup.py::suffix_span_scrub), so each cut position
    individually certifies a repeated 50-token substring — the
    no-over-removal guarantee the paper's suffix array provides.
    Returns per doc: token count, kept count, removed count, and the
    reassembled clean text (driver hash certifies window selection,
    keep-first ordering, AND byte-exact reassembly)."""
    docs = read_table(spark, sf_dir, "documents")
    return suffix_span_scrub(docs, min_span=SUFFIX_SCRUB_MIN)


DOC_SUFFIX_DEDUP_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
low AS (
  SELECT doc_id, list_transform(t, x -> lower(x)) AS lt FROM toks),
sfx AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(lt[i:i+{SUFFIX_SCRUB_MIN - 1}], ' ') AS win
  FROM (SELECT doc_id, lt,
               unnest(range(1, len(lt) - {SUFFIX_SCRUB_MIN} + 2)) AS i
        FROM low WHERE len(lt) >= {SUFFIX_SCRUB_MIN})),
ws AS (
  SELECT win,
         min(doc_id * {_SPAN_POS_ENC}
             + CASE WHEN pos >= {_SPAN_POS_ENC}
                    THEN error('suffix pos overflows 2^20 encoding')
                    ELSE pos END) AS fo,
         count(*) AS n_occ
  FROM sfx GROUP BY win),
rem AS (
  SELECT s.doc_id, s.pos
  FROM sfx s JOIN ws ON ws.win = s.win
  WHERE ws.n_occ >= 2 AND s.doc_id * {_SPAN_POS_ENC} + s.pos <> ws.fo),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM rem),
runs AS (
  SELECT doc_id, min(pos) AS s, count(*) AS run_grams
  FROM isl GROUP BY doc_id, g),
cov AS (
  SELECT DISTINCT doc_id,
         unnest(range(s, s + run_grams + {SUFFIX_SCRUB_MIN - 1})) AS tpos
  FROM runs),
tp AS (
  SELECT doc_id, i - 1 AS tpos, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)),
kept AS (
  SELECT tp.doc_id, tp.tpos, tp.tok
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.tpos = tp.tpos
  WHERE cov.doc_id IS NULL),
ag AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY tpos) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT toks.doc_id AS doc_id,
       cast(len(t) AS bigint) AS n_tokens,
       cast(coalesce(n_kept, 0) AS bigint) AS n_kept,
       cast(len(t) - coalesce(n_kept, 0) AS bigint) AS n_removed,
       coalesce(clean_text, '') AS clean_text
FROM toks LEFT JOIN ag USING (doc_id)
"""


SUBSTR_PAIR_MIN = 20


def doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated-substring ladder (ext —
    VERDICT r12 item 7): every maximal verbatim run of >=
    SUBSTR_PAIR_MIN tokens shared between two documents, as (doc_a,
    doc_b, a_start, b_start, span_len)
    (operators/dedup.py::cross_substring_spans).  Completes the dedup
    family above the n-gram grain: ``doc_suffix_dedup`` CUTS repeated
    windows corpus-wide (the Lee et al. scrub); this is the
    attribution view — which pairs share what, where — that audits
    and contamination reports need.  SUBSTR_PAIR_MIN = 20 sits above
    the winnowing guarantee (w + n - 1 = 10), so every pair reported
    here provably shares a winnow fingerprint
    (tests/test_substring_dedup.py asserts the containment)."""
    docs = read_table(spark, sf_dir, "documents")
    return cross_substring_spans(docs, min_span=SUBSTR_PAIR_MIN)


DOC_SUBSTRING_DEDUP_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sfx AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(t[i:i+{SUBSTR_PAIR_MIN - 1}], ' ') AS win
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {SUBSTR_PAIR_MIN} + 2)) AS i
        FROM toks WHERE len(t) >= {SUBSTR_PAIR_MIN})),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
  FROM sfx a JOIN sfx b ON a.win = b.win AND a.doc_id < b.doc_id),
isl AS (
  SELECT doc_a, doc_b, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS g
  FROM m)
SELECT doc_a, doc_b,
       CAST(min(pa) AS BIGINT) AS a_start,
       CAST(min(pb) AS BIGINT) AS b_start,
       CAST(count(*) + {SUBSTR_PAIR_MIN - 1} AS BIGINT) AS span_len
FROM isl GROUP BY doc_a, doc_b, pa - pb, g
"""


# ------------------------------------------------- vocabulary coverage
VOCAB_K = 100


def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design op (ext): the top-100 corpus unigrams with
    their cumulative share of ALL token occurrences — the coverage
    curve that sizes a vocabulary (how many types cover 90% of the
    stream).  Two-level agg shape: explode -> keyed count (map-side
    partial combine) -> global top-k as TakeOrderedAndProject
    (per-partition heaps, no global sort); the cumulative window then
    runs on the 100-row survivor frame only, so its single-partition
    sort is over k rows, never the vocabulary.  Total-occurrence count
    rides a 1-row broadcast.  Lowercasing is applied to the
    whitespace tokens on both engines (ASCII corpus convention shared
    with the shingle family)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.transform(tokens("text"), F.lower)).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_occ"))
    top = counts.orderBy(F.desc("n_occ"), "token").limit(VOCAB_K)
    # total occurrences from the (tiny) vocabulary frame — summing
    # n_occ avoids re-exploding the whole corpus a second time
    total = counts.agg(F.sum("n_occ").alias("_total_occ"))
    w = (
        Window.orderBy(F.desc("n_occ"), "token")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.join(F.broadcast(total)).select(
        "token",
        "n_occ",
        F.row_number().over(w).cast("long").alias("rank"),
        (
            F.sum("n_occ").over(w).cast("double") / F.col("_total_occ")
        ).alias("cum_share"),
    )


CORPUS_VOCAB_TOPK_SQL = rf"""
WITH toks AS (
  SELECT lower(u.x) AS token
  FROM documents,
       unnest(list_filter(string_split_regex(trim(text), '\s+'),
                          x -> x <> '')) AS u(x)),
counts AS (SELECT token, count(*) AS n_occ FROM toks GROUP BY token),
total AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total_occ FROM counts),
top AS (SELECT token, n_occ FROM counts ORDER BY n_occ DESC, token LIMIT {VOCAB_K})
SELECT token,
       n_occ,
       CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS BIGINT) AS rank,
       CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, token
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / (SELECT total_occ FROM total) AS cum_share
FROM top
"""


# ------------------------------------------------- BPE-ish token stats
#: GPT-2-style pre-tokenizer shape, restricted to constructs RE2 (the
#: DuckDB oracle's engine) and Java regex agree on: letter runs, digit
#: runs, single non-alnum glyphs.  No lookahead (RE2 has none), no
#: \p{L} classes (ASCII corpus convention), and no \s — Java's \s
#: includes vertical tab where RE2's does not, so the whitespace
#: exclusion is spelled as an explicit character set.  Both engines
#: match leftmost-first, so counts agree exactly.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"


def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish tier (ext: text analysis): counts
    pre-tokenizer pieces (letter runs / digit runs / punctuation
    glyphs) next to the whitespace count — the cheap proxy for "how
    many BPE tokens will this doc cost" that data-mixing budgets use.
    Single map stage, no shuffle beyond the scan."""
    docs = read_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), F.lit(0))
    ws = F.size(tokens("text"))
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        F.size(pieces).alias("n_bpe_pieces"),
        pround(
            F.when(ws == 0, F.lit(0.0)).otherwise(
                F.size(pieces) / ws.cast("double")
            ),
            4,
        ).alias("pieces_per_word"),
    )


DOC_BPE_TOKEN_STATS_SQL = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]'))
           AS n_bpe_pieces
  FROM documents)
SELECT doc_id, n_ws_tokens, n_bpe_pieces,
       round(CASE WHEN n_ws_tokens = 0 THEN 0.0
             ELSE n_bpe_pieces / CAST(n_ws_tokens AS DOUBLE) END
             * 10000.0) / 10000.0 AS pieces_per_word
FROM t
"""


# ------------------------------------------------- BPE merge training
BPE_N_MERGES = 12


def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (ext: text analysis — VERDICT r06 item
    3): learn the 12 highest-count byte-pair merges of the corpus,
    greedy and deterministic, over the word-type histogram
    (operators/textstats.py::bpe_train_merges).  The DuckDB oracle
    unrolls the same 12 rounds CTE-by-CTE (the
    kmeans_oracle_sql/bfs_oracle_sql pattern), so merge order, tie
    breaks, and pair counts are hash-checked end to end."""
    docs = read_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, BPE_N_MERGES)


UNI_N_PRUNES = 8


def corpus_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (ext — VERDICT r07 item 5): the
    second trained-tokenizer shape — where ``corpus_bpe_merges``
    certifies the MERGE-training loop (vocabulary grows), this
    certifies the PRUNE-training loop (vocabulary shrinks,
    SentencePiece-style): start from the full short-substring
    candidate vocabulary, then 8 fixed hard-EM rounds of greedy
    longest-match segmentation (E: keyed join + aggs + one closed-form
    walk map stage) and least-used-piece pruning (M: 1-row broadcast
    loser) — operators/textstats.py::unigram_prune_state.  Returns
    (prune_rank, piece, usage), one row per round; the DuckDB oracle
    unrolls every round CTE-by-CTE so segmentation re-routing, usage
    counts, and tie-breaks are hash-checked end to end."""
    from musicflow_spark.operators.textstats import unigram_prune_state

    docs = read_table(spark, sf_dir, "documents")
    losers, _ = unigram_prune_state(docs, UNI_N_PRUNES)
    return losers


def doc_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram tokenizer APPLY (ext): encode every document with the
    vocabulary learned by ``corpus_unigram_vocab`` (8 prune rounds)
    and report per-doc encodable-word count, piece count, and
    compression — the prune-train -> encode lifecycle next to BPE's
    merge-train -> encode (``doc_bpe_encode``), certified end to end
    because the oracle nests the SAME unrolled training CTEs before
    the encode join (operators/textstats.py::unigram_encode_cte_parts).

    Scale shape: piece counts come off the post-training WORD-TYPE
    state via one greedy-walk map stage (vocab-sized —
    unigram_piece_counts), so encoding the corpus is one explode +
    one word-keyed equi-join + one per-doc agg; the per-document walk
    is never replayed.  Words longer than UNI_MAX_WORD are outside
    the trained vocabulary's domain and drop out of the inner join
    (mirrored by the oracle); docs with no encodable word emit no
    row."""
    from musicflow_spark.operators.textstats import (
        UNI_MAX_WORD,
        bpe_word_types,
        unigram_occ_table,
        unigram_piece_counts,
        unigram_prune_state,
    )

    docs = read_table(spark, sf_dir, "documents")
    _, vocab = unigram_prune_state(docs, UNI_N_PRUNES)
    types = (
        bpe_word_types(docs)
        .filter(F.length("word") <= UNI_MAX_WORD)
        .localCheckpoint(eager=True)
    )
    pieces = unigram_piece_counts(types, unigram_occ_table(types), vocab)
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
        ).alias("word"),
    ).filter(F.length("word") <= UNI_MAX_WORD)
    return (
        words.join(pieces, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("np").alias("n_pieces"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            pround(
                F.col("n_pieces").cast("double") / F.col("n_words"), 4
            ).alias("pieces_per_word"),
        )
    )


def _doc_unigram_encode_oracle_sql() -> str:
    from musicflow_spark.operators.textstats import (
        UNI_MAX_WORD,
        unigram_encode_cte_parts,
    )

    parts = unigram_encode_cte_parts(UNI_N_PRUNES)
    return (
        "WITH "
        + ",\n".join(parts)
        + rf"""
, dw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
    FROM documents)
  WHERE len(word) <= {UNI_MAX_WORD})
SELECT dw.doc_id,
       count(*) AS n_words,
       cast(sum(wpf.np) AS bigint) AS n_pieces,
       round(cast(sum(wpf.np) AS double) / count(*) * 10000.0) / 10000.0
         AS pieces_per_word
FROM dw JOIN wpf USING (word)
GROUP BY dw.doc_id
"""
    )


# ---------------------------------------------- logistic quality gate
LOGREG_ROUNDS = 8
LOGREG_LR_DEN = 256


def doc_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-TRAINED quality classifier (ext — VERDICT r06 item 8):
    binary logistic regression by 8 rounds of full-batch gradient
    descent on the integer micro-grid
    (operators/classify.py::logreg_train_gd), over four integer doc
    features (bias, CENTERED token-count bucket, centered
    distinct-token count, a centered length-mod noise feature — the
    centering keeps the decision boundary near the origin so 8
    rounds at lr 1/256 actually converge) with the lexical-diversity
    label
    ``y = (n_uniq >= 25)``.  Returns one row: n, training accuracy of
    the final weights, and the four micro-unit weights — so the
    driver hash certifies every descent round end-to-end (the DuckDB
    oracle unrolls all 8: sigmoid frame, 1-row integer gradient,
    truncated-division weight update)."""
    docs = read_table(spark, sf_dir, "documents")
    return logreg_train_gd(
        _quality_feature_frame(docs),
        ["x0", "x1", "x2", "x3"],
        "y",
        LOGREG_ROUNDS,
        LOGREG_LR_DEN,
    )


def _quality_feature_frame(docs: DataFrame) -> DataFrame:
    """The shared quality-classifier feature frame (bias, centered
    token-count bucket, centered distinct-token count, centered
    length-mod noise; label y = lexical diversity >= 25) — used by
    both the trainer (doc_quality_logreg) and the calibration eval."""
    tk = tokens("text")
    nt = F.size(tk)
    nu = F.size(F.array_distinct(tk))

    def clamp(c):
        # establishes logreg_train_gd's documented max|x| <= 32
        # int64-headroom precondition (no-op on this corpus: token
        # counts max out at 99, distinct tokens at 31)
        return F.greatest(F.least(c, F.lit(32)), F.lit(-32))

    return docs.select(
        F.lit(1).alias("x0"),
        clamp((nt / 8).cast("long") - 7).alias("x1"),
        clamp(nu.cast("long") - 25).alias("x2"),
        clamp((nt % 13).cast("long") - 6).alias("x3"),
        (nu >= 25).cast("long").alias("y"),
    )


def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (ext): encode every document with the
    12-merge vocabulary learned by ``corpus_bpe_merges`` and report
    per-doc word count, LEARNED-BPE piece count, and compression
    (pieces per word) — the train → encode lifecycle a real tokenizer
    pipeline runs, certified end to end because the oracle nests the
    SAME unrolled training CTEs (operators/textstats.py::
    bpe_cte_parts) before the encode join.

    Scale shape: piece counts come off the post-training WORD-TYPE
    state (vocab-sized), so encoding the corpus is one explode + one
    word-keyed equi-join + one per-doc agg — the per-document merge
    loop is never replayed.  Docs with zero [a-z]+ words emit no row
    (explode semantics, mirrored by the oracle's inner join)."""
    from musicflow_spark.operators.textstats import bpe_train_state

    docs = read_table(spark, sf_dir, "documents")
    _, state = bpe_train_state(docs, BPE_N_MERGES)
    pieces = state.select(
        "word", (F.size(F.split("s", r"\|")) - 1).alias("np")
    )
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
        ).alias("word"),
    )
    return (
        words.join(pieces, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("np").alias("n_pieces"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            pround(
                F.col("n_pieces").cast("double") / F.col("n_words"), 4
            ).alias("pieces_per_word"),
        )
    )


def _doc_bpe_encode_oracle_sql() -> str:
    from musicflow_spark.operators.textstats import bpe_cte_parts

    parts = bpe_cte_parts(BPE_N_MERGES)
    parts.append(f"""wp AS MATERIALIZED (
  SELECT word, len(string_split(s, '|')) - 1 AS np FROM s{BPE_N_MERGES})""")
    return (
        "WITH "
        + ",\n".join(parts)
        + r"""
, dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents)
SELECT dw.doc_id,
       count(*) AS n_words,
       cast(sum(wp.np) AS bigint) AS n_pieces,
       round(cast(sum(wp.np) AS double) / count(*) * 10000.0) / 10000.0
         AS pieces_per_word
FROM dw JOIN wp USING (word)
GROUP BY dw.doc_id
"""
    )


def _quality_feats_sql() -> str:
    toks = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"
    return f"""
  SELECT 1 AS x0,
         greatest(least(nt // 8 - 7, 32), -32) AS x1,
         greatest(least(nu - 25, 32), -32) AS x2,
         greatest(least(nt % 13 - 6, 32), -32) AS x3,
         CASE WHEN nu >= 25 THEN 1 ELSE 0 END AS __y__
  FROM (SELECT len({toks}) AS nt, len(list_distinct({toks})) AS nu
        FROM documents)"""


def _doc_quality_logreg_oracle_sql() -> str:
    return logreg_oracle_sql(
        _quality_feats_sql(), ["x0", "x1", "x2", "x3"],
        LOGREG_ROUNDS, LOGREG_LR_DEN,
    )


def doc_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CALIBRATION eval (ext): the reliability table a
    quality-filter deployment reads before trusting the classifier's
    scores as sampling weights — train the registered logreg
    (doc_quality_logreg's loop verbatim via
    operators/classify.py::logreg_train_weights), score every
    document's micro-sigmoid confidence, bucket into 10 confidence
    bins, and report per bin: count, positive count, mean confidence,
    empirical accuracy, and the |confidence - accuracy| gap — the
    per-bin terms of Expected Calibration Error, all on the integer
    micro grid (sums and truncated divisions only, no float
    aggregation anywhere).

    Scale shape: the training loop's per-round scalar collects (the
    documented O(d) contract) + one map pass to score + one 10-key
    groupBy.  The oracle nests the full unrolled training chain
    (logreg_cte_parts), so a drift in ANY descent round breaks this
    hash too."""
    from musicflow_spark.operators.classify import (
        LR_SCALE,
        logreg_train_weights,
    )

    docs = read_table(spark, sf_dir, "documents")
    feats, w = logreg_train_weights(
        _quality_feature_frame(docs),
        ["x0", "x1", "x2", "x3"],
        "y",
        LOGREG_ROUNDS,
        LOGREG_LR_DEN,
    )
    cols = ["x0", "x1", "x2", "x3"]
    z_int = sum(
        (F.col(c) * F.lit(w[j]) for j, c in enumerate(cols)),
        F.lit(0).cast("long"),
    )
    zd = z_int.cast("double") / F.lit(float(LR_SCALE))
    sg = F.round(F.lit(float(LR_SCALE)) / (F.lit(1.0) + F.exp(-zd)), 0).cast(
        "long"
    )
    # sg is non-negative, so truncating `div` == floor `//`; sg can
    # reach exactly LR_SCALE (sigmoid saturation on the micro grid),
    # which the least(..., 9) folds into the top bin on both engines
    scored = feats.select(sg.alias("sg"), F.col("__y__").alias("y")).select(
        F.least(
            F.expr(f"sg div {LR_SCALE // 10}"), F.lit(9).cast("long")
        ).alias("bin"),
        "sg",
        "y",
    )
    return (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.sum("sg").alias("sum_conf_micro"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("sum_conf_micro div n").alias("avg_conf_micro"),
            F.expr(f"(n_pos * {1_000_000}) div n").alias("acc_micro"),
            F.abs(
                F.expr("sum_conf_micro div n")
                - F.expr(f"(n_pos * {1_000_000}) div n")
            ).alias("gap_micro"),
        )
    )


def _doc_quality_calibration_oracle_sql() -> str:
    from musicflow_spark.operators.classify import LR_SCALE, logreg_cte_parts

    parts = logreg_cte_parts(
        _quality_feats_sql(), ["x0", "x1", "x2", "x3"],
        LOGREG_ROUNDS, LOGREG_LR_DEN,
    )
    dot = " + ".join(f"w.w{j} * f.x{j}" for j in range(4))
    parts.append(f"""scored AS (
  SELECT least(cast(round({LR_SCALE}.0 / (1.0 + exp(-(({dot}) / {LR_SCALE}.0))))
               AS bigint) // {LR_SCALE // 10}, 9) AS bin,
         cast(round({LR_SCALE}.0 / (1.0 + exp(-(({dot}) / {LR_SCALE}.0))))
           AS bigint) AS sg,
         f.__y__ AS y
  FROM feats f, w{LOGREG_ROUNDS} w)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT bin,
       count(*) AS n,
       cast(sum(y) AS bigint) AS n_pos,
       cast(sum(sg) // count(*) AS bigint) AS avg_conf_micro,
       cast((sum(y) * 1000000) // count(*) AS bigint) AS acc_micro,
       cast(abs(sum(sg) // count(*) - (sum(y) * 1000000) // count(*))
            AS bigint) AS gap_micro
FROM scored
GROUP BY bin
"""
    )


def doc_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-tokenizer comparison (ext): encode the corpus with
    BOTH trained tokenizers — the 12-merge BPE and the 8-prune
    unigram-LM — and report per-document compression side by side,
    the eval a tokenizer team runs before picking one.  Each encode
    is the already-proven query on its own domain (BPE: every [a-z]+
    word; unigram: words <= UNI_MAX_WORD chars — the comparison is
    between the tokenizers as shipped, not on an artificial common
    domain), joined per doc.  One plan therefore nests BOTH trained
    loops; the oracle nests both encode oracles verbatim (each with
    its full unrolled training chain), so a drift in either training
    loop breaks this hash too.  Returns (doc_id, bpe_ppw, uni_ppw,
    ppw_gap) for docs both tokenizers can encode."""
    bpe = doc_bpe_encode(spark, sf_dir).select(
        "doc_id", F.col("pieces_per_word").alias("bpe_ppw")
    )
    uni = doc_unigram_encode(spark, sf_dir).select(
        "doc_id", F.col("pieces_per_word").alias("uni_ppw")
    )
    return bpe.join(uni, "doc_id").select(
        "doc_id",
        "bpe_ppw",
        "uni_ppw",
        pround(F.col("bpe_ppw") - F.col("uni_ppw"), 4).alias("ppw_gap"),
    )


def _doc_tokenizer_compare_oracle_sql() -> str:
    return f"""
WITH bq AS (
  SELECT doc_id, pieces_per_word AS bpe_ppw
  FROM ({_doc_bpe_encode_oracle_sql()})),
uq AS (
  SELECT doc_id, pieces_per_word AS uni_ppw
  FROM ({_doc_unigram_encode_oracle_sql()}))
SELECT doc_id, bpe_ppw, uni_ppw,
       round((bpe_ppw - uni_ppw) * 10000.0) / 10000.0 AS ppw_gap
FROM bq JOIN uq USING (doc_id)
"""


# ---------------------------------------------- boosted quality gate
ADA_ROUNDS = 6


def doc_quality_adaboost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOSTING-trained quality classifier (ext): discrete AdaBoost
    over integer decision stumps, 6 rounds
    (operators/classify.py::adaboost_train_stumps) — the
    round-coupled reweighting training loop next to logreg's gradient
    descent, and the one trained loop with NO transcendental: the
    alpha reweighting is replaced by its exact rational equivalent
    (misclassified x W_cor, correct x W_mis, truncated-division
    renormalize), so every emitted number is exact int64.  Features:
    centered token-count bucket, centered distinct-token count, a
    length-mod noise feature, centered char-length bucket; label
    ``y = (nt >= 48 OR nu >= 28)`` — NOT nailable by one stump, so
    the 6 winners genuinely chain (measured on the fixture corpus:
    six different stumps, weighted error climbing 0.05 -> 0.34 as
    weight concentrates on the hard examples).  Returns one row per
    round: (round, feature, threshold, polarity, w_mis, w_total);
    the DuckDB oracle unrolls every round (candidate-error table,
    1-row winner, renormalized weight frame)."""
    from musicflow_spark.operators.classify import adaboost_train_stumps

    docs = read_table(spark, sf_dir, "documents")
    tk = tokens("text")
    nt = F.size(tk)
    nu = F.size(F.array_distinct(tk))
    nc = F.length("text")

    def clamp(c):
        return F.greatest(F.least(c, F.lit(32)), F.lit(-32))

    feats = docs.select(
        clamp((nt / 8).cast("long") - 7).alias("x0"),
        clamp(nu - 25).alias("x1"),
        clamp(nt % 13 - 6).alias("x2"),
        clamp((nc / 100).cast("long") - 5).alias("x3"),
        ((nt >= 48) | (nu >= 28)).cast("long").alias("y"),
    )
    return adaboost_train_stumps(
        feats, ["x0", "x1", "x2", "x3"], "y", ADA_ROUNDS
    )


def _doc_quality_adaboost_oracle_sql() -> str:
    from musicflow_spark.operators.classify import adaboost_oracle_sql

    toks = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"
    feats = f"""
  SELECT greatest(least(nt // 8 - 7, 32), -32) AS x0,
         greatest(least(nu - 25, 32), -32) AS x1,
         greatest(least(nt % 13 - 6, 32), -32) AS x2,
         greatest(least(nc // 100 - 5, 32), -32) AS x3,
         CASE WHEN nt >= 48 OR nu >= 28 THEN 1 ELSE 0 END AS __y__
  FROM (SELECT len({toks}) AS nt, len(list_distinct({toks})) AS nu,
               length(text) AS nc
        FROM documents)"""
    return adaboost_oracle_sql(feats, ["x0", "x1", "x2", "x3"], ADA_ROUNDS)


# ------------------------------------------------- unigram rarity score
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-free quality signal (ext): per-document mean
    token rarity against the corpus's own unigram table — the
    CCNet/Gopher-style "perplexity bucket" idea with the LM replaced
    by exact integer arithmetic so the score is bit-portable (a real
    LM logprob sums `ln()` doubles whose libm last-ulps differ across
    engines; `total div n_occ` is exact on both).  A common token
    contributes a small integer, a hapax contributes ~corpus size;
    the per-doc mean is one final portable-rounded divide.

    Plan: explode -> corpus unigram agg (map-side combine) -> token
    equi-join back (vocab side is 1 row/key; hot-token skew sits on
    the probe side where AQE skew-split handles it; a pruned vocab
    broadcasts if it fits) -> per-doc agg.  The total-occurrence
    count rides the same 1-row broadcast as the coverage query."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.transform(tokens("text"), F.lower)).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_occ"))
    # sum the vocabulary frame, don't re-explode the corpus
    total = vocab.agg(F.sum("n_occ").alias("_tot"))
    per_doc = (
        tok.join(vocab, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.expr("_tot div n_occ")).cast("long").alias("rarity_sum"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "rarity_sum",
        pround(F.col("rarity_sum") / F.col("n_tokens"), 4).alias("rarity_avg"),
    )


DOC_RARITY_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id, lower(u.x) AS token
  FROM documents,
       unnest(list_filter(string_split_regex(trim(text), '\s+'),
                          x -> x <> '')) AS u(x)),
vocab AS (SELECT token, count(*) AS n_occ FROM toks GROUP BY token),
total AS (SELECT CAST(sum(n_occ) AS BIGINT) AS tot FROM vocab)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(tot // n_occ) AS BIGINT) AS rarity_sum,
       round(CAST(sum(tot // n_occ) AS BIGINT) / count(*) * 10000.0) / 10000.0
         AS rarity_avg
FROM toks JOIN vocab USING (token), total
GROUP BY doc_id
"""


# ------------------------------------- bigram LM quality signal
def doc_bigram_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (ext): the tier above unigram rarity
    (``doc_rarity_score``) on the LM-free perplexity ladder — for
    every bigram occurrence, the corpus MLE conditional probability
    P(w2 | w1) = C(w1 w2)/C(w1) in integer basis points, summed per
    document.  Low scores mark documents whose word SEQUENCES are
    improbable even when the words themselves are common — the
    perplexity-filter signal pipelines compute with a KenLM model,
    expressed engine-portably.

    Integer-exact by construction: ``(c2 * 10000) div c1`` instead of
    ``ln`` ratios, because libm log implementations differ in the
    last ulp across engines and a hash-compared score must not
    depend on them.

    Scale shape: both count tables shuffle once on their key (vocab-
    and bigram-vocab-sized — orders below corpus size); the
    per-occurrence joins are plain equi-joins Spark broadcasts while
    the vocabulary fits and shuffles when it does not.  No windows,
    no driver-side state."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (x, i) -> struct(x AS w1, tk[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    uni = docs.select(F.explode("tk").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    return (
        pairs.join(big, ["w1", "w2"])
        .join(uni, pairs["w1"] == uni["w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.expr("(c2 * 10000) div c1")).alias("sum_cond_bp"),
        )
    )


DOC_BIGRAM_CONDPROB_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id, s['w1'] AS w1, s['w2'] AS w2
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
    FROM toks
  )
),
uni AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w
),
big AS (
  SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
)
SELECT p.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(b.c2 * 10000 // u.c1) AS BIGINT) AS sum_cond_bp
FROM pairs p
JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
JOIN uni u ON p.w1 = u.w
GROUP BY p.doc_id
"""


# ---------------------------------- end-to-end training selection
CTS_MIN_TOKENS, CTS_MIN_UNIQ = 12, 0.30


def corpus_training_selection(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame | None = None,
    toks: DataFrame | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end training-data selection mart (ext): every
    document routed through the full filter ladder IN ONE PLAN —
    language id → quality floors → perplexity filter → exact dedup →
    near-dup canonical selection — emitting the final keep flag plus
    the FIRST stage that rejected it (the routing/audit column every
    production corpus pipeline carries).  Each stage reuses the
    hash-proven component verbatim (lang_id, quality_features,
    doc_perplexity_filter, exact_dedup's fingerprint window,
    doc_canonical_selection), so this query certifies their
    COMPOSITION, not new logic.

    Stage order in the PLAN is audit-faithful, not cost-minimal: the
    spec emits the first-reject stage for EVERY document, so every
    stage runs over the FULL corpus and its flags join back on doc_id
    (one shuffle each, AQE-broadcast when small) — a rejected doc
    still needs its later-stage flags evaluated to be attributable.
    A production pipeline that only needs the survivors would instead
    thread each stage's survivors into the next (map-side drops
    shrinking every later shuffle) — note that doing so CHANGES the
    dedup keepers (a first-occurrence keeper deleted by an earlier
    stage promotes the next occurrence), which is why that variant is
    a different query with different semantics, not an optimization
    of this one (VERDICT r06 docstring fix)."""
    from musicflow_spark.operators.textstats import (
        lang_id_of_tokens,
        normalize_for_fingerprint,
    )

    docs = read_table(spark, sf_dir, "documents")
    # ONE tokenize pass for the whole ladder (guide §2.4/§4.1): the
    # checkpointed token frame feeds lang-id, the quality floors AND
    # the perplexity filter's bigram passes — previously quality
    # re-tokenized once and perplexity three times, all interpreted
    # HOF stages over the full text.  The expressions over ``tk`` are
    # identical to quality_features/lang_id modulo where the token
    # array comes from, so the emitted values are unchanged.
    # ``toks``: a caller-supplied tokenized_docs frame (the batch mart
    # builds it once and shares it with the jaccard pass — guide §2.4)
    if toks is None:
        toks = tokenized_docs(spark, sf_dir)
    tk = F.col("tk")
    n_tok = F.size(tk)
    q = toks.select(
        "doc_id",
        lang_id_of_tokens(tk).alias("pred_lang"),
        n_tok.alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(F.size(F.array_distinct(tk)) / n_tok.cast("double"))
        .alias("uniq_frac"),
    )
    ppl = doc_perplexity_filter(spark, sf_dir, toks=toks).select(
        "doc_id", F.col("keep").alias("ppl_keep")
    )
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    # ``fps``: a caller-supplied (doc_id, fp) fingerprint frame — the
    # batch mart shares one normalize+md5 pass between this exact-dup
    # window and the decontamination probe's exact tier (guide §2.4);
    # the expression is identical either way (fingerprint(text))
    fp_src = (
        docs.withColumn("fp", F.md5(normalize_for_fingerprint("text")))
        if fps is None
        else fps
    )
    fp = (
        fp_src.withColumn("rn", F.row_number().over(wfp))
        .select("doc_id", (F.col("rn") == 1).alias("exact_keeper"))
    )
    canon = doc_canonical_selection(spark, sf_dir, pairs=pairs, toks=toks).select(
        "doc_id", "is_canonical"
    )
    joined = (
        q.join(ppl, "doc_id", "left")
        .join(fp, "doc_id")
        .join(canon, "doc_id")
    )
    reason = (
        F.when(F.col("pred_lang") != "en", "lang")
        .when(
            (F.col("n_tokens") < CTS_MIN_TOKENS)
            | (F.col("uniq_frac") < CTS_MIN_UNIQ),
            "quality",
        )
        .when(F.col("ppl_keep").isNull() | ~F.col("ppl_keep"), "perplexity")
        .when(~F.col("exact_keeper"), "exact_dup")
        .when(~F.col("is_canonical"), "near_dup")
        .otherwise("kept")
    )
    return joined.select(
        "doc_id",
        "pred_lang",
        "n_tokens",
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
    )


def _corpus_training_selection_oracle_sql() -> str:
    return rf"""
WITH lang AS ({_lang_id_oracle_sql()}),
qtoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
q AS (
  SELECT doc_id, len(t) AS n_tokens,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE len(list_distinct(t)) / cast(len(t) AS double) END AS uniq_frac
  FROM qtoks),
ppl AS ({DOC_PERPLEXITY_FILTER_SQL}),
fp AS (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           ORDER BY doc_id) = 1 AS exact_keeper
  FROM documents),
canon AS ({_doc_canonical_selection_oracle_sql()}),
staged AS (
  SELECT d.doc_id, l.pred_lang, q.n_tokens,
         CASE WHEN l.pred_lang <> 'en' THEN 'lang'
              WHEN q.n_tokens < {CTS_MIN_TOKENS}
                   OR q.uniq_frac < {CTS_MIN_UNIQ} THEN 'quality'
              WHEN p.keep IS NULL OR NOT p.keep THEN 'perplexity'
              WHEN NOT f.exact_keeper THEN 'exact_dup'
              WHEN NOT c.is_canonical THEN 'near_dup'
              ELSE 'kept' END AS reason
  FROM documents d
  JOIN lang l ON l.doc_id = d.doc_id
  JOIN q ON q.doc_id = d.doc_id
  LEFT JOIN ppl p ON p.doc_id = d.doc_id
  JOIN fp f ON f.doc_id = d.doc_id
  JOIN canon c ON c.doc_id = d.doc_id)
SELECT doc_id, pred_lang, n_tokens, reason, reason = 'kept' AS keep
FROM staged
"""


# ------------------------------------------- PMI collocations
PPL_SCALE = 1_000_000  # shared integer micro-nat grid (PMI + perplexity)
PMI_MIN_COUNT, PMI_TOP_K = 5, 50


def corpus_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by pointwise mutual information (ext):
    PMI(w1,w2) = ln( P(w1,w2) / (P(w1,·)·P(·,w2)) ) over bigram
    occurrences, the standard collocation-extraction statistic
    (Church & Hanks 1990) a corpus-analysis pipeline computes before
    tokenizer/phrase-vocabulary decisions.  Marginals are
    bigram-POSITION counts (w as first word / w as second word), so
    the whole table derives from one bigram aggregation.

    Portability: PMI is rounded to integer micro-nats per DISTINCT
    bigram (same grid as doc_perplexity_filter), ranking ties break on
    the words themselves, and the min-count floor (>= 5) keeps the
    rare-pair noise out.  The final top-k LIMIT is the one
    single-partition stage — k rows by the literal.

    Scale shape: bigram counts shuffle once on (w1,w2); both marginal
    frames are re-aggregations of that table (vocab-sized); N is a
    1-row broadcast."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    big = (
        docs.select(
            F.explode(
                F.expr(
                    "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                    " (x, i) -> struct(x AS w1, tk[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    ca = big.groupBy("w1").agg(F.sum("c2").alias("ca"))
    cb = big.groupBy("w2").agg(F.sum("c2").alias("cb"))
    total = big.agg(F.sum("c2").alias("nn"))
    scored = (
        big.filter(F.col("c2") >= PMI_MIN_COUNT)
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c2",
            F.round(
                F.log(
                    (F.col("c2") * F.col("nn")).cast("double")
                    / (F.col("ca") * F.col("cb")).cast("double")
                )
                * PPL_SCALE
            ).cast("long").alias("pmi_micro"),
        )
    )
    # ADVICE r06: bound the global sort FIRST (TakeOrderedAndProject,
    # k rows by the literal — the corpus_zipf_fit pattern); the
    # row_number window then runs on the k-row frame only, instead of
    # relying on WindowGroupLimit to rescue a full single-partition
    # sort of the scored table.
    return (
        scored.orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(PMI_TOP_K)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("pmi_micro"), "w1", "w2")),
        )
        .select("w1", "w2", "c2", "pmi_micro", "rank")
    )


CORPUS_PMI_COLLOCATIONS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
big AS (
  SELECT s['w1'] AS w1, s['w2'] AS w2, count(*) AS c2
  FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
    FROM toks)
  GROUP BY 1, 2),
ca AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS ca FROM big GROUP BY w1),
cb AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS cb FROM big GROUP BY w2),
nn AS (SELECT CAST(sum(c2) AS BIGINT) AS nn FROM big),
scored AS (
  SELECT b.w1, b.w2, b.c2,
         CAST(round(ln(cast(b.c2 * nn.nn AS double) / cast(ca.ca * cb.cb AS double))
                    * {PPL_SCALE}) AS BIGINT) AS pmi_micro
  FROM big b JOIN ca ON b.w1 = ca.w1 JOIN cb ON b.w2 = cb.w2 CROSS JOIN nn
  WHERE b.c2 >= {PMI_MIN_COUNT})
SELECT w1, w2, c2, pmi_micro, rank
FROM (SELECT *, row_number() OVER (ORDER BY pmi_micro DESC, w1, w2) AS rank
      FROM scored)
WHERE rank <= {PMI_TOP_K}
"""


# ------------------------------------------- shingle containment
CONTAINMENT_THRESHOLD = 0.6


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset detection (ext): asymmetric shingle containment
    |A∩B|/|A| (operators/dedup.py::containment_pairs) over the same
    3-token kept-shingle sets as doc_jaccard_pairs — catches truncated
    or quoted-and-expanded rehosts whose symmetric Jaccard stays low.
    Both directions ride as columns on the a<b pair row; the filter is
    max(cont_a, cont_b) >= 0.6."""
    from musicflow_spark.operators.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = containment_pairs(
        docs, threshold=CONTAINMENT_THRESHOLD, max_df=20
    )
    return pairs.select(
        "doc_a", "doc_b", "inter_cnt",
        pround(F.col("cont_a"), 6).alias("cont_a"),
        pround(F.col("cont_b"), 6).alias("cont_b"),
    )


DOC_CONTAINMENT_PAIRS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                                      i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks),
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
inv1 AS (SELECT *, count(*) OVER (PARTITION BY shingle) AS sh_df FROM inv0),
inv AS (SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh
        FROM inv1 WHERE sh_df <= 20)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS inter_cnt,
       round(count(*) / cast(a.n_sh AS double) * 1000000.0) / 1000000.0 AS cont_a,
       round(count(*) / cast(b.n_sh AS double) * 1000000.0) / 1000000.0 AS cont_b
FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
HAVING greatest(count(*) / cast(a.n_sh AS double),
                count(*) / cast(b.n_sh AS double)) >= {CONTAINMENT_THRESHOLD}
"""


# ------------------------------------- perplexity quality filter
PPL_KEEP_MICRO_NATS = -3_420_000  # ~25% of the corpus routes to drop


def tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tk: array<string>) — the corpus tokenized ONCE, fanned
    out (the tokenize is an interpreted HOF sitting on a one-row-group
    scan — guide §2.5/§4.1) and materialized via localCheckpoint so
    every branch that needs the token arrays (quality features,
    lang-id, the bigram-LM passes) reads the SAME pass instead of
    re-running the tokenizer per branch (doc_perplexity_filter alone
    used to tokenize 3x: pairs, the bigram counts via pairs, and the
    unigram counts)."""
    from musicflow_spark.operators.fanout import INTERPRETED_STAGE_DIVISOR, fan_out

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        fan_out(docs, divisor=INTERPRETED_STAGE_DIVISOR)
        .select("doc_id", tokens(F.col("text")).alias("tk"))
        .localCheckpoint(eager=True)
    )


def doc_perplexity_filter(
    spark: SparkSession, sf_dir: str, toks: DataFrame | None = None
) -> DataFrame:
    """CCNet-style perplexity filtering (ext): score every document by
    its average bigram log-likelihood under the corpus LM with add-1
    (Laplace) smoothing — P(w2|w1) = (C(w1 w2)+1)/(C(w1)+V) — and
    route low-likelihood (high-perplexity) documents to drop.  This is
    the ladder rung above ``doc_bigram_condprob``: that query emits
    the raw MLE signal; this one is the actual filter a training-data
    pipeline applies (CCNet buckets corpora by LM perplexity and
    drops the worst tail).

    Portability: each bigram's log term is rounded to INTEGER
    micro-nats first (one ln() per distinct (c2, c1) ratio — a ulp
    divergence would need the product to land within 1e-10 of a .5
    boundary), then summed exactly as int64, and the keep decision
    compares the integer per-bigram average against an integer
    threshold — no float aggregation order anywhere.

    Scale shape (round-13 restructure, guide §2.4/§3.2): the corpus
    tokenizes ONCE (``toks`` — pass a shared tokenized_docs frame to
    amortize it across sibling branches); bigram occurrences reduce to
    the per-document grain FIRST (doc_id,w1,w2,cnt — map-side partial
    aggregation shrinks the shuffle to distinct bigrams per doc); the
    log term is computed per DISTINCT bigram (big ⋈ uni ⋈ V — the
    model-table grain, not the occurrence grain) and joined back once.
    sum(lp*cnt) over the doc grain == sum(lp) over occurrences exactly
    (integer multiply-sum), so the output is bit-identical to the
    per-occurrence formulation the oracle replays.  Docs with no
    bigram (< 2 tokens) drop out, as in the raw-signal query."""
    if toks is None:
        toks = tokenized_docs(spark, sf_dir)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (x, i) -> struct(x AS w1, tk[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    docbg = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    uni = toks.select(F.explode("tk").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    )
    big = docbg.groupBy("w1", "w2").agg(F.sum("cnt").alias("c2"))
    vocab = uni.agg(F.count(F.lit(1)).alias("vsz"))
    lp_tab = (
        big.join(uni, big["w1"] == uni["w"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("vsz")))
                * PPL_SCALE
            ).cast("long").alias("lp"),
        )
    )
    return (
        docbg.join(lp_tab, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("lp") * F.col("cnt")).alias("sum_lp_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_micro",
            F.expr("sum_lp_micro div n_bigrams").alias("avg_lp_micro"),
            (F.expr("sum_lp_micro div n_bigrams") >= PPL_KEEP_MICRO_NATS).alias(
                "keep"
            ),
        )
    )


DOC_PERPLEXITY_FILTER_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
pairs AS (
  SELECT doc_id, s['w1'] AS w1, s['w2'] AS w2
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
    FROM toks)),
uni AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
v AS (SELECT count(*) AS vsz FROM uni),
occ AS (
  SELECT p.doc_id,
         CAST(round(ln((b.c2 + 1.0) / (u.c1 + v.vsz)) * {PPL_SCALE}) AS BIGINT) AS lp
  FROM pairs p
  JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
  JOIN uni u ON p.w1 = u.w
  CROSS JOIN v)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(lp) AS BIGINT) AS sum_lp_micro,
       CAST(sum(lp) // count(*) AS BIGINT) AS avg_lp_micro,
       (sum(lp) // count(*)) >= {PPL_KEEP_MICRO_NATS} AS keep
FROM occ
GROUP BY doc_id
"""


# ----------------------------- Kneser-Ney smoothed perplexity filter
#: absolute discount D = 3/4 — represented exactly as the rational
#: 3/4 by scaling every probability to the common 4·ctx·T grid
KN_KEEP_MICRO_NATS = -3_401_000  # ~half the corpus routes to drop


def doc_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram perplexity filter (ext): the
    production rung above ``doc_perplexity_filter``'s add-1 — KN
    interpolation is what actual LM-quality filters (CCNet's
    KenLM models) use, because add-1 butchers the probability mass of
    frequent contexts.  P(w2|w1) = (c(w1w2) - D)/c(w1·)
    + D·N1+(w1·)/c(w1·) · N1+(·w2)/T with D = 3/4 — the
    continuation-probability backoff that scores a word by how many
    CONTEXTS it follows, not how often it occurs.

    Exact-arithmetic portability: with D = 3/4 every probability is
    the integer ratio ((4·c2 - 3)·T + 3·N1f(w1)·N1b(w2)) /
    (4·ctx(w1)·T) — int64 numerators/denominators (corpus bigram
    counts bound them far under 2^63), ONE ln() per distinct ratio
    rounded to integer micro-nats (the doc_perplexity_filter
    contract), int64 document sums, integer keep threshold.
    Per-context probabilities sum exactly to 1 (the KN invariant) —
    pinned by a fractions-arithmetic pytest.

    Scale shape: four count tables (bigram, context, forward/backward
    continuation) shuffling once on their keys; T rides a 1-row
    broadcast; the per-occurrence scoring join is the
    doc_perplexity_filter equi-join lattice unchanged."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (x, i) -> struct(x AS w1, tk[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = big.groupBy("w1").agg(
        F.sum("c2").alias("ctx"), F.count(F.lit(1)).alias("n1f")
    )
    n1b = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    tt = big.agg(F.count(F.lit(1)).alias("tt"))
    occ = (
        pairs.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .join(n1b, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (
                        (F.lit(4) * F.col("c2") - F.lit(3)) * F.col("tt")
                        + F.lit(3) * F.col("n1f") * F.col("n1b")
                    ).cast("double")
                    / (F.lit(4) * F.col("ctx") * F.col("tt")).cast("double")
                )
                * PPL_SCALE
            )
            .cast("long")
            .alias("lp"),
        )
    )
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp").alias("sum_lp_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_micro",
            F.expr("sum_lp_micro div n_bigrams").alias("avg_lp_micro"),
            (F.expr("sum_lp_micro div n_bigrams") >= KN_KEEP_MICRO_NATS).alias(
                "keep"
            ),
        )
    )


DOC_KN_PERPLEXITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
pairs AS (
  SELECT doc_id, s['w1'] AS w1, s['w2'] AS w2
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS s
    FROM toks)),
big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c2) AS ctx, count(*) AS n1f FROM big GROUP BY w1),
n1b AS (SELECT w2, count(*) AS n1b FROM big GROUP BY w2),
tt AS (SELECT count(*) AS tt FROM big),
occ AS (
  SELECT p.doc_id,
         CAST(round(ln(
           CAST((4 * b.c2 - 3) * tt.tt + 3 * c.n1f * n.n1b AS DOUBLE)
           / CAST(4 * c.ctx * tt.tt AS DOUBLE)) * {PPL_SCALE}) AS BIGINT) AS lp
  FROM pairs p
  JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
  JOIN ctx c ON p.w1 = c.w1
  JOIN n1b n ON p.w2 = n.w2
  CROSS JOIN tt)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(lp) AS BIGINT) AS sum_lp_micro,
       CAST(sum(lp) // count(*) AS BIGINT) AS avg_lp_micro,
       (sum(lp) // count(*)) >= {KN_KEEP_MICRO_NATS} AS keep
FROM occ
GROUP BY doc_id
"""


# ---------------------------------------- per-source KL divergence
def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice drift measurement (ext): KL(P_source || P_corpus)
    over unigram distributions, per source — the mixture-health
    metric a pretraining pipeline tracks to spot sources drifting
    from (or collapsing into) the aggregate distribution.

    Everything derives from ONE occurrence shuffle: the (source, word)
    count table; corpus word counts, per-source totals, and the grand
    total are all re-aggregations of those partials (vocabulary-sized,
    map-side combinable).  No smoothing is needed — P_source's support
    is a subset of P_corpus's by construction, so every ratio is
    finite and positive.  Each distinct ratio is rounded to integer
    micro-nats (the shared grid of the perplexity/PMI/BM25 family),
    the expectation sum is exact int64, and the final division is
    integer: kl_micro = sum(c_sw * lr_micro) div C_s."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens(F.col("text")).alias("tk")
    )
    sw = (
        docs.select("source", F.explode("tk").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c_sw"))
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    cs = sw.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    tot = cw.groupBy().agg(F.sum("c_w").alias("c"))
    ndocs = docs.filter(F.size("tk") > 0).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        sw.join(cw, "w")
        .join(F.broadcast(cs), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lr_micro",
            F.round(
                F.log((F.col("c_sw") * F.col("c")).cast("double") / (F.col("c_w") * F.col("c_s")))
                * PPL_SCALE
            ).cast("long"),
        )
        .groupBy("source", "c_s")
        .agg(F.sum(F.expr("c_sw * lr_micro")).alias("kl_sum_micro"))
        .join(F.broadcast(ndocs), "source")
        .select(
            "source",
            "n_docs",
            F.col("c_s").alias("n_tokens"),
            F.expr("kl_sum_micro div c_s").alias("kl_micro"),
        )
        .orderBy("source")
    )


CORPUS_SOURCE_DIVERGENCE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> lower(x)) AS tk
  FROM documents),
sw AS (
  SELECT source, w, count(*) AS c_sw
  FROM (SELECT source, unnest(tk) AS w FROM toks)
  GROUP BY source, w),
cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
cs AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS c_s FROM sw GROUP BY source),
tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS c FROM cw),
nd AS (SELECT source, count(*) AS n_docs FROM toks WHERE len(tk) > 0 GROUP BY source),
kl AS (
  SELECT sw.source, cs.c_s,
         CAST(sum(c_sw * CAST(round(ln(CAST(c_sw * c AS DOUBLE) / (c_w * c_s))
                                    * {PPL_SCALE}) AS BIGINT)) AS BIGINT) AS kl_sum_micro
  FROM sw JOIN cw USING (w) JOIN cs USING (source) CROSS JOIN tot
  GROUP BY sw.source, cs.c_s)
SELECT kl.source, nd.n_docs, kl.c_s AS n_tokens,
       kl_sum_micro // kl.c_s AS kl_micro
FROM kl JOIN nd ON nd.source = kl.source
ORDER BY kl.source
"""


# ------------------------------------------- BM25 ranked retrieval
BM25_QUERIES = 8
BM25_K = 5
BM25_MIN_TF = 2


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked full-text retrieval (ext: operators/search.py::bm25_topk)
    — the lexical search tier next to the ANN ladder, and the ranked
    generalization of the reference's first-token inverted-index probe
    (matching/candidates.py).  Query sets are self-derived: each of
    the first 8 documents queries the corpus with its own repeated
    terms (tf >= 2), so the fixture is deterministic in both engines
    and self-retrieval sanity (the query doc ranking at/near the top)
    falls out for free.  Scoring is integer-grid BM25 (k1=6/5, b=3/4):
    milli-quantized length ratio, micro-nat RSJ idf, per-term integer
    division — the top-k ordering is bit-replayable.  Scale shape:
    query terms broadcast into the postings equi-join (only queried
    terms' postings are scored), postings/df one shuffle each,
    corpus stats a 1-row broadcast."""
    from musicflow_spark.operators.search import bm25_topk, postings_index

    docs = read_table(spark, sf_dir, "documents")
    qterms = (
        postings_index(docs.filter(F.col("doc_id") < BM25_QUERIES))
        .filter(F.col("tf") >= BM25_MIN_TF)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    return bm25_topk(docs, qterms, k=BM25_K)


def _doc_bm25_search_oracle_sql() -> str:
    from musicflow_spark.operators.search import bm25_oracle_sql

    return bm25_oracle_sql(
        "documents",
        queries_cte=(
            "SELECT doc_id AS query_id, term FROM post "
            f"WHERE doc_id < {BM25_QUERIES} AND tf >= {BM25_MIN_TF}"
        ),
        k=BM25_K,
    )


# ----------------------------------------------- Zipf-law exponent
ZIPF_V = 200  # fit over the top-V vocabulary ranks


def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary (ext): OLS of ln(count)
    on ln(rank) over the top-200 unigrams — the power-law exponent
    (slope ≈ -1 for natural language) every corpus-health dashboard
    tracks, and the cross-family composition of the vocabulary miner
    (corpus_vocab_topk) with the closed-form regression tier
    (brand_price_ols).  Both log coordinates are rounded to int64
    micro-nats BEFORE the moment aggregation, the moments are exact
    integer sums, and the coefficients apply the identical IEEE
    double expression in both engines — bit-portable end to end.
    Scale: one token-count shuffle, a 200-row top-k, a 1-row moment
    fold."""
    docs = read_table(spark, sf_dir, "documents")
    top = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(ZIPF_V)
    )
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("w")))
    ).select(
        F.round(F.log(F.col("rank").cast("double")) * PPL_SCALE)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")) * PPL_SCALE)
        .cast("long")
        .alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = d("n") * d("sxx") - d("sx") * d("sx")
    sst = d("n") * d("syy") - d("sy") * d("sy")
    return m.select(
        "n",
        pround(num / den, 6).alias("zipf_slope"),
        pround((d("sy") - num / den * d("sx")) / d("n") / PPL_SCALE, 6).alias(
            "ln_c"
        ),
        pround(num * num / (den * sst), 6).alias("r2"),
    )


def _corpus_zipf_fit_oracle_sql() -> str:
    from musicflow_spark.functions.portable import pround_sql

    num = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    den = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    sst = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    return rf"""
WITH toks AS (
  SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
vc AS (
  SELECT w, count(*) AS cnt
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
top AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
  FROM vc ORDER BY cnt DESC, w LIMIT {ZIPF_V}),
xy AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * {PPL_SCALE}) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * {PPL_SCALE}) AS BIGINT) AS y
  FROM top),
m AS (
  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM xy)
SELECT n,
       {pround_sql(f"{num} / {den}", 6)} AS zipf_slope,
       {pround_sql(f"(CAST(sy AS DOUBLE) - {num} / {den} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / {PPL_SCALE}", 6)} AS ln_c,
       {pround_sql(f"{num} * {num} / ({den} * {sst})", 6)} AS r2
FROM m
"""


# ------------------------------------ naive Bayes lang classifier
def doc_lang_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language router (ext: operators/classify.py): multinomial
    naive Bayes with add-1 smoothing, trained on the even-doc_id half
    of the corpus and applied to the odd half — the learned upgrade of
    the fixed-wordlist ``doc_lang_id`` heuristic, and the engine's
    fastText-shaped classify-then-route surface.  Every log term is an
    int64 micro-nat (shared NB_SCALE grid) and the per-document class
    sum is exact integer addition, so the argmax (ties broken by class
    name) replays bit-for-bit in SQL.  Scale shape: one shuffle to
    build the (word, class) count table, a broadcast of the per-class
    smoothing row, a word-keyed equi-join for scoring — test x vocab
    is never materialized; OOV tokens take the smoothed floor instead
    of silently dropping.  (The fixture corpus's lang labels are
    text-independent, so accuracy there sits at the prior; separability
    is proven on a crafted corpus in tests/test_classify.py — this
    query's gate is the bit-exact score/argmax replay.)"""
    from musicflow_spark.operators.classify import (
        naive_bayes_predict,
        naive_bayes_scores,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens(F.col("text")).alias("tk")
    )
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    pred = naive_bayes_predict(naive_bayes_scores(train, test, "lang"))
    return pred.join(test.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "pred",
        "score_micro",
        (F.col("pred") == F.col("lang")).alias("correct"),
    )


DOC_LANG_NB_CLASSIFIER_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents),
train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
test  AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
wc AS (
  SELECT cls, w, count(*) AS c_wc
  FROM (SELECT lang AS cls, unnest(t) AS w FROM train)
  GROUP BY cls, w),
ctot AS (SELECT cls, CAST(sum(c_wc) AS BIGINT) AS c_c FROM wc GROUP BY cls),
v AS (SELECT greatest(count(DISTINCT w), 1) AS vsz FROM wc),
nd AS (SELECT count(*) AS docs FROM train),
classes AS (SELECT lang AS cls FROM train GROUP BY lang),
prior AS (
  SELECT lang AS cls,
         CAST(round(ln(count(*) / CAST(docs AS double)) * 1000000) AS BIGINT)
           AS prior_micro
  FROM train CROSS JOIN nd GROUP BY lang, docs),
denom AS (
  -- from the CLASS table (zero-token classes keep their row)
  SELECT c.cls, coalesce(t.c_c, 0) + v.vsz AS den,
         CAST(round(ln(1.0 / (coalesce(t.c_c, 0) + v.vsz)) * 1000000) AS BIGINT)
           AS oov_micro
  FROM classes c LEFT JOIN ctot t ON t.cls = c.cls CROSS JOIN v),
occ_te AS (SELECT doc_id, unnest(t) AS w FROM test),
sums AS (
  SELECT doc_id, cls, CAST(sum(lp) AS BIGINT) AS sum_lp
  FROM (
    SELECT o.doc_id, d.cls,
           CASE WHEN wc.c_wc IS NOT NULL
                THEN CAST(round(ln((wc.c_wc + 1.0) / d.den) * 1000000) AS BIGINT)
                ELSE d.oov_micro END AS lp
    FROM occ_te o CROSS JOIN denom d
    LEFT JOIN wc ON wc.cls = d.cls AND wc.w = o.w)
  GROUP BY doc_id, cls),
ranked AS (
  SELECT t.doc_id, t.lang, p.cls,
         p.prior_micro + coalesce(s.sum_lp, 0) AS score_micro,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY p.prior_micro + coalesce(s.sum_lp, 0) DESC, p.cls) AS rk
  FROM test t CROSS JOIN prior p
  LEFT JOIN sums s ON s.doc_id = t.doc_id AND s.cls = p.cls)
SELECT doc_id, lang, cls AS pred,
       CAST(score_micro AS BIGINT) AS score_micro,
       (cls = lang) AS correct
FROM ranked WHERE rk = 1
"""


# ----------------------------------------- classifier evaluation
def nb_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation mart over the naive-Bayes router: per-class
    true positives, false positives, false negatives and integer
    basis-point precision/recall from the held-out predictions — the
    confusion-matrix aggregation every train/apply pipeline publishes
    next to the model.  Composition proof: the Spark side consumes
    doc_lang_nb_classifier's real output; the oracle nests that
    query's full SQL replay as a derived table, so a green row
    certifies classifier + evaluation together.  All-integer metrics
    (x*10000 div y, zero-guarded) — nothing to drift."""
    # checkpoint the predictions: four aggregation branches read them,
    # and re-deriving the classifier per branch would quadruple the
    # scoring joins (31 -> 9 exchanges measured at sf0.001)
    pred = doc_lang_nb_classifier(spark, sf_dir).localCheckpoint(eager=True)
    cells = pred.groupBy("lang", "pred").agg(F.count(F.lit(1)).alias("n"))
    support = cells.groupBy(F.col("lang").alias("cls")).agg(
        F.sum("n").alias("support")
    )
    predicted = cells.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").alias("predicted")
    )
    tp = (
        cells.filter(F.col("lang") == F.col("pred"))
        .select(F.col("lang").alias("cls"), F.col("n").alias("tp"))
    )
    return (
        support.join(predicted, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            (F.coalesce("predicted", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fp"),
            (F.coalesce("support", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fn"),
            F.when(
                F.coalesce("predicted", F.lit(0)) > 0,
                F.expr("coalesce(tp, 0) * 10000 div predicted"),
            ).otherwise(F.lit(None).cast("long")).alias("precision_bp"),
            F.when(
                F.coalesce("support", F.lit(0)) > 0,
                F.expr("coalesce(tp, 0) * 10000 div support"),
            ).otherwise(F.lit(None).cast("long")).alias("recall_bp"),
        )
    )


def _nb_classifier_eval_oracle_sql() -> str:
    return f"""
WITH pred AS ({DOC_LANG_NB_CLASSIFIER_SQL}),
cells AS (SELECT lang, pred, count(*) AS n FROM pred GROUP BY 1, 2),
sup AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS support FROM cells GROUP BY 1),
prd AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS predicted FROM cells GROUP BY 1),
tp AS (SELECT lang AS cls, CAST(n AS BIGINT) AS tp FROM cells WHERE lang = pred)
SELECT cls,
       coalesce(tp.tp, 0) AS tp,
       coalesce(predicted, 0) - coalesce(tp.tp, 0) AS fp,
       coalesce(support, 0) - coalesce(tp.tp, 0) AS fn,
       CASE WHEN coalesce(predicted, 0) > 0
            THEN coalesce(tp.tp, 0) * 10000 // predicted END AS precision_bp,
       CASE WHEN coalesce(support, 0) > 0
            THEN coalesce(tp.tp, 0) * 10000 // support END AS recall_bp
FROM sup FULL JOIN prd USING (cls) LEFT JOIN tp USING (cls)
"""


QUERIES = [
    Query(
        "nb_classifier_eval",
        "ext: confusion-matrix evaluation mart (per-class tp/fp/fn + bp precision/recall over the NB router's held-out predictions)",
        nb_classifier_eval,
        _nb_classifier_eval_oracle_sql(),
    ),
    Query(
        "corpus_zipf_fit",
        "ext: Zipf-law exponent fit (top-k vocab ranks, integer micro-nat log moments, closed-form OLS)",
        corpus_zipf_fit,
        _corpus_zipf_fit_oracle_sql(),
    ),
    Query(
        "doc_lang_nb_classifier",
        "ext: trained multinomial naive Bayes language router (even/odd split, integer micro-nat scores, OOV floor)",
        doc_lang_nb_classifier,
        DOC_LANG_NB_CLASSIFIER_SQL,
    ),
    Query(
        "doc_bm25_search",
        "ext: BM25 ranked retrieval over the inverted postings index (integer-grid scoring, self-derived query sets)",
        doc_bm25_search,
        _doc_bm25_search_oracle_sql(),
    ),
    Query(
        "corpus_source_divergence",
        "ext: per-source unigram KL divergence to the corpus mixture (one occurrence shuffle, integer micro-nat expectation)",
        corpus_source_divergence,
        CORPUS_SOURCE_DIVERGENCE_SQL,
    ),
    Query(
        "doc_bigram_condprob",
        "ext: bigram-LM conditional-probability quality signal (integer bp)",
        doc_bigram_condprob,
        DOC_BIGRAM_CONDPROB_SQL,
    ),
    Query(
        "doc_perplexity_filter",
        "ext: CCNet-style perplexity filter (add-1 bigram LM, integer micro-nat grid)",
        doc_perplexity_filter,
        DOC_PERPLEXITY_FILTER_SQL,
    ),
    Query(
        "doc_kn_perplexity",
        "ext: Kneser-Ney smoothed bigram perplexity filter (exact rational D=3/4, continuation backoff, integer micro-nat grid)",
        doc_kn_perplexity,
        DOC_KN_PERPLEXITY_SQL,
    ),
    Query(
        "doc_containment_pairs",
        "ext: asymmetric shingle containment (near-superset detection, df-capped index join)",
        doc_containment_pairs,
        DOC_CONTAINMENT_PAIRS_SQL,
    ),
    Query(
        "corpus_training_selection",
        "ext: end-to-end training-data selection mart (lang -> quality -> perplexity -> exact dedup -> canonical), first-reject routing",
        corpus_training_selection,
        _corpus_training_selection_oracle_sql(),
        bench=True,
    ),
    Query(
        "corpus_pmi_collocations",
        "ext: PMI collocation extraction (integer micro-nat grid, min-count floor)",
        corpus_pmi_collocations,
        CORPUS_PMI_COLLOCATIONS_SQL,
    ),
    Query("fix_title_parts", "F1,F3,D2", fix_title_parts, _fix_title_oracle_sql(), bench=True),
    Query("doc_fingerprint", "ext: rolling-hash fingerprinting", doc_fingerprint, DOC_FINGERPRINT_SQL),
    Query("doc_token_stats", "ext: token counting", doc_token_stats, DOC_TOKEN_STATS_SQL),
    Query("doc_quality", "ext: quality scoring", doc_quality, DOC_QUALITY_SQL),
    Query("doc_lang_id", "ext: language id", doc_lang_id, _lang_id_oracle_sql()),
    Query("doc_exact_dedup", "ext: exact dedup; A7", doc_exact_dedup, DOC_EXACT_DEDUP_SQL),
    Query(
        "doc_allpairs_exact",
        "ext: AllPairs/PPJoin prefix-filtered exact Jaccard join (completeness proven vs unpruned oracle)",
        doc_allpairs_exact,
        DOC_ALLPAIRS_EXACT_SQL,
    ),
    Query(
        "doc_paragraph_dedup",
        "ext: C4-style segment-level corpus dedup (first-occurrence-wins, reassembled text)",
        doc_paragraph_dedup,
        DOC_PARAGRAPH_DEDUP_SQL,
    ),
    Query("doc_jaccard_pairs", "ext: ngram jaccard dedup; J8", doc_jaccard_pairs, DOC_JACCARD_PAIRS_SQL, bench=True),
    Query("doc_dedup_clusters", "ext: dedup clustering (connected components)", doc_dedup_clusters, DOC_DEDUP_CLUSTERS_SQL),
    Query("doc_star_components", "ext: dedup clustering (large-star/small-star contraction, O(log^2 n) rounds)", doc_star_components, DOC_DEDUP_CLUSTERS_SQL),
    Query("doc_hash_embedding", "ext: feature-hashing text embedding", doc_hash_embedding, DOC_HASH_EMBEDDING_SQL),
    Query("doc_length_profile", "ext: corpus length profiling (exact percentiles)", doc_length_profile, DOC_LENGTH_PROFILE_SQL),
    Query("corpus_clean", "ext: full cleaning pipeline (lang+quality+dedup+clustering)", corpus_clean, _corpus_clean_oracle_sql()),
    Query("doc_text_knn", "ext: text->embedding->ANN composite", doc_text_knn, _doc_text_knn_oracle_sql()),
    Query("doc_hard_negatives", "ext: contrastive hard-negative mining (sub-threshold top-k)", doc_hard_negatives, _doc_hard_negatives_oracle_sql()),
    Query("doc_minhash_dedup", "ext: minhash LSH dedup", doc_minhash_dedup, DOC_JACCARD_PAIRS_SQL, bench=True),
    Query("doc_incremental_dedup", "ext: delta-vs-corpus incremental dedup (no base-x-base pairing)", doc_incremental_dedup, DOC_INCREMENTAL_DEDUP_SQL, bench=True),
    Query("doc_winnow_fingerprints", "ext: winnowing (MOSS) fingerprint selection, oracle-replayed", doc_winnow_fingerprints, DOC_WINNOW_FINGERPRINTS_SQL),
    Query("doc_winnow_pairs", "ext: fingerprint-join dedup tier (deterministic shared-run guarantee)", doc_winnow_pairs, DOC_WINNOW_PAIRS_SQL, bench=True),
    Query("doc_simhash_pairs", "ext: simhash dedup", doc_simhash_pairs, _simhash_oracle_sql()),
    Query("doc_tfidf_topk", "ext: tf-idf keyword extraction", doc_tfidf_topk, DOC_TFIDF_TOPK_SQL),
    Query("doc_frequent_ngrams", "ext: heavy-hitter ngrams (boilerplate mining)", doc_frequent_ngrams, DOC_FREQUENT_NGRAMS_SQL),
    Query("doc_dup_spans", "ext: longest duplicated token span per near-dup pair", doc_dup_spans, DOC_DUP_SPANS_SQL),
    Query("doc_span_scrub", "ext: duplicated-span REMOVAL — cross-doc >=8-token spans cut, first occurrence kept, clean text reassembled", doc_span_scrub, DOC_SPAN_SCRUB_SQL),
    Query("doc_suffix_dedup", "ext: EXACT long-substring dedup (suffix-ordered, Lee et al.) — >=50-token repeated windows cut, first occurrence kept", doc_suffix_dedup, DOC_SUFFIX_DEDUP_SQL),
    Query("doc_substring_dedup", "ext: maximal cross-document duplicated-substring ladder — per-pair (a_start, b_start, span_len) of every maximal >=20-token verbatim shared run (diagonal island merge over the L-truncated suffix join)", doc_substring_dedup, DOC_SUBSTRING_DEDUP_SQL, bench=True),
    Query("corpus_vocab_topk", "ext: vocabulary coverage curve (top-k unigrams + cum share)", corpus_vocab_topk, CORPUS_VOCAB_TOPK_SQL),
    Query("doc_rarity_score", "ext: integer-exact unigram rarity scoring (LM-free perplexity bucket)", doc_rarity_score, DOC_RARITY_SCORE_SQL),
    Query("doc_bpe_token_stats", "ext: BPE-ish pre-tokenizer piece counting", doc_bpe_token_stats, DOC_BPE_TOKEN_STATS_SQL),
    Query("corpus_bpe_merges", "ext: BPE tokenizer TRAINING — greedy merge learning over the word-type histogram, 12 unrolled rounds hash-replayed", corpus_bpe_merges, bpe_oracle_sql(BPE_N_MERGES)),
    Query("corpus_unigram_vocab", "ext: unigram-LM tokenizer TRAINING — SentencePiece-style prune loop, 8 unrolled hard-EM rounds hash-replayed", corpus_unigram_vocab, unigram_oracle_sql(UNI_N_PRUNES)),
    Query("doc_unigram_encode", "ext: unigram tokenizer APPLY — greedy-walk encode off the vocab-sized word-type state; oracle nests the 8 prune-training rounds", doc_unigram_encode, _doc_unigram_encode_oracle_sql()),
    Query("doc_tokenizer_compare", "ext: trained-tokenizer comparison — per-doc BPE vs unigram compression in one plan; oracle nests BOTH full training chains", doc_tokenizer_compare, _doc_tokenizer_compare_oracle_sql()),
    Query("doc_quality_logreg", "ext: gradient-TRAINED logistic quality classifier — 8 full-batch GD rounds on the integer micro-grid, unrolled SQL replay", doc_quality_logreg, _doc_quality_logreg_oracle_sql()),
    Query("doc_quality_calibration", "ext: classifier calibration eval — per-confidence-bin reliability table (ECE terms) of the trained logreg, integer micro grid, training chain nested in the oracle", doc_quality_calibration, _doc_quality_calibration_oracle_sql()),
    Query("doc_quality_adaboost", "ext: BOOSTING-trained quality classifier — discrete AdaBoost over integer stumps, exact rational reweighting (no transcendental), unrolled SQL replay", doc_quality_adaboost, _doc_quality_adaboost_oracle_sql()),
    Query("doc_bpe_encode", "ext: BPE tokenizer APPLY — encode the corpus with the learned 12-merge vocabulary via the vocab-sized word-type state join; oracle nests the training CTEs", doc_bpe_encode, _doc_bpe_encode_oracle_sql()),
    Query("doc_canonical_selection", "ext: longest-member canonical doc per dedup cluster", doc_canonical_selection, _doc_canonical_selection_oracle_sql()),
]
