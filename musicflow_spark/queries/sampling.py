"""Dataset-selection queries (ext): deterministic split, stratified
sampling, sequence packing, and document chunking over the documents
table — the selection/layout layer of a training-data pipeline
(operators/sampling.py).

Every draw is hash-based (no RNG), so each oracle replicates the full
pipeline bit-for-bit through the shared portable 60-bit md5 hash —
these are exact hash-match checks, not statistical ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.functions.portable import pround
from musicflow_spark.operators.sampling import (
    bernoulli_sample,
    mixture_interleave,
    chunk_documents,
    global_hash_sample,
    hash_split,
    pack_sequences,
    split_contamination,
    stratified_sample,
    token_count,
)
from musicflow_spark.queries.registry import Query
from musicflow_spark.sources.catalog import read_table

#: DuckDB twin of operators/dedup.py::portable_hash60 on a string expr
_H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
STRATUM_N = 20
PACK_BUDGET = 256
PACK_SHARDS = 8
CHUNK_LEN = 200
CHUNK_STRIDE = 150


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (ext): stable hash of the
    doc id -> bucket -> named split; map-only, no shuffle, frozen
    under corpus growth."""
    docs = read_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", SPLIT_WEIGHTS).select(
        "doc_id", "bucket", "split"
    )


DOC_SPLIT_ASSIGN_SQL = f"""
WITH h AS (
  SELECT doc_id, {_H.format(x="cast(doc_id AS varchar)")} % 10000 AS bucket
  FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quota sample (ext): exactly min(20, |stratum|) docs
    per language, drawn by hash order — the reproducible rebalancing
    draw for skewed source distributions."""
    docs = read_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, ["lang"], STRATUM_N, "doc_id")
    return out.select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


DOC_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_H.format(x="cast(doc_id AS varchar)")}, doc_id
         ) AS sample_rank
  FROM documents)
WHERE sample_rank <= {STRATUM_N}
"""


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (ext): documents sharded by hash, laid
    end-to-end per shard, mapped to their 256-token training-sequence
    span — one shuffle, shards pack independently."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(
        docs, "n_tokens", "doc_id", PACK_BUDGET, n_shards=PACK_SHARDS
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        F.col("shard").cast("long").alias("shard"),
        "tok_offset",
        "seq_first",
        "seq_last",
    )


DOC_PACK_SEQUENCES_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
         {_H.format(x="cast(doc_id AS varchar)")} % {PACK_SHARDS} AS shard
  FROM documents),
w AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
  FROM t)
SELECT doc_id, n_tokens, shard, tok_offset,
       tok_offset // {PACK_BUDGET} AS seq_first,
       greatest((tok_offset + n_tokens - 1) // {PACK_BUDGET},
                tok_offset // {PACK_BUDGET}) AS seq_last
FROM w
"""


def doc_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing by TRAINED-tokenizer lengths (ext): the
    doc_pack_sequences layout driven by each document's LEARNED-BPE
    piece count (doc_bpe_encode's n_pieces) instead of the whitespace
    proxy — what a pretraining pipeline actually packs with, since
    context budgets are tokenizer tokens, not words.  One plan
    therefore nests the BPE training chain ahead of the packing
    window; docs with no encodable word drop out of the packing
    domain (the encode join's semantics, mirrored by the oracle).

    Scale shape: the encode join's shape (explode + vocab-sized
    word-keyed join + per-doc agg) followed by packing's single
    shard-keyed shuffle — shards pack independently, no global
    window."""
    from musicflow_spark.queries.textops import doc_bpe_encode

    enc = doc_bpe_encode(spark, sf_dir).select(
        "doc_id", F.col("n_pieces").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(
        enc, "n_tokens", "doc_id", PACK_BUDGET, n_shards=PACK_SHARDS
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        F.col("shard").cast("long").alias("shard"),
        "tok_offset",
        "seq_first",
        "seq_last",
    )


def _doc_pack_bpe_oracle_sql() -> str:
    from musicflow_spark.queries.textops import _doc_bpe_encode_oracle_sql

    return rf"""
WITH enc AS (
  SELECT doc_id, n_pieces AS n_tokens
  FROM ({_doc_bpe_encode_oracle_sql()})),
t AS (
  SELECT doc_id, n_tokens,
         {_H.format(x="cast(doc_id AS varchar)")} % {PACK_SHARDS} AS shard
  FROM enc),
w AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
  FROM t)
SELECT doc_id, n_tokens, shard, tok_offset,
       tok_offset // {PACK_BUDGET} AS seq_first,
       greatest((tok_offset + n_tokens - 1) // {PACK_BUDGET},
                tok_offset // {PACK_BUDGET}) AS seq_last
FROM w
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (ext): 200-char windows at stride 150
    (50-char overlap); map + explode, no shuffle.  Chunk content
    compared by md5 so the hash check covers the bytes without
    shipping the corpus twice."""
    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "text", "doc_id", CHUNK_LEN, CHUNK_STRIDE)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5("chunk_text").alias("chunk_md5"),
        F.col("chunk_n_chars").cast("long").alias("chunk_n_chars"),
    )


DOC_CHUNKS_SQL = f"""
WITH c AS (
  SELECT doc_id, text,
         unnest(range(greatest(cast(ceil((length(text) - {CHUNK_LEN}) / {CHUNK_STRIDE}.0) AS BIGINT), 0) + 1)) AS chunk_idx
  FROM documents)
SELECT doc_id, chunk_idx,
       md5(substr(text, cast(chunk_idx * {CHUNK_STRIDE} + 1 AS int), {CHUNK_LEN})) AS chunk_md5,
       length(substr(text, cast(chunk_idx * {CHUNK_STRIDE} + 1 AS int), {CHUNK_LEN})) AS chunk_n_chars
FROM c
"""


def doc_split_contamination(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Decontamination probe (ext): eval documents that leak from the
    training split, as (eval, train) evidence pairs — exact tier by
    normalized fingerprint equi-join, near tier by the bounded
    inverted-index Jaccard join across the split boundary
    (operators/sampling.py::split_contamination).  ``pairs`` forwards
    a shared jaccard_pairs frame (see split_contamination)."""
    docs = read_table(spark, sf_dir, "documents")
    out = split_contamination(
        docs, "doc_id", "text", SPLIT_WEIGHTS, pairs=pairs, fps=fps
    )
    return out.select(
        "eval_id",
        "split",
        "train_id",
        "kind",
        pround(F.col("jaccard"), 6).alias("jaccard"),
    )


DOC_SPLIT_CONTAMINATION_SQL = rf"""
WITH h AS (
  SELECT doc_id, text,
         {_H.format(x="cast(doc_id AS varchar)")} % 10000 AS bucket
  FROM documents),
split AS (
  SELECT doc_id, text,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM h),
fp AS (
  SELECT doc_id, split,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM split),
exact AS (
  SELECT e.doc_id AS eval_id, e.split AS split, t.doc_id AS train_id,
         'exact' AS kind, CAST(NULL AS double) AS jaccard
  FROM fp e JOIN fp t ON e.fp = t.fp
  WHERE t.split = 'train' AND e.split <> 'train'),
toks AS (
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
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) AS jaccard
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
  HAVING count(*) / cast(a.n_sh + b.n_sh - count(*) AS double) >= 0.2),
sided AS (
  SELECT p.*, sa.split AS split_a, sb.split AS split_b
  FROM pairs p
  JOIN split sa ON p.doc_a = sa.doc_id
  JOIN split sb ON p.doc_b = sb.doc_id),
near AS (
  SELECT CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS eval_id,
         CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS split,
         CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END AS train_id,
         'near' AS kind,
         round(jaccard * 1000000.0) / 1000000.0 AS jaccard
  FROM sided
  WHERE (split_a = 'train') <> (split_b = 'train')),
near2 AS (
  SELECT n.* FROM near n
  LEFT JOIN exact x ON n.eval_id = x.eval_id AND n.train_id = x.train_id
  WHERE x.eval_id IS NULL)
SELECT * FROM exact UNION ALL SELECT * FROM near2
"""


#: per-language keep rates for the weighted downsampler — the standard
#: rebalancing move (keep all scarce languages, thin the dominant one)
BERN_RATES = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 0.8, "zh": 1.0}
GLOBAL_SAMPLE_K = 64


def doc_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic downsampling (ext): per-language keep
    rates via the hash-bucket Bernoulli draw — map-only, frozen under
    reruns (operators/sampling.py::bernoulli_sample)."""
    docs = read_table(spark, sf_dir, "documents")
    rate = F.lit(0.5)
    for lang, r in BERN_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return bernoulli_sample(docs, "doc_id", rate).select("doc_id", "lang")


def _bernoulli_oracle_sql() -> str:
    case = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in BERN_RATES.items()
    ) + " ELSE 0.5 END"
    h = _H.format(x="'bern:' || cast(doc_id AS varchar)")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {h} % 1000000 < cast({case} * 1000000 AS bigint)
"""


def doc_global_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k global sample (ext): smallest-hash top-k via
    TakeOrderedAndProject — per-partition heaps, no global sort
    (operators/sampling.py::global_hash_sample)."""
    docs = read_table(spark, sf_dir, "documents")
    return global_hash_sample(docs, "doc_id", GLOBAL_SAMPLE_K).select(
        "doc_id", "lang"
    )


def _global_sample_oracle_sql() -> str:
    h = _H.format(x="'gs:' || cast(doc_id AS varchar)")
    return f"""
SELECT doc_id, lang FROM documents
ORDER BY {h}, doc_id LIMIT {GLOBAL_SAMPLE_K}
"""


MIX_WEIGHTS = {"en": 0.5, "zh": 0.15, "es": 0.15, "de": 0.1}
MIX_DEFAULT = 0.1


def doc_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-interleave schedule (ext): stride scheduling of the
    documents corpus by language weights — any prefix of the mix_pos
    order carries each language in its target proportion.  Fully
    hash-deterministic, so the oracle replays rank and position
    exactly (operators/sampling.py::mixture_interleave)."""
    docs = read_table(spark, sf_dir, "documents")
    return mixture_interleave(
        docs, "lang", MIX_WEIGHTS, "doc_id", default_weight=MIX_DEFAULT
    ).select("doc_id", "lang", "mix_rank", "mix_pos")


def _mixture_oracle_sql() -> str:
    case = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {w}" for lang, w in MIX_WEIGHTS.items()
    ) + f" ELSE {MIX_DEFAULT} END"
    h = _H.format(x="'mix:' || cast(doc_id AS varchar)")
    return f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS mix_rank
  FROM documents)
SELECT doc_id, lang, mix_rank, mix_rank / ({case}) AS mix_pos
FROM ranked
"""


# --------------------------------- temperature-scaled mixture weights
TEMP_K = 10_000  # samples to apportion across sources
TEMP_SCALE = 1_000_000  # micro grid for the tempered weights


def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture apportionment (ext): per-source
    sample allocation proportional to n_s^0.5 — the α<1 tempering
    (α = 1/T) multilingual pretraining uses to upsample low-resource
    slices without letting any slice vanish.  The tempered weight is
    rounded to the integer micro grid BEFORE the normalizing sum
    (sqrt is correctly-rounded IEEE in both engines; summing raw
    doubles would be order-dependent), and the allocation is exact
    largest-remainder apportionment: base = (w*K) div W, the K−Σbase
    leftover seats go to the largest integer remainders (source-name
    tiebreak) — Σalloc == K exactly, certified by the oracle.
    Scale: one source-count aggregate, a 1-row total broadcast, a
    |sources|-row ranking window."""
    docs = read_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = src.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * TEMP_SCALE, 0)
        .cast("long")
        .alias("w_micro"),
    )
    tot = w.agg(F.sum("w_micro").alias("w_total"))
    alloc = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(f"(w_micro * {TEMP_K}) div w_total"))
        .withColumn("rem", F.expr(f"(w_micro * {TEMP_K}) % w_total"))
    )
    leftover = alloc.agg(
        (F.lit(TEMP_K) - F.sum("base")).alias("seats")
    )
    rk = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        alloc.crossJoin(F.broadcast(leftover))
        .withColumn("rk", F.row_number().over(rk))
        .select(
            "source",
            "n_docs",
            "w_micro",
            (F.col("base") + (F.col("rk") <= F.col("seats")).cast("long")).alias(
                "alloc"
            ),
        )
    )


CORPUS_TEMPERATURE_MIXTURE_SQL = f"""
WITH src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * {TEMP_SCALE}) AS BIGINT) AS w_micro
  FROM src),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_total FROM w),
alloc AS (
  SELECT source, n_docs, w_micro,
         (w_micro * {TEMP_K}) // w_total AS base,
         (w_micro * {TEMP_K}) % w_total AS rem
  FROM w CROSS JOIN tot),
seats AS (SELECT {TEMP_K} - CAST(sum(base) AS BIGINT) AS seats FROM alloc)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, w_micro,
       base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= seats
                   THEN 1 ELSE 0 END AS alloc
FROM alloc CROSS JOIN seats
"""


# ------------------------------------ weighted systematic sampling
PPS_K = 50


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS sampling (ext: operators/sampling.py::
    weighted_systematic_sample): ~50 documents drawn with probability
    proportional to length (n_chars) by fixed-stride systematic
    selection over the hash-shuffled cumulative-weight line — the
    RNG-free weighted sampler (heavier docs picked with multiplicity
    when they span a stride).  The Spark side runs the two-phase
    partitioned cumulative sum (range repartition + per-partition
    window + broadcast prefix offsets); the oracle replays the SAME
    total order with a plain global window, proving the parallel
    decomposition equals the single-partition form."""
    from musicflow_spark.operators.sampling import weighted_systematic_sample

    docs = read_table(spark, sf_dir, "documents")
    return weighted_systematic_sample(docs, "n_chars", k=PPS_K).select(
        "doc_id", "n_chars", "cum_w", "pick_count"
    )


DOC_WEIGHTED_SAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id, n_chars,
         {_H.format(x="'pps:' || cast(doc_id AS varchar)")} AS hh
  FROM documents),
c AS (
  SELECT doc_id, n_chars,
         CAST(sum(n_chars) OVER (ORDER BY hh, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w
  FROM h),
t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w FROM documents)
SELECT doc_id, n_chars, cum_w,
       (cum_w * {PPS_K}) // w - ((cum_w - n_chars) * {PPS_K}) // w AS pick_count
FROM c CROSS JOIN t
WHERE (cum_w * {PPS_K}) // w - ((cum_w - n_chars) * {PPS_K}) // w > 0
"""


# --------------------------------------- DSIR importance selection
DSIR_BUCKETS = 1024  # hashed-unigram feature space (power of two)
DSIR_SCALE = 1_000_000  # shared micro-nat grid


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR scoring pipeline (selection + resampling tiers):
    hashed-unigram occurrence counts, per-bucket target/corpus add-1
    log-ratios on the micro-nat grid, exact int64 per-doc importance
    sums.  Returns (doc_id, lang, n_toks, imp_sum_micro)."""
    from musicflow_spark.operators.dedup import portable_hash60
    from musicflow_spark.operators.textstats import tokens

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.transform(
            tokens(F.col("text")), lambda t: portable_hash60(F.lower(t)) % DSIR_BUCKETS
        ).alias("bk"),
    )
    occ = (
        docs.select("doc_id", "lang", F.explode("bk").alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    buckets = occ.groupBy("b").agg(
        F.sum("cnt").alias("cr_b"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(F.lit(0))).alias(
            "ct_b"
        ),
    )
    tot = buckets.groupBy().agg(
        F.sum("cr_b").alias("c_r"), F.sum("ct_b").alias("c_t")
    )
    lr = (
        buckets.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.col("ct_b") + 1) * (F.col("c_r") + DSIR_BUCKETS)).cast("double")
                    / ((F.col("cr_b") + 1) * (F.col("c_t") + DSIR_BUCKETS))
                )
                * DSIR_SCALE
            ).cast("long")
            .alias("lr_micro"),
        )
    )
    return occ.join(F.broadcast(lr), "b").groupBy("doc_id", "lang").agg(
        F.sum("cnt").alias("n_toks"),
        F.sum(F.expr("cnt * lr_micro")).alias("imp_sum_micro"),
    )


def corpus_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (ext; Xie et al. 2023,
    DSIR): score every document by how much more likely its hashed
    unigram features are under the TARGET distribution (here: the
    English slice, a metadata-defined exemplar set) than under the
    RAW corpus, and route documents whose per-token importance beats
    the token-weighted corpus mean into the selected pool — the
    deterministic-threshold variant of DSIR's importance resampling.
    (The threshold is data-derived because add-1 smoothing with B
    comparable to the target token count shifts ALL scores by about
    ln((Cr+B)/(Ct+B)) - ln(Cr/Ct); an absolute zero cut would encode
    the corpus size into the routing.)

    Integer-grid portability (the perplexity/PMI/BM25 discipline):
    per-bucket log ratios with add-1 smoothing,
    lr_micro(b) = round(ln((ct_b+1)(Cr+B) / ((cr_b+1)(Ct+B)))*1e6),
    are computed once per bucket (<= 1024 rows), per-doc sums are
    exact int64, and the keep decision compares an integer division
    against zero.

    Scale shape: ONE occurrence shuffle keyed (doc_id, bucket); the
    bucket LM tables are re-aggregations of those partials and join
    back as a broadcast (bounded by B); totals are a 1-row broadcast.
    """
    scored = _dsir_scored(spark, sf_dir)
    thresh = scored.groupBy().agg(
        F.expr("sum(imp_sum_micro) div sum(n_toks)").alias("mean_imp_micro")
    )
    return scored.crossJoin(F.broadcast(thresh)).select(
        "doc_id",
        "lang",
        "n_toks",
        F.expr("imp_sum_micro div n_toks").alias("avg_imp_micro"),
        (F.expr("imp_sum_micro div n_toks") >= F.col("mean_imp_micro")).alias(
            "selected"
        ),
    )


#: shared CTE prefix of the two DSIR oracles (selection + resampling):
#: hashed-unigram occurrences, bucket log-ratios, per-doc importance
#: sums — one SQL definition of the scoring pipeline.
_DSIR_SCORED_CTES = rf"""toks AS (
  SELECT doc_id, lang,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
                        x -> {_H.format(x="lower(x)")} % {DSIR_BUCKETS}) AS bk
  FROM documents),
occ AS (
  SELECT doc_id, lang, b, count(*) AS cnt
  FROM (SELECT doc_id, lang, unnest(bk) AS b FROM toks)
  GROUP BY doc_id, lang, b),
buckets AS (
  SELECT b, CAST(sum(cnt) AS BIGINT) AS cr_b,
         CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS BIGINT) AS ct_b
  FROM occ GROUP BY b),
tot AS (SELECT CAST(sum(cr_b) AS BIGINT) AS c_r, CAST(sum(ct_b) AS BIGINT) AS c_t
        FROM buckets),
lr AS (
  SELECT b, CAST(round(ln(CAST((ct_b + 1) * (c_r + {DSIR_BUCKETS}) AS DOUBLE)
                          / ((cr_b + 1) * (c_t + {DSIR_BUCKETS})))
                       * {DSIR_SCALE}) AS BIGINT) AS lr_micro
  FROM buckets CROSS JOIN tot),
scored AS (
  SELECT doc_id, lang,
         CAST(sum(cnt) AS BIGINT) AS n_toks,
         CAST(sum(cnt * lr_micro) AS BIGINT) AS imp_sum_micro
  FROM occ JOIN lr USING (b)
  GROUP BY doc_id, lang)"""


CORPUS_DSIR_SELECTION_SQL = rf"""
WITH {_DSIR_SCORED_CTES},
thresh AS (SELECT CAST(sum(imp_sum_micro) AS BIGINT) // CAST(sum(n_toks) AS BIGINT)
             AS mean_imp_micro FROM scored)
SELECT doc_id, lang, n_toks,
       imp_sum_micro // n_toks AS avg_imp_micro,
       imp_sum_micro // n_toks >= mean_imp_micro AS selected
FROM scored CROSS JOIN thresh
"""


DSIR_SAMPLE_K = 100  # resampled pool size


def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING (ext — VERDICT r11 item 5): the
    selection ladder had rarity scoring, weighted sampling, and the
    threshold-routing DSIR variant (``corpus_dsir_selection``) but
    not the paper's actual sampling step — draw a pool with
    probability proportional to the target/corpus importance RATIO
    (Xie et al. 2023: w(x) = p_target(x)/p_raw(x) over hashed n-gram
    features), so target-domain-like documents are ENRICHED rather
    than hard-routed.  Composition, all proven pieces: the shared
    ``_dsir_scored`` pipeline (hashed-unigram log-ratios on the
    micro-nat grid) → per-token importance exp'd back to a ratio on
    the integer micro grid (w_micro = round(exp(avg_nats) · 1e6);
    per-TOKEN, not per-doc — the raw product over tokens would make
    length dominate domain) → ``weighted_systematic_sample``'s
    deterministic stride-PPS selection (the RNG-free resampler; ES
    order by portable hash, integer stride-crossing test).

    Output: the picked documents with weight, cumulative position and
    multiplicity.  tests/test_sampling_dsir.py asserts the enrichment
    property: the en (target) share of the picked pool strictly
    exceeds the corpus share, while uniform sampling matches it.

    Scale: scoring is the one (doc_id, bucket) shuffle; the sampler
    is one range shuffle + per-partition windows (no global window).
    Weight headroom (ADVICE r12): w_micro = round(exp(avg_nats)·1e6)
    is bounded by exp(max avg per-token log-ratio), NOT by 1e6 — a
    doc averaging a nats contributes ~e^a·1e6 (a=10 → ~2.2e10).  The
    structural bound: the target is a SLICE of the corpus, so every
    bucket has ct_b ≤ cr_b and lr_micro ≤ ln((Cr+B)/(Ct+B)) — i.e.
    max avg_nats ≤ ln of the corpus/target token ratio, a corpus
    constant (≈1.6 nats when the target is ~20% of tokens → w_micro
    ≤ ~5e6).  The Σw·k < 2^63 contract therefore holds whenever
    N·k·(Cr/Ct)·1e6 < 2^63; the backstop for corpora that break it
    is ``weighted_systematic_sample``'s loud overflow ValueError —
    the run fails, it never silently wraps."""
    from musicflow_spark.operators.sampling import weighted_systematic_sample

    scored = _dsir_scored(spark, sf_dir)
    wts = scored.select(
        "doc_id",
        "lang",
        F.expr("imp_sum_micro div n_toks").alias("avg_imp_micro"),
        F.round(
            F.exp(
                F.expr("imp_sum_micro div n_toks").cast("double") / DSIR_SCALE
            )
            * DSIR_SCALE
        )
        .cast("long")
        .alias("w_micro"),
    )
    picked = weighted_systematic_sample(wts, "w_micro", k=DSIR_SAMPLE_K)
    return picked.select(
        "doc_id", "lang", "avg_imp_micro", "w_micro", "cum_w", "pick_count"
    )


CORPUS_DSIR_SAMPLE_SQL = rf"""
WITH {_DSIR_SCORED_CTES},
wts AS (
  SELECT doc_id, lang,
         imp_sum_micro // n_toks AS avg_imp_micro,
         CAST(round(exp(CAST(imp_sum_micro // n_toks AS DOUBLE) / {DSIR_SCALE})
                    * {DSIR_SCALE}) AS BIGINT) AS w_micro
  FROM scored),
h AS (
  SELECT doc_id, lang, avg_imp_micro, w_micro,
         {_H.format(x="'pps:' || cast(doc_id AS varchar)")} AS hh
  FROM wts),
c AS (
  SELECT doc_id, lang, avg_imp_micro, w_micro,
         CAST(sum(w_micro) OVER (ORDER BY hh, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w
  FROM h),
t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w FROM wts)
SELECT doc_id, lang, avg_imp_micro, w_micro, cum_w,
       (cum_w * {DSIR_SAMPLE_K}) // w
         - ((cum_w - w_micro) * {DSIR_SAMPLE_K}) // w AS pick_count
FROM c CROSS JOIN t
WHERE (cum_w * {DSIR_SAMPLE_K}) // w
        - ((cum_w - w_micro) * {DSIR_SAMPLE_K}) // w > 0
"""


PREF_GROUP = 4  # docs per prompt group (fixture grouping key)


def doc_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly (ext: the DPO/RLHF data-prep
    operation): treat each block of PREF_GROUP consecutive doc_ids as
    candidate completions of one prompt, score each completion with
    the integer lexical-diversity heuristic (distinct-token count,
    the doc_quality_logreg label family), and emit one (chosen,
    rejected) pair per prompt — chosen = top score, rejected = bottom
    score, ties broken by doc_id so the pair is deterministic —
    plus the two diagnostics a preference dataset is audited on
    before training: the score margin (weak-preference pairs get
    filtered downstream) and the token-length gap (length bias:
    a reward model trained on pairs where chosen is systematically
    longer learns length, not quality).  Groups with fewer than two
    members emit nothing (no self-pairs).

    Scale shape: one map pass for scores, one groupBy(prompt) with
    min/max-by aggregates — a single keyed shuffle; no window, no
    join.  Returns (prompt_id, chosen_id, rejected_id, score_margin,
    len_gap)."""
    from musicflow_spark.operators.textstats import tokens

    docs = read_table(spark, sf_dir, "documents")
    tk = tokens("text")
    scored = docs.select(
        (F.col("doc_id") / PREF_GROUP).cast("long").alias("prompt_id"),
        "doc_id",
        F.size(F.array_distinct(tk)).cast("long").alias("score"),
        F.size(tk).cast("long").alias("n_tokens"),
    )
    # max_by/min_by with a struct orders by (score, doc_id): chosen =
    # highest score with the LOWEST id on ties (negated id in the max
    # key), rejected = lowest score with the HIGHEST id on ties — so
    # a fully-tied group still yields chosen != rejected
    chosen = F.max_by(
        F.struct("doc_id", "score", "n_tokens"),
        F.struct(F.col("score"), -F.col("doc_id")),
    )
    rejected = F.min_by(
        F.struct("doc_id", "score", "n_tokens"),
        F.struct(F.col("score"), -F.col("doc_id")),
    )
    return (
        scored.groupBy("prompt_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            chosen.alias("c"),
            rejected.alias("r"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "prompt_id",
            F.col("c.doc_id").alias("chosen_id"),
            F.col("r.doc_id").alias("rejected_id"),
            (F.col("c.score") - F.col("r.score")).alias("score_margin"),
            (F.col("c.n_tokens") - F.col("r.n_tokens")).alias("len_gap"),
        )
    )


DOC_PREFERENCE_PAIRS_SQL = rf"""
WITH scored AS (
  SELECT doc_id // {PREF_GROUP} AS prompt_id, doc_id,
         cast(len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
              x -> x <> ''))) AS bigint) AS score,
         cast(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> x <> '')) AS bigint) AS n_tokens
  FROM documents),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY score DESC, doc_id ASC) AS rc,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY score ASC, doc_id DESC) AS rr,
         count(*) OVER (PARTITION BY prompt_id) AS n
  FROM scored)
SELECT c.prompt_id AS prompt_id,
       c.doc_id AS chosen_id,
       r.doc_id AS rejected_id,
       c.score - r.score AS score_margin,
       c.n_tokens - r.n_tokens AS len_gap
FROM (SELECT * FROM ranked WHERE rc = 1) c
JOIN (SELECT * FROM ranked WHERE rr = 1) r USING (prompt_id)
WHERE c.n >= 2
"""


SHUF_BUDGET = 256
SHUF_SHARDS = 8


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard manifest (ext — VERDICT
    r09 item 5, the last unbuilt stage of a training-data pipeline):
    ONE seeded global permutation of the corpus in hash order (no
    global sort — fixed hash ranges ARE the shards), emitted as the
    per-doc manifest a data-parallel trainer reads: (shard_id,
    doc_order, n_tokens, tok_offset, global_offset, seq_first,
    seq_last) with EXACT global token budgets via the two-level
    prefix sum (per-shard running sums + an 8-row base-offset
    broadcast).

    Scale shape: one map (draw + shard range), one hash-partitioned
    shuffle with in-task sort, one n_shards-row bounded global window
    — the 100 TB shape of 'shuffle the corpus and tell every worker
    exactly which tokens it owns'."""
    from musicflow_spark.operators.sampling import shuffled_shard_manifest

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    out = shuffled_shard_manifest(
        docs, "doc_id", "n_tokens", SHUF_BUDGET, n_shards=SHUF_SHARDS
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("shard_id").cast("long").alias("shard_id"),
        "doc_order",
        "tok_offset",
        "global_offset",
        "seq_first",
        "seq_last",
    )


CORPUS_SHARD_MANIFEST_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         {_H.format(x="'shuf:' || cast(doc_id AS varchar)")} AS draw
  FROM documents),
s AS (
  SELECT doc_id, n_tokens, draw,
         draw // {(1 << 60) // SHUF_SHARDS} AS shard_id
  FROM t),
w AS (
  SELECT doc_id, n_tokens, shard_id,
         CAST(row_number() OVER (PARTITION BY shard_id
                                 ORDER BY draw, doc_id) AS BIGINT) AS doc_order,
         CAST(sum(n_tokens) OVER (PARTITION BY shard_id
                                  ORDER BY draw, doc_id
                                  ROWS UNBOUNDED PRECEDING)
              - n_tokens AS BIGINT) AS tok_offset
  FROM s),
b AS (
  SELECT shard_id, sum(n_tokens) AS st FROM s GROUP BY shard_id),
bb AS (
  SELECT shard_id,
         CAST(coalesce(sum(st) OVER (ORDER BY shard_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT) AS base
  FROM b)
SELECT w.doc_id, w.n_tokens, w.shard_id, w.doc_order, w.tok_offset,
       CAST(bb.base + w.tok_offset AS BIGINT) AS global_offset,
       (bb.base + w.tok_offset) // {SHUF_BUDGET} AS seq_first,
       greatest((bb.base + w.tok_offset + w.n_tokens - 1) // {SHUF_BUDGET},
                (bb.base + w.tok_offset) // {SHUF_BUDGET}) AS seq_last
FROM w JOIN bb USING (shard_id)
"""


#: seats apportioned into the training batch across sources
TB_K = 100


def corpus_training_batch_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-batch build in ONE declarative plan (ext,
    capstone composition — VERDICT r10 item 8): selection
    (``corpus_training_selection``'s lang → quality → perplexity →
    dedup ladder) → split + decontamination (train docs that leak
    eval content via ``split_contamination``'s exact/near evidence
    are EXCLUDED) → temperature mixture (``corpus_temperature_mixture``'s
    tempered largest-remainder apportionment, re-derived over the
    SURVIVING train slice, each source contributing its alloc by
    hash-order pick) → deterministic shuffle + shard manifest
    (``corpus_shard_manifest``'s seeded hash-order permutation with
    exact global token budgets).  The output is what a trainer's data
    loader actually consumes: one row per batch document with its
    source, shard, position, and the exact global token interval it
    occupies.  Emits (doc_id, source, n_tokens, shard_id, doc_order,
    tok_offset, global_offset, seq_first, seq_last).

    Every stage is individually hash-proven; this mart certifies the
    COMPOSITION (the oracle nests the selection and contamination
    blocks verbatim and replays the mixture + manifest arithmetic on
    the survivor set).  Per-source allocation is capped by
    availability (a source with fewer survivors than seats yields
    them — deterministic on both engines, so the batch can undershoot
    TB_K; the apportionment itself is exact).

    Scale shape: the stages' own shapes unchanged — the ladder's
    doc_id-keyed flag joins, the contamination probe's bounded
    inverted-index join, one |sources|-row allocation window, a
    per-source pick window, then ONE hash-range shuffle + the
    n_shards-row two-level prefix sum.  Composing adds two doc_id
    equi-joins (split tags, survivor anti-join) and nothing else."""
    from musicflow_spark.operators.dedup import jaccard_pairs, portable_hash60
    from musicflow_spark.operators.fanout import INTERPRETED_STAGE_DIVISOR, fan_out
    from musicflow_spark.operators.sampling import shuffled_shard_manifest
    from musicflow_spark.operators.textstats import fingerprint
    from musicflow_spark.queries.textops import (
        corpus_training_selection,
        tokenized_docs,
    )

    docs = read_table(spark, sf_dir, "documents")
    # ONE tokenize pass for the WHOLE mart (r14, guide §2.4): the
    # shared token checkpoint feeds the selection ladder (lang-id,
    # quality, the bigram LM) AND the jaccard shingle pass below —
    # previously the shingle builder re-tokenized the corpus from its
    # own scan (values identical: transform(tk, ...) is
    # expression-identical to the inline tokenize, see
    # with_hashed_shingles).
    toks = tokenized_docs(spark, sf_dir)
    # ONE candidate-pair build for the two near-dup consumers (guide
    # §2.1): the selection ladder's canonical selection and the
    # decontamination probe each call jaccard_pairs with IDENTICAL
    # inputs/params — sharing a checkpointed frame halves the
    # shingle + inverted-index work of the mart's front end.  The
    # frame is pair-grain (near-dup pairs only), so the checkpoint is
    # tiny; both consumers' semantics are unchanged (they consumed
    # value-identical frames before).
    pairs = jaccard_pairs(
        docs, threshold=0.2, max_df=20, toks=toks
    ).localCheckpoint(eager=True)
    # ONE normalize+md5 fingerprint pass for the two exact-dup
    # consumers (r14, guide §2.4): the selection ladder's exact-dedup
    # window and the decontamination probe's exact tier both
    # fingerprint the full corpus with the identical expression —
    # share one checkpointed (doc_id, fp) frame (id + 32-char md5, the
    # lightweight-proxy shape of guide §8).  fan_out first: the regex
    # normalize is per-row CPU sitting on the one-row-group scan
    # (no-op at production split counts).
    fps = (
        fan_out(docs.select("doc_id", "text"), divisor=INTERPRETED_STAGE_DIVISOR)
        .select("doc_id", fingerprint("text").alias("fp"))
        .localCheckpoint(eager=True)
    )
    sel = (
        corpus_training_selection(spark, sf_dir, pairs=pairs, toks=toks, fps=fps)
        .filter(F.col("keep"))
        .select("doc_id", "n_tokens")
    )
    contaminated = (
        doc_split_contamination(spark, sf_dir, pairs=pairs, fps=fps)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    splits = (
        hash_split(docs.select("doc_id", "source"), "doc_id", SPLIT_WEIGHTS)
        .filter(F.col("split") == "train")
        .select("doc_id", "source")
    )
    # materialize the survivor slice ONCE: the allocation chain
    # (src/tot/alloc/leftover) and the pick window each reference trn,
    # and every reference would otherwise re-inline the ENTIRE
    # selection + contamination front end (measured: 160 parquet scans
    # in the unmaterialized plan, ~18 full re-expansions).  trn is
    # (doc_id, n_tokens, source) of the kept train docs — the
    # intermediate a production pipeline persists anyway.
    trn = (
        sel.join(splits, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )

    # tempered largest-remainder apportionment over the survivor slice
    # (the corpus_temperature_mixture arithmetic, source counts from
    # trn): |sources|-row frames throughout
    src = trn.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = src.select(
        "source",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * TEMP_SCALE, 0)
        .cast("long")
        .alias("w_micro"),
    )
    tot = w.agg(F.sum("w_micro").alias("w_total"))
    alloc = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(f"(w_micro * {TB_K}) div w_total"))
        .withColumn("rem", F.expr(f"(w_micro * {TB_K}) % w_total"))
    )
    leftover = alloc.agg((F.lit(TB_K) - F.sum("base")).alias("seats"))
    rk = Window.orderBy(F.desc("rem"), F.asc("source"))
    alloc_f = (
        alloc.crossJoin(F.broadcast(leftover))
        .withColumn("rk", F.row_number().over(rk))
        .select(
            "source",
            (F.col("base") + (F.col("rk") <= F.col("seats")).cast("long")).alias(
                "alloc"
            ),
        )
    )
    wpick = Window.partitionBy("source").orderBy("mix_draw", "doc_id")
    picked = (
        trn.withColumn(
            "mix_draw",
            portable_hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        )
        .withColumn("mix_rank", F.row_number().over(wpick))
        .join(F.broadcast(alloc_f), "source")
        .filter(F.col("mix_rank") <= F.col("alloc"))
        .select("doc_id", "source", "n_tokens")
    )
    man = shuffled_shard_manifest(
        picked, "doc_id", "n_tokens", SHUF_BUDGET, n_shards=SHUF_SHARDS
    )
    return man.select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("shard_id").cast("long").alias("shard_id"),
        "doc_order",
        "tok_offset",
        "global_offset",
        "seq_first",
        "seq_last",
    )


def _corpus_training_batch_mart_oracle_sql() -> str:
    """Selection + contamination blocks nested verbatim; the split
    tag, mixture apportionment, hash-order pick, and shard-manifest
    arithmetic replayed on the survivor set (same literals as the
    component oracles).  Multi-referenced CTEs MATERIALIZED."""
    from musicflow_spark.queries.textops import (
        _corpus_training_selection_oracle_sql,
    )

    width = (1 << 60) // SHUF_SHARDS
    mixh = _H.format(x="'mix:' || cast(t.doc_id AS varchar)")
    shufh = _H.format(x="'shuf:' || cast(doc_id AS varchar)")
    splith = _H.format(x="cast(doc_id AS varchar)")
    return f"""
WITH sel AS MATERIALIZED ({_corpus_training_selection_oracle_sql()}),
con AS MATERIALIZED ({DOC_SPLIT_CONTAMINATION_SQL}),
bs AS (
  SELECT doc_id, source FROM documents
  WHERE {splith} % 10000 < 8000),
trn AS MATERIALIZED (
  SELECT s.doc_id, s.n_tokens, b.source
  FROM sel s JOIN bs b USING (doc_id)
  WHERE s.keep
    AND s.doc_id NOT IN (SELECT train_id FROM con)),
msrc AS (SELECT source, count(*) AS n_docs FROM trn GROUP BY source),
mw0 AS (
  SELECT source,
         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * {TEMP_SCALE}) AS BIGINT) AS w_micro
  FROM msrc),
mtot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_total FROM mw0),
malloc AS (
  SELECT source,
         (w_micro * {TB_K}) // w_total AS base,
         (w_micro * {TB_K}) % w_total AS rem
  FROM mw0 CROSS JOIN mtot),
mseats AS (SELECT {TB_K} - CAST(sum(base) AS BIGINT) AS seats FROM malloc),
mallocf AS (
  SELECT source,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                          <= seats THEN 1 ELSE 0 END AS alloc
  FROM malloc CROSS JOIN mseats),
prank AS (
  SELECT t.doc_id, t.source, t.n_tokens,
         row_number() OVER (PARTITION BY t.source
                            ORDER BY {mixh}, t.doc_id) AS mix_rank
  FROM trn t),
picked AS MATERIALIZED (
  SELECT p.doc_id, p.source, p.n_tokens
  FROM prank p JOIN mallocf a USING (source)
  WHERE p.mix_rank <= a.alloc),
mt AS (
  SELECT doc_id, source, n_tokens, {shufh} AS draw FROM picked),
ms AS (SELECT *, draw // {width} AS shard_id FROM mt),
mw AS (
  SELECT doc_id, source, n_tokens, shard_id,
         CAST(row_number() OVER (PARTITION BY shard_id
                                 ORDER BY draw, doc_id) AS BIGINT) AS doc_order,
         CAST(sum(n_tokens) OVER (PARTITION BY shard_id
                                  ORDER BY draw, doc_id
                                  ROWS UNBOUNDED PRECEDING)
              - n_tokens AS BIGINT) AS tok_offset
  FROM ms),
mb AS (SELECT shard_id, sum(n_tokens) AS st FROM ms GROUP BY shard_id),
mbb AS (
  SELECT shard_id,
         CAST(coalesce(sum(st) OVER (ORDER BY shard_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT) AS base
  FROM mb)
SELECT mw.doc_id, mw.source, mw.n_tokens, mw.shard_id, mw.doc_order,
       mw.tok_offset,
       CAST(mbb.base + mw.tok_offset AS BIGINT) AS global_offset,
       (mbb.base + mw.tok_offset) // {SHUF_BUDGET} AS seq_first,
       greatest((mbb.base + mw.tok_offset + mw.n_tokens - 1) // {SHUF_BUDGET},
                (mbb.base + mw.tok_offset) // {SHUF_BUDGET}) AS seq_last
FROM mw JOIN mbb USING (shard_id)
"""


QUERIES = [
    Query(
        "corpus_training_batch_mart",
        "ext: END-TO-END training-batch capstone — selection ladder -> split decontamination -> tempered mixture apportionment over survivors -> hash-order pick -> shard manifest with exact global token budgets, one plan, oracle nests every component",
        corpus_training_batch_mart,
        _corpus_training_batch_mart_oracle_sql(),
        bench=True,
    ),
    Query(
        "corpus_shard_manifest",
        "ext: deterministic corpus shuffle + shard manifest — seeded hash-order global permutation via fixed hash ranges, exact global token budgets via two-level prefix sum",
        corpus_shard_manifest,
        CORPUS_SHARD_MANIFEST_SQL,
        bench=True,
    ),
    Query(
        "doc_pack_bpe",
        "ext: sequence packing by TRAINED-tokenizer lengths — learned-BPE piece counts drive the shard-local packing window; oracle nests the training chain",
        doc_pack_bpe,
        _doc_pack_bpe_oracle_sql(),
    ),
    Query(
        "doc_preference_pairs",
        "ext: DPO/RLHF preference-pair assembly — per-prompt chosen/rejected with score-margin and length-bias diagnostics",
        doc_preference_pairs,
        DOC_PREFERENCE_PAIRS_SQL,
    ),
    Query(
        "corpus_temperature_mixture",
        "ext: temperature-scaled mixture apportionment (micro-grid tempered weights, exact largest-remainder seats)",
        corpus_temperature_mixture,
        CORPUS_TEMPERATURE_MIXTURE_SQL,
    ),
    Query(
        "doc_weighted_sample",
        "ext: deterministic systematic PPS sampling (partitioned cumulative weights == global-window oracle)",
        doc_weighted_sample,
        DOC_WEIGHTED_SAMPLE_SQL,
    ),
    Query(
        "corpus_dsir_selection",
        "ext: DSIR importance selection (hashed-unigram target/raw LM ratio, integer micro-nat grid, threshold routing)",
        corpus_dsir_selection,
        CORPUS_DSIR_SELECTION_SQL,
    ),
    Query(
        "corpus_dsir_sample",
        "ext: DSIR importance RESAMPLING — per-token target/corpus ratio weights (micro grid) drawn by deterministic stride-PPS; target-domain docs enriched, not hard-routed",
        corpus_dsir_sample,
        CORPUS_DSIR_SAMPLE_SQL,
    ),
    Query(
        "doc_split_assign",
        "ext: deterministic hash split (train/val/test)",
        doc_split_assign,
        DOC_SPLIT_ASSIGN_SQL,
    ),
    Query(
        "doc_stratified_sample",
        "ext: stratified quota sample",
        doc_stratified_sample,
        DOC_STRATIFIED_SAMPLE_SQL,
    ),
    Query(
        "doc_pack_sequences",
        "ext: token-budget sequence packing",
        doc_pack_sequences,
        DOC_PACK_SEQUENCES_SQL,
    ),
    Query(
        "doc_chunks",
        "ext: overlapping context-window chunking",
        doc_chunks,
        DOC_CHUNKS_SQL,
    ),
    Query(
        "doc_split_contamination",
        "ext: train/eval decontamination probe",
        doc_split_contamination,
        DOC_SPLIT_CONTAMINATION_SQL,
    ),
    Query(
        "doc_bernoulli_sample",
        "ext: weighted deterministic downsampling",
        doc_bernoulli_sample,
        _bernoulli_oracle_sql(),
    ),
    Query(
        "doc_global_sample",
        "ext: exactly-k global hash sample (top-k, no global sort)",
        doc_global_sample,
        _global_sample_oracle_sql(),
    ),
    Query(
        "doc_mixture_schedule",
        "ext: stride-scheduled corpus mixture interleave",
        doc_mixture_schedule,
        _mixture_oracle_sql(),
    ),
]
