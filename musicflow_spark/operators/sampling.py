"""Dataset splitting, sampling, and sequence packing — the selection
layer of a training-data pipeline: decide which documents go to which
split, draw reproducible samples, and lay tokens out into fixed-budget
training sequences.

Everything here is *deterministic by hash*, never by RNG state:
``rand()`` draws depend on partition layout and task retries, so the
same corpus can produce different splits run-to-run — a silent
train/test-leak generator.  A content/id hash gives every row a stable
pseudo-uniform draw that survives repartitioning, retries, and
cluster-size changes, and makes every operator here exactly
reproducible by an independent engine (the DuckDB oracles replicate
them bit-for-bit via the shared md5-based ``portable_hash60``).

Scale shapes:
- ``hash_split`` is a pure map — no shuffle, no state, applies
  identically to 100 TB and 100 rows.
- ``stratified_sample`` shuffles once on the stratum key (the quota
  needs a per-stratum order); strata counts are typically small
  (languages, sources, buckets), and within-stratum skew is bounded by
  the quota itself.
- ``pack_sequences`` shuffles once on the shard key; each shard packs
  independently, so parallelism = shard count — size shards so one
  shard's token sum fits a task (the round-robin hash shard does this
  automatically for uniform docs).
- ``chunk_documents`` is a map + generate (explode) — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from musicflow_spark.operators.dedup import portable_hash60
from musicflow_spark.operators.textstats import tokens


def split_column(
    key: Column,
    weights: dict[str, float],
    *,
    salt: str = "",
    buckets: int = 10_000,
) -> tuple[Column, Column]:
    """(bucket, split) columns for a deterministic weighted split.

    ``bucket = portable_hash60(salt || key) % buckets`` is a stable
    pseudo-uniform draw; cumulative weight thresholds carve it into
    named splits (insertion order of ``weights``).  Changing ``salt``
    re-draws the whole assignment; adding rows never moves existing
    ones — the property that keeps eval sets frozen as the corpus
    grows.  Weights must sum to 1 (strict: a silent remainder bucket
    would be a split nobody asked for)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = portable_hash60(F.concat(F.lit(salt), key.cast("string"))) % buckets
    acc = 0.0
    expr: Column | None = None
    for name, w in weights.items():
        acc += w
        hi = round(acc * buckets)
        cond = bucket < F.lit(hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return bucket, expr.otherwise(list(weights)[-1])


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    *,
    salt: str = "",
    bucket_col: str = "bucket",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by stable key hash — the
    map-only, shuffle-free train/val/test splitter."""
    bucket, split = split_column(F.col(key_col), weights, salt=salt)
    return df.withColumn(bucket_col, bucket).withColumn(split_col, split)


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    key_col: str,
    *,
    salt: str = "",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Exactly ``min(n, stratum_size)`` rows per stratum, drawn by
    hash order — a reproducible quota sample (every stratum equally
    represented regardless of its population share, the standard
    rebalancing draw for over/under-represented sources).

    The hash is the random key and ``key_col`` the tiebreak, so the
    sample is a total-order prefix per stratum: adding new rows can
    displace old ones only by hashing lower — exactly the reservoir
    property a re-runnable pipeline wants."""
    h = portable_hash60(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n_per_stratum)
    )


def pack_sequences(
    df: DataFrame,
    n_tokens_col: str,
    key_col: str,
    budget: int,
    *,
    n_shards: int = 16,
    salt: str = "",
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    a deterministic order and mark where each lands in the stream of
    ``budget``-token training sequences.

    Documents are sharded by key hash (shards pack independently —
    the parallelism unit), ordered by key within the shard, and
    assigned ``[tok_offset, tok_offset + n_tokens)`` in the shard's
    token stream via a running sum.  ``seq_first``/``seq_last`` are the
    budget-sized sequence indices the document touches (GPT-style
    packing splits a straddling document across sequence boundaries
    rather than padding).  Columns added:

    - ``shard``      — hash shard id (0..n_shards-1)
    - ``tok_offset`` — tokens before this doc within its shard
    - ``seq_first``  — ``tok_offset div budget``
    - ``seq_last``   — ``(tok_offset + n_tokens - 1) div budget``
      (== seq_first - docs never straddle - when n_tokens is 0,
      clamped to seq_first)

    One shuffle (by shard); the running sum is a per-shard window,
    so a shard must fit one task's sort — pick ``n_shards`` ≈
    corpus_tokens / (a few hundred M) at scale."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    h = portable_hash60(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col(n_tokens_col).cast("long")
    return (
        df.withColumn("shard", (h % n_shards).cast("int"))
        .withColumn("tok_offset", F.sum(n).over(w) - n)
        .withColumn("seq_first", F.expr(f"tok_offset div {budget}"))
        .withColumn(
            "seq_last",
            F.greatest(
                F.expr(f"(tok_offset + {n_tokens_col} - 1) div {budget}"),
                F.col("seq_first"),
            ),
        )
    )


def shuffled_shard_manifest(
    df: DataFrame,
    key_col: str,
    n_tokens_col: str,
    budget: int,
    *,
    n_shards: int = 8,
    salt: str = "",
) -> DataFrame:
    """Seeded GLOBAL corpus shuffle + shard manifest — the last mile
    of a training-data pipeline: one deterministic permutation of the
    whole corpus, materialized as per-shard manifests with exact token
    budgets (what each data-parallel reader consumes).

    The permutation is *hash order*: ``draw = portable_hash60(salt ||
    key)`` is the row's position key in the shuffled stream.  There is
    NO global sort — the hash space is cut into ``n_shards`` equal
    fixed ranges (``shard_id = draw div (2^60 / n_shards)``, a pure
    map), so range-partitioning on the salted hash IS the shuffle:
    concatenating shards 0..n-1, each ordered by ``(draw, key)``,
    replays the one global permutation.  Each shard orders and
    prefix-sums independently (one hash-partitioned window), and exact
    GLOBAL token offsets come from the classic two-level prefix sum:
    per-shard running sums plus an ``n_shards``-row base-offset table
    (a bounded global window, broadcast back) — the scalable form of a
    corpus-wide running total.

    Determinism properties (the reasons trainers want THIS shuffle):
    same corpus + same salt -> byte-identical manifests regardless of
    partitioning, task retries, or cluster size; changing ``salt``
    re-draws the whole permutation; the draw is a fresh hash domain
    (``shuf:``), independent of the split/sample coins.

    Columns added: ``shard_id`` (int), ``doc_order`` (1-based within
    shard), ``tok_offset`` (tokens before this doc within its shard),
    ``global_offset`` (tokens before this doc in the WHOLE shuffled
    stream), ``seq_first``/``seq_last`` (the ``budget``-token training
    sequences the doc spans, indexed on the global stream).

    Scale shape: one shuffle (hash exchange on shard_id) + in-task
    sort per shard; the only global structure is the n_shards-row
    totals table.  Pick ``n_shards`` so one shard's rows fit a task
    sort — at 100 TB that is just a bigger power of two."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards < 1 or (n_shards & (n_shards - 1)):
        raise ValueError(f"n_shards must be a power of two, got {n_shards}")
    width = (1 << 60) // n_shards
    draw = portable_hash60(
        F.concat(F.lit("shuf:" + salt), F.col(key_col).cast("string"))
    )
    n = F.col(n_tokens_col).cast("long")
    base = df.withColumn("__draw__", draw).withColumn(
        "shard_id", F.expr(f"__draw__ div {width}").cast("int")
    )
    w = Window.partitionBy("shard_id").orderBy(
        F.col("__draw__").asc(), F.col(key_col).asc()
    )
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per = base.withColumn(
        "doc_order", F.row_number().over(w).cast("long")
    ).withColumn("tok_offset", F.sum(n).over(ws) - n)
    # two-level prefix sum: n_shards-row totals -> exclusive cumsum
    # (bounded global window: exactly n_shards rows by construction)
    # -> broadcast back as each shard's global base offset
    totals = per.groupBy("shard_id").agg(F.sum(n).alias("__shard_tokens__"))
    wb = Window.orderBy("shard_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = totals.select(
        "shard_id",
        F.coalesce(F.sum("__shard_tokens__").over(wb), F.lit(0))
        .cast("long")
        .alias("__shard_base__"),
    )
    out = per.join(F.broadcast(bases), "shard_id").withColumn(
        "global_offset", F.col("__shard_base__") + F.col("tok_offset")
    )
    return (
        out.withColumn("seq_first", F.expr(f"global_offset div {budget}"))
        .withColumn(
            "seq_last",
            F.greatest(
                F.expr(f"(global_offset + {n_tokens_col} - 1) div {budget}"),
                F.col("seq_first"),
            ),
        )
        .drop("__draw__", "__shard_base__")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_len: int,
    stride: int,
    *,
    keep_text: bool = True,
) -> DataFrame:
    """Split each document into fixed-length character windows with
    overlap (``stride < chunk_len``) — the context-window chunker for
    embedding / retrieval pipelines.  Pure map + explode, no shuffle;
    every document yields at least one chunk (possibly short), chunk
    starts at ``i * stride``, and the final chunk is the last window
    that still starts inside the text.

    Output: ``(id_col, chunk_idx, chunk_text?, chunk_n_chars)`` —
    drop the text (``keep_text=False``) when only offsets/counts flow
    downstream, so the explode does not materialize the corpus
    ``chunk_len/stride`` times."""
    if not 0 < stride <= chunk_len:
        raise ValueError(f"need 0 < stride <= chunk_len, got {stride}/{chunk_len}")
    n_chunks = F.expr(
        f"greatest(cast(ceil((length({text_col}) - {chunk_len}) / {stride}.0) "
        f"as int), 0) + 1"
    )
    chunk = F.expr(f"substring({text_col}, chunk_idx * {stride} + 1, {chunk_len})")
    out = (
        df.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("chunk_n_chars", F.length(chunk))
    )
    cols = [id_col, "chunk_idx", "chunk_n_chars"]
    if keep_text:
        out = out.withColumn("chunk_text", chunk)
        cols.insert(2, "chunk_text")
    return out.select(*cols)


def token_count(text: Column | str) -> Column:
    """Whitespace token count — the same tokenizer every text operator
    in this engine uses (textstats.tokens), exposed for packing."""
    return F.size(tokens(text))


def bernoulli_sample(
    df: DataFrame,
    key_col: str,
    rate: Column | float,
    *,
    salt: str = "",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic Bernoulli sampling: keep a row iff its hash
    bucket falls under ``rate`` (a literal or a per-row Column — the
    per-row form is the standard quality/source-weighted downsampler:
    rate as a function of lang, source, quality score).  Same frozen
    hash draw as ``hash_split``, so the kept set is stable under
    reruns/repartition and composes with it: the draw uses its own
    salt space, making sample and split independent coins.  Pure map
    — no shuffle, no count pass, exact expectation but binomial
    realized size (use stratified_sample when the count must be
    exact)."""
    r = F.lit(rate) if isinstance(rate, float) else rate
    bucket = portable_hash60(
        F.concat(F.lit("bern:" + salt), F.col(key_col).cast("string"))
    ) % buckets
    return df.filter(bucket < (r * buckets).cast("long"))


def global_hash_sample(df: DataFrame, key_col: str, k: int, *, salt: str = "") -> DataFrame:
    """Exactly-k deterministic global sample: the k rows with the
    smallest key hashes — a distributed reservoir without reservoir
    state.  ``orderBy(hash).limit(k)`` plans as TakeOrderedAndProject:
    each partition keeps its local top-k and only k-row heaps merge,
    so nothing resembling a global sort ever happens.  Adding rows
    can only displace old picks by hashing lower (the reservoir
    property); ``salt`` re-draws."""
    h = portable_hash60(F.concat(F.lit("gs:" + salt), F.col(key_col).cast("string")))
    return df.withColumn("__draw__", h).orderBy("__draw__", key_col).limit(k).drop(
        "__draw__"
    )


def split_contamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[str, float],
    *,
    train_split: str = "train",
    threshold: float = 0.2,
    max_df: int = 20,
    salt: str = "",
    pairs: DataFrame | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Decontamination probe: eval-set documents that leak from the
    training split — the check every train/eval split must pass
    before the eval numbers mean anything.

    Two tiers, one output of (eval-doc, train-doc) evidence pairs:

    - ``kind='exact'`` — identical normalized-text fingerprints
      across the split boundary (equi-join on the md5 fingerprint,
      co-partitioned at scale; jaccard is null).
    - ``kind='near'``  — n-gram Jaccard >= ``threshold`` across the
      boundary, via the bounded inverted-index join
      (operators/dedup.py::jaccard_pairs — the max_df cap keeps it
      corpus-linear), minus pairs the exact tier already reported.

    The split itself is the deterministic hash split, so the whole
    probe — split, fingerprints, candidate pairs — replays
    identically on any engine; train-train and eval-eval pairs are
    dropped (duplication *within* a split is dedup's business, not
    contamination).

    ``pairs``: a pre-built ``jaccard_pairs(df, threshold, max_df)``
    frame to reuse (must be over the same df/params) — compositions
    that also run canonical selection share ONE candidate-pair build
    (see corpus_training_batch_mart).

    ``fps``: a pre-built (id_col, fp) fingerprint frame (fp =
    ``fingerprint(text)`` over the same df) — compositions whose
    exact-dedup tier already fingerprints the corpus share ONE
    normalize+md5 pass; the split tag attaches by id equi-join
    instead of re-deriving the fingerprint (r14, guide §2.4).  Every
    doc of ``df`` needs a non-null fp there: the plan raises a Spark
    error when it runs otherwise."""
    from musicflow_spark.operators.dedup import jaccard_pairs
    from musicflow_spark.operators.textstats import fingerprint

    if fps is not None:
        tagged = hash_split(df.select(id_col), id_col, weights, salt=salt).select(
            F.col(id_col).alias("doc"), "split"
        )
        # left join: a doc that fps lacks fails the plan when it runs (no
        # extra job) instead of dropping out of the probe silently
        missing = F.raise_error(F.lit("fps has no fingerprint for some documents of df"))
        fp = tagged.join(
            fps.select(F.col(id_col).alias("doc"), "fp"), "doc", "left"
        ).select("doc", "split", F.coalesce("fp", missing).alias("fp"))
    else:
        tagged = hash_split(df, id_col, weights, salt=salt).select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("__text__"), "split"
        )
        fp = tagged.select("doc", "split", fingerprint("__text__").alias("fp"))
    # fp is read once: each eval doc takes the train docs that share its
    # fingerprint from a window over fp, and ``exact`` is read once
    # below.  A self-join (or a second read of ``exact``) computes fp
    # again, and with ``fps`` its check could then fail in two stages
    # at once, which AQE reports as a different error
    is_train = F.col("split") == train_split
    exact = (
        fp.withColumn(
            "__train__",
            F.collect_list(F.when(is_train, F.col("doc"))).over(Window.partitionBy("fp")),
        )
        .filter(~is_train)
        .select(
            F.col("doc").alias("eval_id"),
            "split",
            F.explode("__train__").alias("train_id"),
            F.lit("exact").alias("kind"),
            F.lit(None).cast("double").alias("jaccard"),
        )
    )

    if pairs is None:
        pairs = jaccard_pairs(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            threshold=threshold,
            max_df=max_df,
        )
    pairs = pairs.select("doc_a", "doc_b", "jaccard")
    splits = tagged.select(F.col("doc"), "split")
    sided = (
        pairs.join(splits.withColumnRenamed("split", "split_a"), pairs["doc_a"] == splits["doc"])
        .drop("doc")
        .join(
            splits.withColumnRenamed("split", "split_b").withColumnRenamed("doc", "doc2"),
            F.col("doc_b") == F.col("doc2"),
        )
        .drop("doc2")
    )
    a_is_train = F.col("split_a") == train_split
    b_is_train = F.col("split_b") == train_split
    near = (
        sided.filter(a_is_train != b_is_train)
        .select(
            F.when(a_is_train, F.col("doc_b")).otherwise(F.col("doc_a")).alias("eval_id"),
            F.when(a_is_train, F.col("split_b")).otherwise(F.col("split_a")).alias("split"),
            F.when(a_is_train, F.col("doc_a")).otherwise(F.col("doc_b")).alias("train_id"),
            F.lit("near").alias("kind"),
            F.col("jaccard"),
        )
    )
    # a pair both tiers report is kept once, as exact
    exact_first = Window.partitionBy("eval_id", "train_id").orderBy(F.col("kind") != "exact")
    return (
        exact.unionByName(near)
        .withColumn("__rn__", F.row_number().over(exact_first))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def mixture_interleave(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    id_col: str,
    *,
    default_weight: float = 0.1,
) -> DataFrame:
    """Deterministic proportional interleave of multiple sources —
    the data-loading schedule of a mixed-corpus training run ("70%
    web, 20% code, 10% books"): stride scheduling, the classic
    proportional-share algorithm.

    Each source's rows are ranked by their portable hash (a frozen
    uniform shuffle within source), and row r of a source with weight
    w is placed at mix position r / w: a weight-0.5 source occupies
    every 2nd slot, weight-0.1 every 10th, so any prefix of the
    schedule holds each source in its target proportion (within ±1) —
    without materializing a global order.

    Output adds ``mix_rank`` (rank within source) and ``mix_pos``
    (the interleave key).  Consumers range-partition / sort by
    ``mix_pos`` when laying out shards; this operator itself costs
    one hash shuffle on ``source_col`` for the window (at 100 TB:
    partition count follows the source count — salt the window by
    hash-bucket and re-rank with a second pass if a single source
    outgrows an executor; noted rather than implemented since the
    testdata's 5 sources are far from that bound).

    Weights need not sum to 1 (only ratios matter); unknown sources
    get ``default_weight``.  All weights must be > 0 — a zero or
    negative weight would yield a division-by-zero / negative
    ``mix_pos`` and silently corrupt the schedule.
    """
    bad = {s: w for s, w in weights.items() if not w > 0}
    if bad or not default_weight > 0:
        raise ValueError(
            f"weights must be > 0: bad={bad}, default_weight={default_weight}"
        )
    w_expr = F.lit(default_weight)
    for src, w in weights.items():
        w_expr = F.when(F.col(source_col) == src, F.lit(w)).otherwise(w_expr)
    h = portable_hash60(
        F.concat(F.lit("mix:"), F.col(id_col).cast("string"))
    )
    rank_w = Window.partitionBy(source_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("mix_rank", F.row_number().over(rank_w))
        .withColumn("mix_pos", F.col("mix_rank") / w_expr)
    )


def weighted_systematic_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Probability-proportional-to-size sampling with NO randomness
    and NO global window: systematic (fixed-stride) PPS over the
    hash-shuffled row order.  Every row whose cumulative-weight
    interval crosses a multiple of total_weight/k is picked; a row
    with weight w is selected with probability ~ k*w/W, and rows
    heavier than one stride are picked with multiplicity
    (``pick_count`` > 1) — the textbook systematic PPS estimator,
    made deterministic by ordering on the portable content hash
    instead of a shuffle RNG.

    Exactness: strides are never materialized as a division — row
    selection tests ``(cum*k) div W > (prev*k) div W`` in int64, so
    the SQL oracle replays it bit-for-bit.  Requires W*k < 2^63
    (document weights in tokens at k <= 1e4 leave headroom past
    100 TB; assert at call sites if weights are synthetic).

    Scale shape (the ``surrogate_ids`` two-phase pattern): range
    repartition on (hash, id) -> per-partition weight totals (an
    O(partitions) driver aggregate, never a data collect) -> prefix
    offsets broadcast -> per-partition cumulative window.  The only
    full shuffle is the range partition.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    h = portable_hash60(F.concat(F.lit("pps:"), F.col(id_col).cast("string")))
    ordered = (
        df.withColumn("__h__", h)
        .repartitionByRange(parts, F.col("__h__"), F.col(id_col))
        .withColumn("__pid__", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sums = (
        ordered.groupBy("__pid__")
        .agg(
            F.sum(F.col(weight_col).cast("long")).alias("__w__"),
            F.count(F.lit(1)).alias("__n__"),
            F.count(weight_col).alias("__nw__"),
            F.min(F.col(weight_col).cast("long")).alias("__min__"),
        )
        .collect()
    )
    # ADVICE r06: a zero/negative/NULL-laden weight column previously
    # produced a NULL stride divisor that silently filtered every row —
    # fail loudly instead, and assert the documented W*k < 2^63
    # overflow precondition rather than trusting the docstring.
    if any(r["__nw__"] != r["__n__"] for r in sums):
        raise ValueError(f"weight column {weight_col!r} contains NULLs")
    if sums and min(r["__min__"] for r in sums) < 0:
        raise ValueError(f"weight column {weight_col!r} contains negative weights")
    offsets, acc = [], 0
    for pid, w in sorted((r["__pid__"], r["__w__"]) for r in sums):
        offsets.append((pid, acc))
        acc += w
    total_w = acc
    if total_w <= 0:
        raise ValueError(
            f"total weight of {weight_col!r} is {total_w}; systematic PPS "
            "needs a positive total"
        )
    if total_w > (2**63 - 1) // max(k, 1):
        raise ValueError(
            f"W*k = {total_w}*{k} overflows int64; rescale weights or "
            "aggregate the cumulative sums as DECIMAL(38,0)"
        )
    omap = df.sparkSession.createDataFrame(offsets, "__pid__ int, __off__ long")
    cw = Window.partitionBy("__pid__").orderBy("__h__", id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ordered.join(F.broadcast(omap), "__pid__")
        .withColumn(
            "cum_w",
            F.sum(F.col(weight_col).cast("long")).over(cw) + F.col("__off__"),
        )
        .withColumn(
            "pick_count",
            F.expr(
                f"(cum_w * {k}) div {total_w}"
                f" - ((cum_w - {weight_col}) * {k}) div {total_w}"
            ),
        )
        .filter(F.col("pick_count") > 0)
        .drop("__pid__", "__off__", "__h__")
    )
