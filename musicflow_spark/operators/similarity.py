"""Similarity search over embedding columns (array<float>).

Two tiers:

- brute-force cosine top-k: exact; cross-join of a (small) query set
  against the corpus.  The dot product is a native F.zip_with +
  F.aggregate fold — JVM-side, no Python.  Cost Q x N — the baseline
  and the verifier.
- LSH-bucketed ANN (sign random projection): deterministic
  hyperplanes derived from a seeded RNG; bucket key = b sign bits;
  candidates = bucket equi-join (optionally multi-probe with extra
  tables).  The 100 TB path: shuffle only on (table, bucket) keys.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (native fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` is broadcast (it is the small side by construction);
    the per-query ranking window partitions on query_id so no global
    sort exists.  Ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The BLAS compute tier of :func:`brute_force_topk` — same exact
    semantics (per-query cosine top-k, id tie-break), different
    kernel.

    The native tier evaluates the dot product as a per-row Catalyst
    fold: O(N·Q·d) scalar lambda steps through the interpreter of the
    higher-order functions.  This tier collects the query set to a
    normalized numpy matrix (small by the same contract that lets the
    native tier broadcast it), then one ``mapInArrow`` pass over the
    corpus does a single B×d · d×Q matmul per Arrow batch and emits
    only each batch's PARTIAL top-k per query — the global ranking
    window then sees n_batches·k·Q candidate rows instead of N·Q.
    Two wins at 100 TB: the inner loop is BLAS, and the shuffle into
    the ranking window shrinks by ~N/(n_batches·k).  Measured at
    sf0.1 / Q=64 / local[32]: 0.34 s vs the native tier's 1.86 s
    (5.5x); the gap widens with Q because the matmul amortizes the
    corpus pass.

    Scores are float64 matmuls; they can differ from the fold's
    sequential summation in the last ulp, so equality with the native
    tier is asserted at 1e-9 (tests), and oracle-registered queries
    keep the native tier where bit-exactness is the contract."""
    import pyarrow as pa

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        raise ValueError("queries is empty")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = (q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)).T  # d×Q

    out_schema = "query_id long, neighbor_id long, cos_sim double"
    out_type = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("neighbor_id", pa.int64()),
            pa.field("cos_sim", pa.float64()),
        ]
    )

    def run(batches):
        import numpy as _np
        import pyarrow as _pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = _np.asarray(batch.column(0).to_numpy(zero_copy_only=False))
            # values-buffer view, not per-row Python lists (guide §4.2)
            vecs = (
                batch.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(_np.float64, copy=False)
                .reshape(batch.num_rows, -1)
            )
            c_norm = vecs / _np.linalg.norm(vecs, axis=1, keepdims=True)
            sims = c_norm @ q_norm  # B×Q
            b = sims.shape[0]
            out_q, out_n, out_s = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                # keep every row scoring >= the (k+1)-th largest: the
                # +1 absorbs the self-match, and the inclusive
                # threshold keeps ALL boundary ties, so per-batch
                # pruning provably never drops a global top-k row
                # (argpartition alone breaks score ties arbitrarily,
                # which can disagree with the id tie-break)
                if b > k + 1:
                    thr = -_np.partition(-col, k)[k]
                    cand = _np.nonzero(col >= thr)[0]
                else:
                    cand = _np.arange(b)
                for i in cand:
                    if ids[i] != q_ids[j]:
                        out_q.append(q_ids[j])
                        out_n.append(int(ids[i]))
                        out_s.append(float(col[i]))
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(out_q, type=_pa.int64()),
                    _pa.array(out_n, type=_pa.int64()),
                    _pa.array(out_s, type=_pa.float64()),
                ],
                schema=out_type,
            )

    partial = corpus.select(
        F.col(id_col).cast("long"), F.col(vec_col)
    ).mapInArrow(run, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-random-projection."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: one bit per hyperplane."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        bucket = bucket + F.when(
            dot(vec, plane_col) > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(0)
    return bucket


def srp_buckets(
    vec: Column,
    planes_flat: Column,
    n_tables: int,
    n_planes: int,
) -> Column:
    """All tables' SRP bucket ids as one ``array<long>`` in a single
    expression — one corpus scan for every table (the per-table
    ``srp_bucket`` union-of-selects formulation re-scanned and
    re-planned the corpus once per table).

    ``planes_flat`` is an ``array<array<double>>`` COLUMN of
    n_tables*n_planes plane vectors, typically from a broadcast 1-row
    frame (see ``planes_frame``): embedding the matrix as expression
    literals costs seconds of analysis/codegen per query (measured ~3s
    for 16x6x64), dominating the actual compute."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.element_at(planes_flat, (t * n_planes + i + 1).cast("int")),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
                > 0,
                # shiftleft needs a literal bit count; 2^i is exact in
                # double for i < 53
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def planes_frame(spark, tables: list[list[list[float]]]) -> DataFrame:
    """The flattened plane matrix as a 1-row broadcastable frame
    (column ``__planes__: array<array<double>>``)."""
    flat = [[float(v) for v in plane] for tbl in tables for plane in tbl]
    return spark.createDataFrame([(flat,)], "__planes__ array<array<double>>")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: rank only candidates that share an
    SRP bucket with the query in any of ``n_tables`` independent
    hash tables.  Recall grows with n_tables; candidate count drops
    ~2^n_planes-fold vs brute force.  Same output schema as
    brute_force_topk (queries with zero candidates simply emit <k rows).

    ``broadcast_queries=True`` (default) is the bounded-query-set
    contract: the bucketed query frame rides as a broadcast.  Pass
    ``False`` when QUERIES ARE THE CORPUS (kNN-graph construction for
    SemDeDup/clustering): the candidate join becomes a plain shuffle
    equi-join on (table_id, bucket) — both sides scale, no broadcast;
    AQE's skew-join split handles hot buckets at runtime.
    """
    tables = [
        random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)
    ]
    planes = planes_frame(corpus.sparkSession, tables)

    def bucketed(df: DataFrame, idname: str, vecname: str) -> DataFrame:
        # one scan for all tables: buckets come back as an array and
        # posexplode fans them to (table_id, bucket) rows; the plane
        # matrix arrives via broadcast crossJoin, not literals
        return df.crossJoin(F.broadcast(planes)).select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(vecname),
            F.posexplode(
                srp_buckets(F.col(vec_col), F.col("__planes__"), n_tables, n_planes)
            ).alias("table_id", "bucket"),
        )

    qb = bucketed(queries, "query_id", "q_vec")
    cb = bucketed(corpus, "neighbor_id", "c_vec")
    q_side = F.broadcast(qb) if broadcast_queries else qb
    cands = (
        cb.join(q_side, ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a, b), a < b,
    with cos(a, b) >= threshold.

    This is the exact O(N^2/p) variant — the correctness baseline and
    the right tool up to ~10^5 vectors per run.  At corpus scale the
    same predicate runs as LSH-bucket candidates (srp_bucket tables,
    see lsh_topk) + this exact verify on the candidate set; the
    all-pairs form stays the oracle for recall measurement.

    Pre-normalizing once before the self-join does the O(N) norm work
    a single time instead of inside every pair comparison.
    """
    normed = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
    ).select(
        "id",
        F.transform("v", lambda x: x.cast("double") / F.col("n")).alias("unit"),
    )
    a = normed.select(F.col("id").alias("id_a"), F.col("unit").alias("unit_a"))
    b = normed.select(F.col("id").alias("id_b"), F.col("unit").alias("unit_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            dot(F.col("unit_a"), F.col("unit_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def feature_hash_embedding(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Hashing-trick bag-of-words embedding (text -> array<double>):
    every token hashes to a dimension index (low bits) and a +-1 sign
    (the next bit up), and the document vector is the signed count
    fold — the classic feature-hashing projection, here as a pure
    MAP-ONLY fold over the token array: no explode, no shuffle, which
    is exactly what a 100 TB featurization pass wants (the shuffle-
    free alternative to explode + two-level groupBy).

    Uses the md5-based portable hash so the whole operator is
    bit-replicable by the SQL oracle (values are signed integer
    counts held in doubles — no float-summation ambiguity).  ``dim``
    must be a power of two (index = h % dim, sign = bit log2(dim)).
    """
    from musicflow_spark.operators.dedup import portable_hash60
    from musicflow_spark.operators.textstats import tokens

    if dim & (dim - 1):
        raise ValueError("dim must be a power of two")
    sign_bit = dim.bit_length() - 1
    th = F.transform(tokens(text_col), lambda t: portable_hash60(F.lower(t)))
    zeros = F.array(*[F.lit(0.0) for _ in range(dim)])
    sign = lambda h: (  # noqa: E731
        F.when(F.shiftright(h, sign_bit).bitwiseAND(1) == 1, F.lit(1.0)).otherwise(
            F.lit(-1.0)
        )
    )
    vec = F.aggregate(
        th,
        zeros,
        lambda acc, h: F.transform(
            acc,
            lambda x, i: x + F.when((h % dim) == i.cast("long"), sign(h)).otherwise(F.lit(0.0)),
        ),
    )
    return docs.select(F.col(id_col).alias("doc_id"), vec.alias("embedding"))


def lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Sketch-then-verify embedding near-dedup — the 100 TB
    composition of cosine_neardup_pairs: SRP-bucket candidate pairs
    (equi-join per hash table, never all-pairs) verified with exact
    cosine, mirroring minhash_dedup_pairs' shape on the text side.

    Soundness is exact (every emitted pair passes the exact
    predicate); recall depends on the angle distribution — SRP
    collision probability is (1 - theta/pi)^n_planes per table.
    Near-orthogonal random vectors are the worst case; clustered
    real embeddings bucket far better.  Tune n_planes down /
    n_tables up to buy recall with candidate volume.

    The corpus is normalized ONCE before bucketing, so the verify
    dot product is the cosine and the O(N) norm work never sits
    inside a pair comparison.
    """
    tables = [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    planes = planes_frame(corpus.sparkSession, tables)
    normed = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
    ).select(
        "id", F.transform("v", lambda x: x.cast("double") / F.col("n")).alias("unit")
    )
    bucketed = normed.crossJoin(F.broadcast(planes)).select(
        "id",
        "unit",
        F.posexplode(
            srp_buckets(F.col("unit"), F.col("__planes__"), n_tables, n_planes)
        ).alias("table_id", "bucket"),
    )
    a = bucketed.select(
        F.col("id").alias("id_a"), F.col("unit").alias("unit_a"), "table_id", "bucket"
    )
    b = bucketed.select(
        F.col("id").alias("id_b"), F.col("unit").alias("unit_b"), "table_id", "bucket"
    )
    return (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", dot(F.col("unit_a"), F.col("unit_b")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def nearest_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    idname: str,
    vecname: str,
    top: int,
) -> DataFrame:
    """Each row's ``top`` nearest centroids by squared L2 (argmin is
    norm-free; ties by cluster_id).  The centroid table is
    dimension-sized by contract -> broadcast; per-row work is a
    1-row-vs-centroids plane broadcast, not a data-sized cross join."""
    scored = df.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col).alias(idname),
        F.col(vec_col).alias(vecname),
        "cluster_id",
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                "centroid",
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("__d2__"),
    )
    w = Window.partitionBy(idname).orderBy("__d2__", "cluster_id")
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= top)
        .drop("__d2__", "__rn__")
    )


def nearest_centroid_ids_arrow(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    id_col: str,
    idname: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow compute tier of the ``top=1`` :func:`nearest_centroids`
    assignment — IDENTICAL (idname, cluster_id) rows, faster kernel
    (r13, guide §4.1/§4.2: the native form evaluates the per-(row,
    centroid) double d² through interpreted higher-order-function
    lambdas — measured ~1 s single-task at sf0.1 inside knn_ivfpq's
    broadcast build).

    Bit-exactness: the native fold accumulates
    ``acc + (x−y)·(x−y)`` one DIMENSION at a time in IEEE double;
    the kernel replays the same sequence — vectorized across
    (row, centroid) pairs, sequential across dimensions — so every
    intermediate rounding is identical (no FMA, numpy does not fuse).
    float→double widening of the vector elements is exact.  Ties
    break (d2, cluster_id): ``cent_rows`` is required sorted by
    cluster_id and ``np.argmin`` takes the first minimum — the same
    lexicographic rule as the native row_number window.  Requires
    finite vectors (no NaN, no ±inf; the corpus contract everywhere
    else): the native window would order NaN d² last while np.argmin
    would pick it, so a non-finite batch raises ValueError.

    ``cent_rows``: list of (cluster_id, centroid: list[double]) —
    dimension-bounded by the same contract that lets the native tier
    broadcast the centroid table.  Map-only stage: no shuffle."""
    if not cent_rows:
        raise ValueError("cent_rows must be non-empty")
    cids_sorted = [c for c, _ in cent_rows]
    if cids_sorted != sorted(cids_sorted):
        raise ValueError("cent_rows must be sorted by cluster_id ascending")
    dim = len(cent_rows[0][1])
    if any(len(v) != dim for _, v in cent_rows):
        raise ValueError("ragged centroid table")
    cids = np.asarray(cids_sorted, dtype=np.int64)
    cvs = np.asarray([v for _, v in cent_rows], dtype=np.float64)

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    id_type = src.schema["id"].dataType.simpleString()
    out_schema = f"{idname} {id_type}, cluster_id long"

    def run(batches):
        import numpy as _np
        import pyarrow as _pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            x = (
                batch.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(_np.float64, copy=False)
                .reshape(n, dim)
            )
            # enforce the documented finite-vector contract —
            # the native window orders NaN d² LAST while np.argmin
            # would pick it, so a contract violation must error, not
            # silently flip an assignment (O(n·dim) check vs the
            # O(n·k·dim) kernel below)
            if not _np.isfinite(x).all():
                raise ValueError(
                    "non-finite vector in nearest_centroid_ids_arrow batch"
                )
            d2 = _np.zeros((n, len(cids)), dtype=_np.float64)
            for j in range(dim):
                diff = x[:, j, None] - cvs[None, :, j]
                d2 += diff * diff
            pos = _np.argmin(d2, axis=1)
            yield _pa.RecordBatch.from_arrays(
                [batch.column(0), _pa.array(cids[pos], type=_pa.int64())],
                names=[idname, "cluster_id"],
            )

    return src.mapInArrow(run, out_schema)


def pq_codebook_rows_from_seeds(
    seeds: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    scale: int,
) -> list[list[list[int]]]:
    """Collect a SEED-derived PQ codebook driver-side in the
    ``codebook_rows`` [n_sub][k][sub_dim] form the Arrow encode tier
    consumes — centroid id = rank of the seed's id ascending and the
    fixed-point quantization runs on the JVM (``_fixed_point``), so
    the rows are value-identical to the in-frame seed codebook
    ``_pq_encode_parts`` builds (same rounding, same order, same
    slices; asserted in tests/test_embeddings.py).  Bounded by the
    caller's seed contract (the deterministic stride tiers cap the
    seed id range, so this is a k-row collect — the same bound that
    lets the in-frame codebook broadcast)."""
    rows = seeds.select(
        F.col(id_col).alias("sid"),
        _fixed_point(F.col(vec_col), scale).alias("iv"),
    ).collect()
    rows.sort(key=lambda r: r["sid"])
    # ADVICE r13: the in-frame codebook's array_sort on struct(sid, iv)
    # tie-breaks duplicate sids by iv, while this collect-side stable
    # sort would keep nondeterministic collect order — fail loudly
    # instead of silently diverging from the value-identical contract
    if len({r["sid"] for r in rows}) != len(rows):
        raise ValueError("duplicate seed ids in pq_codebook_rows_from_seeds")
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    for r in rows:
        if len(r["iv"]) != dim:
            raise ValueError(f"seed {r['sid']} has dim {len(r['iv'])} != {dim}")
    return [
        [[int(x) for x in r["iv"][m * sub : (m + 1) * sub]] for r in rows]
        for m in range(n_sub)
    ]


def semantic_dedup_flags(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023
    shape): assign every vector to its nearest centroid, compare
    pairs ONLY within a cluster, and drop a vector when a smaller-id
    cluster-mate sits at-or-above the cosine threshold (min-id-wins,
    one pass — a dropped vector still suppresses its own neighbors,
    the deterministic variant of "keep one per duplicate group").

    Output: (id, cluster_id, keep).  Cost is the within-cluster pair
    count, never corpus² — the clustering IS the blocking scheme, and
    at 100 TB the cluster id doubles as the physical partition key so
    each cluster's pair scan is partition-local.  The centroid table
    is dimension-sized (broadcast); the only shuffle is the
    cluster_id equi-join."""
    assigned = nearest_centroids(
        corpus, centroids, id_col, vec_col, "__id__", "__v__", 1
    )
    a = assigned.select(
        F.col("cluster_id"),
        F.col("__id__").alias("id_a"),
        F.col("__v__").alias("va"),
    )
    b = assigned.select(
        F.col("cluster_id").alias("__cb__"),
        F.col("__id__").alias("id_b"),
        F.col("__v__").alias("vb"),
    )
    dropped = (
        a.join(b, (a["cluster_id"] == b["__cb__"]) & (a["id_a"] < b["id_b"]))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select(F.col("id_b").alias("__id__"))
        .distinct()
        .withColumn("__dropped__", F.lit(True))
    )
    return (
        assigned.join(dropped, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            "cluster_id",
            F.col("__dropped__").isNull().alias("keep"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse
    quantization partitions the corpus into cluster lists; each query
    scores only the ``n_probe`` nearest clusters' vectors, then exact
    cosine reranks.  Expected scan fraction ~ n_probe/n_clusters.

    The cluster assignment is the 100 TB organizing principle: write
    the corpus partitioned by cluster id and a probe query prunes
    whole files (partition pruning), not just rows.  Centroids are a
    dimension-sized table -> broadcast everywhere.

    Pass ``centroids`` (cluster_id, centroid: array<double>) to skip
    KMeans and use a fixed coarse quantizer — e.g. a deterministic
    corpus sample, the classic IVF seeding — which makes the whole
    operator SQL-replicable for oracle checks; KMeans quantization
    remains the quality default.
    """
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
        model = KMeans(k=n_clusters, seed=seed, maxIter=10).fit(train)
        spark = corpus.sparkSession
        centroids = spark.createDataFrame(
            [(i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())],
            "cluster_id int, centroid array<double>",
        )

    assigned = nearest_centroids(
        corpus, centroids, id_col, vec_col, "neighbor_id", "c_vec", 1
    )
    probed = nearest_centroids(
        queries, centroids, id_col, vec_col, "query_id", "q_vec", n_probe
    )

    cands = assigned.join(F.broadcast(probed), "cluster_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cent_rows: list[tuple[int, list[int]]],
    budget_rows: int | None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    budget_div: int | None = None,
    arrow_rerank: bool = False,
) -> DataFrame:
    """BUDGETED multi-probe IVF serve stage (VERDICT r12 item 6) over
    a trained integer-grid quantizer: instead of a fixed ``n_probe``
    cluster count, each query walks its distance-RANKED cluster list
    and keeps probing while the cumulative size of the clusters
    already probed is under ``budget_rows`` — boundary queries (whose
    nearest cells are small or ambiguous) get more probes, queries
    landing in a big cell get fewer, and every query's scan work is
    deterministically bounded by budget + one cluster.  Measured on
    the fixture (tests/test_multiprobe.py): reaches the fixed tier's
    best recall at ~25% less scanned candidates — the multi-probe
    value proposition (cut the scan needed for a recall target), and
    at 100 TB the budget is the per-query tail-latency bound a
    serving tier actually provisions for.

    All stages are bounded or map-only: assignment is the Arrow
    argmin kernel; cluster sizes are a k-row aggregate (broadcast);
    the probe ranking emits k rows per query (query-set bounded) and
    the budget walk runs DRIVER-SIDE over bounded state; candidates
    join on cluster id — the at-rest partition key, so served off a
    written index the probe list prunes whole files exactly like the
    fixed tier.

    r13 restructure (guide §1.2/§2.4): the probe list is a function
    of two DRIVER-BOUNDED tables — the k-row cluster-size aggregate
    (collected; it was already broadcast) and the query set (bounded
    by the same contract that broadcast the probe frame) — so the
    ranked-probe walk now runs on the driver: the per-query distance
    ranking replays ``kmeans_rank_arrow``'s exact int64 kernel
    (same ``_pairwise_d2`` helper, same stable argsort (d2, cid) tie
    rule) and the cumulative-size filter is plain integer
    comparison.  This removes a corpus-independent mapInArrow
    stage, a window and two broadcast joins from the plan (the
    serve job was ~25 stages for 8 queries); the collected sizes
    double as the materializing action for the assignment
    checkpoint the candidate join re-reads, and the probe walk is
    row-for-row the old window's output (asserted in
    tests/test_multiprobe.py)."""
    from musicflow_spark.operators.embeddings import (
        _pairwise_d2,
        kmeans_assign_arrow,
        quantized,
    )

    # ADVICE r13: the driver walk's stable-argsort tie rule equals the
    # old (d2, cid) window rule only when cent_rows is cid-ascending;
    # enforce the invariant LOCALLY instead of relying on
    # kmeans_assign_arrow happening to validate the same list below
    probe_cids = [c for c, _ in cent_rows]
    if probe_cids != sorted(probe_cids):
        raise ValueError("cent_rows must be sorted by cluster_id ascending")

    qq = corpus.select(
        F.col(id_col).alias("id"), quantized(vec_col).alias("qv")
    )
    assigned = kmeans_assign_arrow(qq, cent_rows).select(
        F.col("id").alias("neighbor_id"), "cid"
    ).localCheckpoint(eager=False)
    # k-row collect (bounded by the centroid contract); first action
    # on the lazy checkpoint, so it also materializes the assignment
    # the candidate join scans below
    sizes = {
        int(r["cid"]): int(r["sz"])
        for r in assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("sz")).collect()
    }
    if budget_rows is None:
        if budget_div is None:
            raise ValueError("pass budget_rows or budget_div")
        # every corpus vector is assigned exactly once, so the size
        # sum IS the corpus count — the budget derives from the k-row
        # aggregate instead of a separate count job over the corpus
        budget_rows = sum(sizes.values()) // budget_div
    q_rows = queries.select(
        F.col(id_col).alias("id"), quantized(vec_col).alias("qv")
    ).collect()
    probe_rows: list[tuple] = []
    if q_rows and cent_rows:
        cvs = np.asarray([v for _, v in cent_rows], dtype=np.int64)
        cvs_t = cvs.T.copy()
        c2 = (cvs * cvs).sum(axis=1)
        qv = np.asarray([list(r["qv"]) for r in q_rows], dtype=np.int64)
        d2 = _pairwise_d2(qv, cvs_t, c2)
        order = np.argsort(d2, axis=1, kind="stable")
        for qi, r in enumerate(q_rows):
            cum = 0
            for pos in order[qi]:
                cid = int(cent_rows[pos][0])
                sz = sizes.get(cid)
                if sz is None:
                    continue  # empty cluster: the old inner join dropped it
                if cum >= budget_rows:
                    break
                probe_rows.append((r["id"], cid))
                cum += sz
    id_type = queries.select(F.col(id_col)).schema[0].dataType.simpleString()
    probes = corpus.sparkSession.createDataFrame(
        probe_rows, f"query_id {id_type}, cid int"
    )
    cands = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(
        corpus, queries, cands, id_col, vec_col, k, arrow=arrow_rerank
    )


# --------------------------------------------------------------- PQ (ADC)
def _fixed_point(vec: Column, scale: int) -> Column:
    """Fixed-point quantization: array<float> -> array<long> at
    ``round(x * scale)``.  All PQ distances run on this integer grid,
    which makes argmin/ADC sums order-insensitive-exact across
    engines (no float summation-order hazard) — and mirrors what a
    production deployment ships to int8/int16 SIMD kernels."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def _sub_slices(iv: Column, n_sub: int, sub_dim: int) -> Column:
    """``array<array<long>>`` of the ``n_sub`` contiguous subvectors of
    a fixed-point vector — sliced ONCE per row so every later distance
    touches each element exactly once."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda m: F.slice(iv, m * sub_dim + 1, sub_dim),
    )


def _slice_d2(a_sub: Column, b_sub: Column) -> Column:
    """Integer squared L2 between two pre-sliced subvectors."""
    return F.aggregate(
        F.zip_with(a_sub, b_sub, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_encode_parts(
    corpus: DataFrame,
    queries: DataFrame,
    seeds: DataFrame | None,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    scale: int,
    codebook_rows: list[list[list[int]]] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared PQ front half: (codebook 1-row frame, encoded corpus
    codes, per-query ADC distance tables).  Used by both the flat-scan
    ``pq_topk`` and the cluster-pruned ``ivfpq_topk``.

    The codebook comes from one of two places: ``seeds`` (raw seed
    vectors, sliced per subspace — the deterministic-stride tier) or
    ``codebook_rows`` (``[m][c] -> sub_dim`` integer-grid centroids,
    e.g. per-subspace kmeans output — the TRAINED tier, already on
    the fixed-point grid so it is passed through untouched)."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    if codebook_rows is not None:
        if len(codebook_rows) != n_sub or any(
            len(cv) != sub_dim for cb in codebook_rows for cv in cb
        ):
            raise ValueError("codebook_rows must be [n_sub][k][sub_dim]")
        codebook = corpus.sparkSession.createDataFrame(
            [([[list(map(int, cv)) for cv in cb] for cb in codebook_rows],)],
            "__seeds__ array<array<array<bigint>>>",
        )
    else:
        # __seeds__[m][c] = pre-sliced subvector m of codebook entry c
        # (entry order = seed id ascending); sliced once in the 1-row
        # frame
        codebook = (
            seeds.select(
                F.struct(
                    F.col(id_col).alias("sid"),
                    _fixed_point(F.col(vec_col), scale).alias("iv"),
                ).alias("s")
            )
            .agg(F.array_sort(F.collect_list("s")).alias("s"))
            .select(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_sub - 1)),
                    lambda m: F.transform(
                        F.col("s"),
                        lambda s: F.slice(s["iv"], m * sub_dim + 1, sub_dim),
                    ),
                ).alias("__seeds__")
            )
        )

    def with_subs(df: DataFrame, idname: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"{idname}_vec"),
            _sub_slices(
                _fixed_point(F.col(vec_col), scale), n_sub, sub_dim
            ).alias("subs"),
        ).crossJoin(F.broadcast(codebook))

    def argmin_code(m: Column) -> Column:
        # array_min on (d, cid) structs == lexicographic argmin with
        # cid tie-break — O(K), replaces sort-and-take-first
        cents = F.element_at(F.col("__seeds__"), m + 1)
        sub = F.element_at(F.col("subs"), m + 1)
        return F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.size(cents) - 1),
                lambda c: F.struct(
                    _slice_d2(sub, F.element_at(cents, c + 1)).alias("d"),
                    c.alias("cid"),
                ),
            )
        )["cid"]

    encoded = with_subs(corpus, "neighbor_id").select(
        "neighbor_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda m: argmin_code(m),
        ).alias("codes"),
    )
    dtabbed = with_subs(queries, "query_id").select(
        "query_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda m: F.transform(
                F.element_at(F.col("__seeds__"), m + 1),
                lambda cent: _slice_d2(F.element_at(F.col("subs"), m + 1), cent),
            ),
        ).alias("dtab"),
    )
    return codebook, encoded, dtabbed


def pq_encode_codes_arrow(
    corpus: DataFrame,
    codebook_rows: list[list[list[int]]],
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    scale: int,
    out_id: str = "neighbor_id",
) -> DataFrame:
    """Arrow compute tier of the PQ ENCODE stage — IDENTICAL codes to
    the Catalyst fold, faster kernel.  The native encode evaluates the
    per-(row, centroid) integer subspace distance through interpreted
    higher-order-function lambdas (~2e8 lambda steps at 200k rows x
    16 centroids x 8 subspaces — the measured x100 constant); this
    tier quantizes on the JVM (``_fixed_point`` — so NO float
    rounding happens in Python, the cross-engine-sensitive step stays
    on the proven path) and does only exact int64 subtract/square/
    sum/argmin per Arrow batch in numpy.  Pure integer math with the
    same lowest-cid tie rule (np.argmin takes the first minimum;
    centroid order IS cid order), so code equality with the native
    encode is a bit-level guarantee, asserted row-for-row in
    tests/test_embeddings.py.  Requires an explicit ``codebook_rows``
    (the trained tiers' form)."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    cb = [np.asarray(c, dtype=np.int64) for c in codebook_rows]
    if len(cb) != n_sub or any(c.shape[1] != sub_dim for c in cb):
        raise ValueError("codebook_rows must be [n_sub][k][sub_dim]")
    cb_t = [c.T.copy() for c in cb]
    cb2 = [(c * c).sum(axis=1) for c in cb]
    # ADVICE r13: the id column passes through UNTOUCHED (the
    # nearest_centroid_ids_arrow pattern) — casting to long here made
    # the tier's output id type diverge from the native encode for
    # non-long id columns (and would null-cast a non-numeric id)
    iv_df = corpus.select(
        F.col(id_col).alias(out_id),
        _fixed_point(F.col(vec_col), scale).alias("__iv__"),
    )
    id_type = iv_df.schema[out_id].dataType.simpleString()

    def run(batches):
        import numpy as _np
        import pyarrow as _pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            # values-buffer view + |q|^2 - 2 q·c + |c|^2 expansion:
            # bit-identical in the mod-2^64 int64 ring (see
            # embeddings._pairwise_d2), no n·k·sub_dim temporary
            iv = (
                batch.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(_np.int64, copy=False)
                .reshape(n, dim)
            )
            codes = _np.empty((n, n_sub), dtype=_np.int64)
            for m in range(n_sub):
                sub = iv[:, m * sub_dim : (m + 1) * sub_dim]
                s2 = (sub * sub).sum(axis=1)
                d2 = s2[:, None] - 2 * (sub @ cb_t[m]) + cb2[m][None, :]
                codes[:, m] = _np.argmin(d2, axis=1)
            offsets = _np.arange(0, (n + 1) * n_sub, n_sub, dtype=_np.int32)
            yield _pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    _pa.ListArray.from_arrays(
                        _pa.array(offsets, type=_pa.int32()),
                        _pa.array(codes.ravel(), type=_pa.int64()),
                    ),
                ],
                names=[out_id, "codes"],
            )

    return iv_df.mapInArrow(run, f"{out_id} {id_type}, codes array<long>")


def _adc_sum(n_sub: int) -> Column:
    """ADC distance: sum over subspaces of dtab[m][codes[m]] — integer
    grid end to end, so cross-engine ties cannot flip."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            F.element_at(F.col("dtab"), m + 1),
            F.element_at(F.col("codes"), m + 1).cast("int") + 1,
        ),
    )


def _cosine_pairs_arrow(pairs: DataFrame) -> DataFrame:
    """Arrow compute tier of the ``cosine(q_vec, c_vec)`` projection
    over a (query_id, neighbor_id, q_vec, c_vec) frame — IDENTICAL
    values, faster kernel (r14, guide §4.2: the native cosine is
    three interpreted HOF folds per row — dot(a,b), dot(a,a),
    dot(b,b) — ~3·d lambda steps through the interpreter per
    candidate pair).

    Bit-exactness (the ``nearest_centroid_ids_arrow`` recipe): the
    native fold accumulates ``acc + x·y`` one DIMENSION at a time in
    IEEE double after exact float→double widening; the kernel replays
    the same sequence — vectorized across candidate rows, sequential
    across dimensions (numpy does not fuse, no FMA) — then
    ``ab / (sqrt(aa)·sqrt(bb))`` is the same three scalar IEEE ops
    the native expression tree performs.  Fixed-dimension contract:
    every vector in a batch must have the same length (the corpus
    contract everywhere else); raises on ragged input instead of
    silently mis-reshaping."""

    out_fields = [
        pairs.schema["query_id"],
        pairs.schema["neighbor_id"],
    ]
    out_schema = (
        f"query_id {out_fields[0].dataType.simpleString()}, "
        f"neighbor_id {out_fields[1].dataType.simpleString()}, "
        "cos_sim double"
    )

    def run(batches):
        import numpy as _np
        import pyarrow as _pa

        def mat(col, n):
            widths = _np.diff(col.offsets.to_numpy(zero_copy_only=False))
            if widths.size and (widths != widths[0]).any():
                raise ValueError("ragged vector column in cosine kernel")
            return (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(_np.float64, copy=False)
                .reshape(n, -1)
            )

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            q = mat(batch.column(2), n)
            c = mat(batch.column(3), n)
            if q.shape[1] != c.shape[1]:
                raise ValueError(
                    f"dim mismatch in cosine kernel: {q.shape[1]} vs {c.shape[1]}"
                )
            ab = _np.zeros(n, dtype=_np.float64)
            aa = _np.zeros(n, dtype=_np.float64)
            bb = _np.zeros(n, dtype=_np.float64)
            for j in range(q.shape[1]):
                x, y = q[:, j], c[:, j]
                ab += x * y
                aa += x * x
                bb += y * y
            cos = ab / (_np.sqrt(aa) * _np.sqrt(bb))
            yield _pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    _pa.array(cos, type=_pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cos_sim"],
            )

    return pairs.mapInArrow(run, out_schema)


def _exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    arrow: bool = False,
) -> DataFrame:
    """Exact-cosine rerank of (query_id, neighbor_id) candidates via
    broadcast join-backs; the raw vectors are touched only here.
    ``arrow=True`` swaps the interpreted per-row cosine fold for the
    bit-identical :func:`_cosine_pairs_arrow` kernel (guide §4.2) —
    the right tier when candidate volume is large; the join shape and
    the ranking window are unchanged either way."""
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    joined = c_vecs.join(F.broadcast(cands), "neighbor_id").join(
        F.broadcast(q_vecs), "query_id"
    )
    if arrow:
        scored = _cosine_pairs_arrow(
            joined.select("query_id", "neighbor_id", "q_vec", "c_vec")
        )
    else:
        scored = joined.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    seeds: DataFrame | None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_candidates: int = 40,
    scale: int = 1000,
    codebook_rows: list[list[list[int]]] | None = None,
    rerank_corpus: DataFrame | None = None,
    rerank_queries: DataFrame | None = None,
    arrow_encode: bool = False,
    arrow_rerank: bool = False,
) -> DataFrame:
    """Product-quantization ADC top-k — the memory-compression ANN
    tier: each corpus vector is encoded once into ``n_sub`` centroid
    ids (8 bytes/vector at 256 centroids vs ~256 bytes of floats), the
    query scan touches ONLY those codes via a precomputed per-query
    distance table (asymmetric distance computation), and exact cosine
    reranks the ``n_candidates`` ADC survivors fetched by a join-back.

    ``seeds`` supplies the codebook vectors (``id_col``, ``vec_col``);
    centroid id = rank of the seed's id ascending, so a deterministic
    seed set (e.g. a corpus stride) makes the WHOLE pipeline
    SQL-replicable.  Distances run on a fixed-point integer grid
    (``scale``), so cross-engine argmin/ADC ties cannot flip.

    Scale notes (100 TB): encode is one map pass against a broadcast
    codebook (1 row); the ADC scan is map-only over codes with the
    8-query distance-table frame broadcast; the per-partition top-C
    window shuffles candidate rows only; the rerank join-back
    broadcasts C*Q ids into the corpus scan.  The raw vectors are
    touched exactly twice: encode and rerank-fetch.
    """
    codebook, encoded, dtabbed = _pq_encode_parts(
        corpus, queries, seeds, id_col, vec_col, dim, n_sub, scale,
        codebook_rows=codebook_rows,
    )
    if arrow_encode:
        # the Arrow int64-argmin compute tier — bit-identical codes
        # (see pq_encode_codes_arrow); only the corpus-sized encode
        # swaps kernels, the query distance tables stay native
        if codebook_rows is None:
            raise ValueError("arrow_encode requires codebook_rows")
        encoded = pq_encode_codes_arrow(
            corpus, codebook_rows, id_col, vec_col, dim, n_sub, scale,
        )

    adc = (
        encoded.crossJoin(F.broadcast(dtabbed))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _adc_sum(n_sub).alias("adc"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    cands = adc.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= n_candidates
    ).select("query_id", "neighbor_id")
    # rerank_corpus/rerank_queries: rank exact cosine against DIFFERENT
    # frames than the encode/ADC inputs — the OPQ tier encodes in the
    # rotated basis but reranks on the ORIGINAL vectors (rotations
    # preserve cosine mathematically, but reranking on originals keeps
    # the rerank stage literally identical across every PQ tier)
    return _exact_rerank(
        rerank_corpus if rerank_corpus is not None else corpus,
        rerank_queries if rerank_queries is not None else queries,
        cands, id_col, vec_col, k, arrow=arrow_rerank,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    seeds: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    dim: int = 64,
    n_sub: int = 8,
    n_candidates: int = 40,
    scale: int = 1000,
    arrow_corpus_tiers: bool = False,
    arrow_rerank: bool = False,
) -> DataFrame:
    """IVF-PQ: the combined ANN tier every large vector deployment
    actually ships — IVF coarse quantization prunes WHICH codes are
    scanned, PQ compression shrinks WHAT is scanned.  Each corpus
    vector lives in exactly one coarse cluster and carries an
    ``n_sub``-byte PQ code; a query probes its ``n_probe`` nearest
    clusters and ADC-scans only those clusters' codes (expected scan
    fraction ~ n_probe/n_clusters of an already-26x-compressed
    representation), then exact cosine reranks the top
    ``n_candidates``.

    This is the ``by_residual=false`` IVF-PQ variant (codes quantize
    the raw vectors, not the centroid residuals): residual encoding
    would couple every code to float centroid arithmetic and break
    the integer-grid portability contract that makes the operator
    SQL-replicable; the accuracy delta is absorbed by the exact
    rerank stage.  Distances are fixed-point integers end to end
    (argmin/ADC ties cannot flip across engines).

    Scale notes (100 TB): encode is one map pass against the 1-row
    broadcast codebook; cluster assignment is the physical layout key
    (write the codes partitioned by cluster_id and a probe prunes
    whole files); the ADC join touches n_probe cluster lists per
    query with the query frames broadcast; raw vectors are read only
    at encode and rerank.  Candidates cannot duplicate — a corpus
    vector has exactly one cluster, so (query, neighbor) appears at
    most once and no dedup pass is needed.
    """
    codebook, encoded, dtabbed = _pq_encode_parts(
        corpus, queries, seeds, id_col, vec_col, dim, n_sub, scale
    )
    if arrow_corpus_tiers:
        # Arrow kernels for BOTH corpus-sized map stages (r13, guide
        # §4.1/§4.2) — bit-identical by the tier contracts: the PQ
        # encode on the int64 grid (pq_encode_codes_arrow) and the
        # coarse assignment with dimension-sequential double d²
        # (nearest_centroid_ids_arrow).  The codebook/centroid
        # collects are bounded by the same contracts that broadcast
        # them in the native tiers; the query-side probe ranking
        # stays native (query-bounded rows).
        encoded = pq_encode_codes_arrow(
            corpus,
            pq_codebook_rows_from_seeds(seeds, id_col, vec_col, dim, n_sub, scale),
            id_col, vec_col, dim, n_sub, scale,
        )
        cent_collected = sorted(
            (
                (int(r["cluster_id"]), [float(x) for x in r["centroid"]])
                for r in centroids.select("cluster_id", "centroid").collect()
            ),
            key=lambda t: t[0],
        )
        assigned = nearest_centroid_ids_arrow(
            corpus, cent_collected, id_col, "neighbor_id", vec_col
        )
    else:
        assigned = nearest_centroids(
            corpus, centroids, id_col, vec_col, "neighbor_id", "__cv__", 1
        ).select("neighbor_id", "cluster_id")
    probed = nearest_centroids(
        queries, centroids, id_col, vec_col, "query_id", "__qv__", n_probe
    ).select("query_id", "cluster_id")
    adc = (
        encoded.join(assigned, "neighbor_id")
        .join(F.broadcast(probed), "cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(dtabbed), "query_id")
        .select("query_id", "neighbor_id", _adc_sum(n_sub).alias("adc"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    cands = adc.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= n_candidates
    ).select("query_id", "neighbor_id")
    return _exact_rerank(corpus, queries, cands, id_col, vec_col, k, arrow=arrow_rerank)


# ------------------------------------------------------------------ MMR
def _sq_stats(corpus: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-dimension corpus min/max as ONE row of two double arrays —
    the scalar-quantization training pass.  min/max of floats is
    comparison-exact (no summation-order hazard), so both engines
    derive identical grids.  Scale: one posexplode shuffle keyed by
    dimension (dim-bounded aggregate), then a dim-row collect into a
    broadcastable 1-row frame — never a driver-side data collect."""
    per_dim = (
        corpus.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min("x").cast("double").alias("mn"),
            F.max("x").cast("double").alias("mx"),
        )
    )
    return per_dim.agg(
        F.sort_array(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s")
    ).select(
        F.transform("s", lambda r: r["mn"]).alias("mn"),
        F.transform("s", lambda r: r["mx"]).alias("mx"),
    )


def _sq_code(vec_col: str, dim: int, levels: int) -> Column:
    """int8-style scalar quantization against the broadcast ``mn``/
    ``mx`` arrays: code_j = clamp(round((x_j - mn_j) * levels /
    (mx_j - mn_j)), 0, levels); a constant dimension codes to 0.
    The affine transform is the same IEEE double expression in both
    engines; after round, everything downstream is int64."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: F.when(
            F.element_at("mx", j) > F.element_at("mn", j),
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(levels).cast("long"),
                    F.round(
                        (F.element_at(vec_col, j).cast("double") - F.element_at("mn", j))
                        * levels
                        / (F.element_at("mx", j) - F.element_at("mn", j)),
                        0,
                    ).cast("long"),
                ),
            ),
        ).otherwise(F.lit(0).cast("long")),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    levels: int = 255,
    n_candidates: int = 40,
    arrow_rerank: bool = False,
) -> DataFrame:
    """Scalar-quantization (SQ8) ANN tier: every corpus vector is
    compressed to one byte per dimension on a per-dimension affine
    grid trained from corpus min/max (FAISS ``SQ8``), candidates are
    ranked by exact integer L2 between code arrays (symmetric SQ
    distance — queries quantize on the same grid), and exact cosine
    reranks the survivors.  The tier between PQ (8 bytes/vector,
    lossy subspaces) and raw floats: 4x compression with
    near-brute-force recall, and — unlike PQ — no codebook training.

    Scale shape (100 TB): the stats pass is one dim-bounded
    aggregate; quantization is map-only against the broadcast 1-row
    grid; the scan is map-only against the broadcast quantized
    queries with integer distances; the per-query top-C window
    shuffles candidate rows only; raw vectors are touched exactly
    twice (stats/encode and rerank-fetch).
    """
    from musicflow_spark.operators.fanout import INTERPRETED_STAGE_DIVISOR, fan_out

    stats = _sq_stats(corpus, vec_col, dim)
    code = _sq_code(vec_col, dim, levels)
    # the quantize + integer-L2 scan below is an interpreted HOF chain
    # (transform/zip_with/aggregate) sitting directly on the corpus
    # scan — at sf0.1 that is ONE task while the session idles (guide
    # §2.5 input skew); fan_out spreads it and no-ops at production
    # split counts (r14: 32-core wall 1.99 s with the single-task scan,
    # and the driver's 8-core run was FASTER — overhead-bound ladder)
    c_codes = (
        fan_out(corpus, divisor=INTERPRETED_STAGE_DIVISOR)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col).alias("neighbor_id"), code.alias("c_code"))
    )
    q_codes = queries.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias("query_id"), code.alias("q_code")
    )
    d2 = (
        c_codes.crossJoin(F.broadcast(q_codes))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("q_code", "c_code", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("sq_d2"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.asc("sq_d2"), F.asc("neighbor_id"))
    cands = (
        d2.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(corpus, queries, cands, id_col, vec_col, k, arrow=arrow_rerank)


def mmr_topk(
    df: DataFrame,
    query_id: int,
    k: int = 8,
    pool: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diversified top-k on the integer grid: greedily pick the
    candidate maximizing rel(d) - max_{s∈selected} sim(d, s), ties to
    the lowest id, from a bounded relevance pool (the standard
    rerank-window shape).  Both rel and sim are integer dot products
    of the quantized vectors (λ = 1/2 — the marginal form where the
    relevance and redundancy terms weigh equally, so the score stays
    a difference of two int64s), making every selection step
    bit-replayable by the unrolled SQL oracle (``mmr_oracle_sql``).

    The greedy recurrence is inherently sequential in k: each of the
    k steps is one jobs-bounded argmax over the pool (a ``limit 1``
    collect — k driver round-trips of ONE row each, the same bounded-
    collect contract as the PQ seed codebook).  The pool itself comes
    from a distributed top-``pool`` (TakeOrdered, no global sort) and
    is localCheckpointed once; at 100 TB only the relevance scan is
    data-sized, everything after runs on ``pool`` rows.
    """
    from musicflow_spark.operators.embeddings import quantized

    q = df.select(F.col(id_col).alias("id"), quantized(vec_col, scale).alias("qv"))
    q0 = q.filter(F.col("id") == query_id).select(F.col("qv").alias("q0"))
    intdot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rel = (
        q.filter(F.col("id") != query_id)
        .crossJoin(F.broadcast(q0))
        .select("id", "qv", intdot(F.col("qv"), F.col("q0")).alias("rel"))
    )
    pool_df = (
        rel.orderBy(F.col("rel").desc(), F.col("id")).limit(pool)
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    selected: list[tuple] = []  # (id, qv, rel, rank, score)
    for rank in range(1, k + 1):
        if not selected:
            cand = pool_df.withColumn("score", F.col("rel"))
        else:
            sel = spark.createDataFrame(
                [(r[0], r[1]) for r in selected], "sid long, sv array<long>"
            )
            cand = (
                pool_df.filter(~F.col("id").isin([r[0] for r in selected]))
                .crossJoin(F.broadcast(sel))
                .withColumn("__sim__", intdot(F.col("qv"), F.col("sv")))
                .groupBy("id", "qv", "rel")
                .agg(F.max("__sim__").alias("__ms__"))
                .withColumn("score", F.col("rel") - F.col("__ms__"))
            )
        top = cand.orderBy(F.col("score").desc(), F.col("id")).limit(1).collect()[0]
        selected.append((top["id"], list(top["qv"]), top["rel"], rank, top["score"]))
    return spark.createDataFrame(
        [(r[3], r[0], r[2], r[4]) for r in selected],
        f"rank int, {id_col} long, rel long, score long",
    )


def mmr_oracle_sql(
    table: str,
    dim: int,
    query_id: int,
    k: int = 8,
    pool: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> str:
    """Unrolled replay of ``mmr_topk``: one (pick, sel) CTE pair per
    greedy step, correlated max-dot subquery for the redundancy term,
    identical (score DESC, id) tiebreak."""
    d = (
        f"CAST(list_sum(list_transform(range(1, {dim} + 1), "
        "i -> c.qv[i] * s.qv[i])) AS BIGINT)"
    )
    parts = [
        f"""q AS MATERIALIZED (
  SELECT {id_col} AS id,
         list_transform({vec_col},
                        x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM {table}),
q0 AS MATERIALIZED (SELECT qv AS v0 FROM q WHERE id = {query_id}),
rel AS MATERIALIZED (
  SELECT q.id, q.qv,
         CAST(list_sum(list_transform(range(1, {dim} + 1),
              i -> q.qv[i] * q0.v0[i])) AS BIGINT) AS rel
  FROM q, q0 WHERE q.id <> {query_id}),
pool AS MATERIALIZED (SELECT * FROM rel ORDER BY rel DESC, id LIMIT {pool}),
sel1 AS MATERIALIZED (
  SELECT id, qv, rel, 1 AS rank, rel AS score
  FROM pool ORDER BY rel DESC, id LIMIT 1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f"""ms{t} AS MATERIALIZED (
  SELECT c.id, max({d}) AS ms
  FROM pool c, sel{t - 1} s
  WHERE c.id NOT IN (SELECT id FROM sel{t - 1})
  GROUP BY c.id),
pick{t} AS MATERIALIZED (
  SELECT p.id, p.qv, p.rel, {t} AS rank, p.rel - m.ms AS score
  FROM pool p JOIN ms{t} m ON m.id = p.id
  ORDER BY score DESC, p.id LIMIT 1),
sel{t} AS MATERIALIZED (
  SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM pick{t})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT rank, id AS {id_col}, rel, score FROM sel{k}"""
    )


# ------------------------------------------ graph-ANN (beam search)
def beam_search_topk(
    corpus: DataFrame,
    queries: DataFrame,
    edges: DataFrame,
    entry_cand: DataFrame,
    k: int = 10,
    beam: int = 16,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_visited: bool = False,
    expand: int | None = None,
) -> "DataFrame | tuple[DataFrame, DataFrame]":
    """Graph-ANN: SYNCHRONOUS beam search over a prebuilt kNN graph —
    the single-layer HNSW/NSW-shaped tier above IVF-PQ (Malkov &
    Yashunin 2018's search loop, batched: all queries advance one hop
    per round instead of one node per step, which is the only form
    that is both Spark-shaped and fixed-round oracle-replayable).

    Per round, each query's candidate set is its current beam plus
    every graph neighbor of a beam member; candidates are scored by
    exact cosine against the query and the top-``beam`` survive
    (ties to the lowest node id).  Because the previous beam is
    always in the candidate set, the beam's quality is monotone in
    rounds; after ``rounds`` hops the top-``k`` of the final beam is
    returned as (query_id, neighbor_id, cos_sim, rank).

    ``edges`` is the (src, dst) adjacency — callers symmetrize a
    directed kNN graph first (beam search needs to walk INTO a hub,
    not only out of it).  ``entry_cand`` is the per-query entry
    CANDIDATE set as (query_id, node) rows; the round-0 prune scores
    it and keeps the top-``beam`` as the initial beam.  Callers
    choose the entry policy: a fixed global node set crossed with
    the queries, or — the HNSW-top-layer analogue that measured ~2x
    the recall of fixed entries on anti-navigable (near-random)
    vectors — a deterministic coarse SAMPLE of the corpus (every
    M-th id), whose round-0 scoring is the 'descend the upper
    layer' step.

    Scale shape: candidates per query per round are bounded by
    beam x (1 + out-degree), so every round is one edges-keyed
    equi-join + one corpus-keyed vector fetch + one per-query
    window over ~beam·degree rows; the query set broadcasts (k-row
    contract shared with every other ANN tier); re-scoring is
    stateless recomputation of at most beam·(1+degree) cosines, which
    keeps each round's plan free of cross-round float state.  Nothing
    scans the corpus: a query touches only the graph neighborhood it
    walks, the property that makes graph ANN the latency tier at
    100 TB.

    ``expand`` caps how many beam members expand their neighbors per
    round (HNSW's ef analogue; default: the whole beam).  With
    ``return_visited=True`` returns ``(topk, visited)`` where visited
    is the distinct (query_id, node) set the search scored — the
    per-query candidate budget an eval compares against other tiers
    at (tests/test_vectors_beam.py)."""
    if k > beam:
        raise ValueError(f"k ({k}) must be <= beam ({beam})")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("node"), F.col(vec_col).alias("c_vec")
    )
    e = edges.select(F.col("src").alias("node"), "dst")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("node"))

    def top_beam(cand: DataFrame) -> DataFrame:
        scored = (
            cand.join(c, "node")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "node",
                cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
            )
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= beam)
        )

    cand = entry_cand.select("query_id", "node").filter(
        F.col("node") != F.col("query_id")
    )
    # frontier width: how many beam members expand their neighbors
    # each round.  HNSW expands one best-unexpanded node per step; the
    # synchronous analogue caps the frontier so low-ranked beam slots
    # (entry noise) don't pay degree-sized expansion for nothing.
    # Default: the whole beam (the maximal-recall setting).
    ef = beam if expand is None else expand
    visited = cand
    bm = top_beam(cand)
    for _ in range(rounds):
        nbrs = (
            bm.filter(F.col("rank") <= ef)
            .select("query_id", "node")
            .join(e, "node")
            .select("query_id", F.col("dst").alias("node"))
        )
        cand = (
            bm.select("query_id", "node")
            .unionByName(nbrs)
            .filter(F.col("node") != F.col("query_id"))
            .distinct()
        )
        visited = visited.unionByName(cand)
        bm = top_beam(cand)
    out = bm.filter(F.col("rank") <= k).select(
        "query_id", F.col("node").alias("neighbor_id"), "cos_sim", "rank"
    )
    if return_visited:
        return out, visited.distinct()
    return out


def hnsw_topk(
    corpus: DataFrame,
    queries: DataFrame,
    layers: list[tuple[DataFrame, int, int]],
    entry_cand: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_visited: bool = False,
) -> "DataFrame | tuple[DataFrame, DataFrame]":
    """LAYERED graph-ANN search (Malkov & Yashunin 2018's hierarchy,
    batched): a chain of :func:`beam_search_topk` descents, one per
    layer top-to-bottom — each layer's surviving beam becomes the
    next (denser) layer's entry candidates, so the expensive
    bottom-layer walk starts from nodes the sparse upper layers
    already steered toward the query's region instead of from a
    corpus-wide sample.  That is the whole point of the hierarchy:
    entry cost scales with the (geometrically small) upper-layer
    sizes, not with N.

    ``layers``: (edges, beam_width, rounds) per layer, TOP (sparsest)
    first; ``edges`` must connect only that layer's member nodes and
    be symmetrized.  Layer membership must be NESTED (every layer-l
    node is also in every layer below) so a beam handed down is
    walkable.  ``entry_cand`` is (query_id, node) rows inside the TOP
    layer — the apex is small by construction, so scoring all of it
    is the 'top of the hierarchy' step.

    Scale shape: identical to beam_search_topk per layer (edges-keyed
    equi-joins, broadcast query set, per-query windows over
    beam·degree rows); the chain adds only the upper layers' walks,
    which are bounded by their layer sizes.  The intermediate beams
    (queries x width rows) are materialized between layers — they
    are tiny, and without it each layer's plan would inline the whole
    upstream chain into every round of the next layer.

    Returns top-``k`` of the FINAL layer's beam as (query_id,
    neighbor_id, cos_sim, rank); with ``return_visited=True`` also
    the distinct (query_id, node) scored set across ALL layers (the
    candidate budget — tests compare tiers at equal budget)."""
    if not layers:
        raise ValueError("need at least one layer")
    if k > layers[-1][1]:
        raise ValueError(f"k ({k}) must be <= final beam width")
    cand = entry_cand
    visited: list[DataFrame] = []
    out: DataFrame | None = None
    for edges, width, rounds in layers:
        res = beam_search_topk(
            corpus, queries, edges, cand, k=width, beam=width,
            rounds=rounds, id_col=id_col, vec_col=vec_col,
            return_visited=return_visited,
        )
        if return_visited:
            out, v = res
            visited.append(v)
        else:
            out = res
        # checkpoint the beam ITSELF (not a projection of it) so the
        # next layer's entry set AND the final top-k both read the
        # materialized frame — checkpointing only `cand` left `final`
        # re-executing the entire bottom-layer walk a second time
        # (ADVICE r10: the dominant stage of knn_hnsw ran twice)
        out = out.localCheckpoint(eager=True)
        cand = out.select("query_id", F.col("neighbor_id").alias("node"))
    final = out.filter(F.col("rank") <= k)
    if return_visited:
        allv = visited[0]
        for v in visited[1:]:
            allv = allv.unionByName(v)
        return final, allv.distinct()
    return final


def nn_descent_round(
    corpus: DataFrame,
    edges: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One NN-DESCENT refinement round (Dong, Moses & Li, WWW'11)
    over a directed kNN graph: "a neighbor of a neighbor is likely a
    neighbor" — each node's candidate set is its current neighborhood
    (walked BOTH directions) plus every out-neighbor of those nodes,
    rescored by exact cosine, pruned back to top-``k``.  The standard
    way an approximate construction (LSH banding) is polished toward
    the exact kNN graph without all-pairs work.

    ``edges`` is the current (src, dst) top-k graph (directed).
    Returns the refined graph in knn-graph shape (query_id,
    neighbor_id, cos_sim, rank) — feed it back in for further rounds
    (each round is one plan; quality is monotone because the current
    edges stay in the candidate set).

    Scale shape: the two-hop expansion keys on the shared middle
    vertex and the second hop uses DIRECTED edges only, so per-wedge
    fan-out is bounded by the out-degree k; candidate volume is
    O(E·k) rows through two equi-joins, then one corpus-keyed vector
    fetch and a per-node top-k window — never quadratic, no
    broadcast of anything data-sized."""
    e = edges.select(F.col("src").cast("long").alias("src"),
                     F.col("dst").cast("long").alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # two-hop: src -> mid (either direction) -> mid's OUT neighbors
    two_hop = (
        sym.select(F.col("src"), F.col("dst").alias("mid"))
        .join(e.select(F.col("src").alias("mid"), F.col("dst").alias("hop2")),
              "mid")
        .select("src", F.col("hop2").alias("dst"))
    )
    cand = (
        sym.unionByName(two_hop)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    c = corpus.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("c_vec"))
    qv = corpus.select(F.col(id_col).alias("src"), F.col(vec_col).alias("q_vec"))
    scored = (
        cand.join(c, "dst")
        .join(qv, "src")
        .select(
            F.col("src").alias("query_id"),
            F.col("dst").alias("neighbor_id"),
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def feature_hash_embedding_arrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """The Arrow compute tier of :func:`feature_hash_embedding` —
    IDENTICAL output (exact signed integer counts; asserted
    row-for-row in tests), different kernel.

    The native tier folds O(tokens x dim) interpreted lambda steps
    per document (higher-order functions run outside codegen); this
    tier runs one ``mapInArrow`` pass that tokenizes, md5-hashes and
    bucket-accumulates in numpy per batch — measured 3.2 s -> ~0.9 s
    for the 10.9k-chunk embedding pass of corpus_retrieval_mart at
    sf0.1.  The brute_force_topk_vectorized contract: registered
    oracles may use either tier because the VALUES are bit-identical
    (integer counts), and the native tier remains the
    plan-transparency reference."""
    import pyarrow as pa

    if dim & (dim - 1):
        raise ValueError("dim must be a power of two")
    sign_bit = dim.bit_length() - 1
    out_schema = f"{id_col} long, embedding array<double>"
    out_type = pa.schema(
        [
            pa.field(id_col, pa.int64()),
            pa.field("embedding", pa.list_(pa.float64())),
        ]
    )

    def run(batches):
        import hashlib
        import re as _re

        import numpy as _np
        import pyarrow as _pa

        # EXACTLY the native tier's delimiter class: Java regex \s is
        # ASCII-only ([ \t\n\x0b\f\r]) while Python's \s is
        # Unicode-aware — using Python \s here would silently split on
        # U+00A0/U+2028/... and desync the bit-identical contract on
        # real corpora (ADVICE r09).  Leading/trailing runs produce
        # empty fragments that the `if not tok` filter drops, matching
        # the native F.filter(t != "") — so no strip() (Python strip is
        # Unicode-aware too).
        ws = _re.compile("[ \\t\\n\\x0b\\f\\r]+")
        # md5 once per DISTINCT token, not per occurrence — real
        # corpora are zipfian, so the cache collapses most of the
        # hashing cost (the operator-level analogue of the map-side
        # combine a shuffle formulation would get)
        cache: dict[str, tuple[int, float]] = {}

        def hv(tok: str) -> tuple[int, float]:
            v = cache.get(tok)
            if v is None:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                v = (h % dim, 1.0 if (h >> sign_bit) & 1 else -1.0)
                cache[tok] = v
            return v

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            vecs = _np.zeros((len(ids), dim), dtype=_np.float64)
            out: list[list[float] | None] = []
            for r, t in enumerate(texts):
                if t is None:
                    # match the native fold: a NULL text yields a
                    # NULL embedding (transform over NULL tokens),
                    # not a zero vector
                    out.append(None)
                    continue
                for tok in ws.split(t):
                    if not tok:
                        continue
                    # str.lower() and Spark's lower() both follow the
                    # Unicode default case mappings; divergence is
                    # limited to locale-sensitive folds (tr/az dotted
                    # I) that neither fixture nor contract exercises
                    j, s = hv(tok.lower())
                    vecs[r, j] += s
                out.append(list(vecs[r]))
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(ids, type=_pa.int64()),
                    _pa.array(out, type=_pa.list_(_pa.float64())),
                ],
                schema=out_type,
            )

    return docs.select(
        F.col(id_col).cast("long"), F.col(text_col)
    ).mapInArrow(run, out_schema).select(
        F.col(id_col).alias("doc_id"), "embedding"
    )
