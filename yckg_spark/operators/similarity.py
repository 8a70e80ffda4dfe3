"""Similarity search over an embedding column (array<float>).

  * cosine_expr / dot_expr — pure Column expressions (zip_with + aggregate,
    double accumulation, JVM-side)
  * brute_force_topk       — exact top-k per query via crossJoin + window;
    the correctness baseline
  * hyperplane_buckets / lsh_topk — random-hyperplane LSH with
    multi-table OR-amplification: seeded, deterministic bucket
    signatures per table; a pair is a candidate if it collides in any
    table, then the candidate set is exactly reranked. The scale path:
    the crossJoin disappears, work ∝ n_tables × bucket sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query against the corpus.

    (query_id, neighbor_id, cosine, rank); excludes self-matches. The corpus
    side stays partitioned; the (small) query side is broadcast — no shuffle
    of the big table.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy RNG state)."""
    out = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        out.append(row)
    return out


def hyperplane_buckets(
    emb: DataFrame, dim: int, n_planes: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 7,
) -> DataFrame:
    """(id, vec, bucket string): sign pattern of n_planes dot products —
    a pure Column expression over broadcast plane constants."""
    planes = _planes(dim, n_planes, seed)
    bits = [
        F.when(dot_expr(F.col(vec_col), F.array(*[F.lit(x) for x in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return emb.select(
        F.col(id_col), F.col(vec_col), F.concat(*bits).alias("bucket")
    )


def _bucket_rows(
    emb: DataFrame, dim: int, n_planes: int, n_tables: int,
    id_col: str, vec_col: str, max_bucket: int | None,
) -> DataFrame:
    """(id, bucket) rows: every vector's sign-pattern bucket in each of
    ``n_tables`` seeded plane families — ids-only, ready for a bucket
    self-join. Shared by lsh_topk and lsh_candidate_pairs."""
    bucket_arrays = []
    for t in range(n_tables):
        planes = _planes(dim, n_planes, seed=7 + 101 * t)
        bits = [
            F.when(
                dot_expr(F.col(vec_col), F.array(*[F.lit(x) for x in p])) >= 0, "1"
            ).otherwise("0")
            for p in planes
        ]
        bucket_arrays.append(F.concat(F.lit(f"{t}:"), *bits))
    # one pass computes all n_tables signatures, then explodes to L rows/vec
    b = emb.select(
        F.col(id_col).alias("id"), F.explode(F.array(*bucket_arrays)).alias("bucket")
    )
    if max_bucket is not None:
        wb = Window.partitionBy("bucket").orderBy("id")
        b = b.withColumn("__r", F.row_number().over(wb)).filter(
            F.col("__r") <= max_bucket
        ).drop("__r")
    return b


def lsh_candidate_pairs(
    emb: DataFrame, dim: int, n_planes: int = 8, n_tables: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Unordered candidate pairs (id_a < id_b) that collide in ANY table —
    the sub-quadratic candidate generator for embedding near-dup at corpus
    scale, verified exactly by ``embedding_neardup_pairs(candidates=...)``.
    Same OR-amplification/cost shape as lsh_topk; only (id, bucket) flows
    through the self-join, vectors are never replicated per bucket."""
    b = _bucket_rows(emb, dim, n_planes, n_tables, id_col, vec_col, max_bucket)
    a = b.select(F.col("id").alias("id_a"), "bucket")
    c = b.select(F.col("id").alias("id_b"), "bucket")
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_topk(
    emb: DataFrame, dim: int, k: int = 5, n_planes: int = 8, n_tables: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH, exact rerank on the
    OR-combined candidate set.

    ``n_tables`` independent plane families (distinct seeds) each hash every
    vector into one of 2^n_planes buckets; a pair is a candidate if it
    collides in ANY table (OR-amplification — the same banding shape as
    MinHash-LSH). Recall dial = n_tables up / n_planes down; cost bound:
    expected within-bucket work per table is N²/2^n_planes, so size
    n_planes ≈ log2(N/target_bucket) as the corpus grows — with n_tables
    fixed this keeps total candidate volume ≈ n_tables · N · target_bucket
    instead of the single-table N²/2^n_planes cliff.

    Scale shape: only (id, bucket) pairs flow through the L-way explode and
    the self-join; vectors are joined back exactly once per side for the
    rerank. ``max_bucket`` (optional safety valve) deterministically caps
    each bucket to its first ``max_bucket`` ids — bounds worst-case skew at
    an explicit, logged recall cost; AQE additionally splits hot buckets.

    Recall caveat: hyperplane collision probability per plane is
    1 - θ/π, so high recall at sub-quadratic cost requires neighbors to be
    actually close (clustered corpora — the realistic case, validated at
    recall ≥ 0.9 in tests/test_similarity.py). On isotropic-noise vectors
    (top-k neighbors near 60-70°) NO sub-quadratic scheme reaches 0.9;
    use brute_force_topk there — that trade-off is inherent, not a knob.
    """
    b = _bucket_rows(emb, dim, n_planes, n_tables, id_col, vec_col, max_bucket)
    a = b.select(F.col("id").alias("query_id"), "bucket")
    c = b.select(F.col("id").alias("neighbor_id"), "bucket")
    cand = (
        a.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    n = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(q, "query_id")
        .join(n, "neighbor_id")
        .select("query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-Flat ANN (the codebook-partitioned scale path, alongside hyperplane LSH)
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int,
    *,
    lloyd_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means codebook trained driver-side on a bounded sample.

    This is the FAISS-IVF training shape: the codebook is tiny (K x dim)
    and training needs only a representative sample, so the sample — never
    the corpus — is collected (deterministically: first ``train_sample``
    rows by id), iterated in numpy, and the resulting centroids are inlined
    into the assignment plan as broadcast literals. Empty cells keep their
    previous centroid; centroids are L2-normalized so argmax-dot equals
    argmax-cosine at assignment time. Deterministic: seeded from the first
    K sample vectors, no RNG.
    """
    import numpy as np

    rows = emb.select(vec_col).orderBy(id_col).limit(train_sample).collect()
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    xn = x / norms
    cents = xn[:n_cells].copy()
    for _ in range(lloyd_iters):
        assign = np.argmax(xn @ cents.T, axis=1)
        for c in range(n_cells):
            members = xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return [[float(v) for v in c] for c in cents]


def _cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array<struct<d,i>> of dot products against every (normalized)
    centroid literal — one pure-Column pass, JVM-side. Small-K only: the
    plan embeds K×dim literals (see ``_top_cells_expr`` for the large-K
    strategy)."""
    return F.array(
        *[
            F.struct(
                dot_expr(vec, F.array(*[F.lit(x) for x in c])).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )


# Above this K, centroid scoring switches from inlined plan literals to an
# Arrow-batched pandas_udf matmul against a broadcast numpy codebook: the
# literal plan is O(K×dim) in size (codegen blows up at the 10³-10⁴ cells a
# 100-TB corpus wants), the UDF plan is O(1) with the codebook shipped once
# per executor via sc.broadcast. Tests monkeypatch this to force each path.
IVF_LITERAL_K_MAX = 64


def _top_cells_udf(spark, centroids: list[list[float]], n: int):
    """pandas_udf: vec -> array<int> of the n nearest cell ids, descending
    dot product, ties broken toward the LARGER cell id — the exact order
    ``sort_array(struct<d,i>, asc=False)`` produces, so the two strategies
    are interchangeable. The matmul is one BLAS call per Arrow batch."""
    import numpy as np
    import pandas as pd  # noqa: F401 — resolved by the type-hint import below

    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def top_cells_fn(vs):
        c = bc.value
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        scores = x @ c.T
        # stable argsort over index-reversed columns == desc-by-score with
        # ties resolved to the larger original index (the struct-sort order)
        order = np.argsort(-scores[:, ::-1], axis=1, kind="stable")[:, :n]
        orig = ((c.shape[0] - 1) - order).astype("int32")
        return pd.Series([row.tolist() for row in orig])

    # explicit Series->Series hints (real objects, not stringified
    # annotations — `from __future__ import annotations` breaks hint
    # resolution for function-local imports)
    top_cells_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf("array<int>")(top_cells_fn)


def _top_cells_expr(vec: Column, centroids: list[list[float]], n: int, spark=None) -> Column:
    """array<int> of the ``n`` nearest (argmax-dot) cell ids for ``vec``.

    K ≤ IVF_LITERAL_K_MAX (or no session handle): inlined centroid
    literals, pure Column — whole-stage-codegen-friendly where the plan
    stays small. Larger K: broadcast-codebook pandas_udf (``_top_cells_udf``)
    — plan size independent of K. Both produce the identical ordering
    (desc dot, ties to the larger cell id)."""
    k = len(centroids)
    n = min(n, k)
    if k <= IVF_LITERAL_K_MAX or spark is None:
        return F.slice(
            F.transform(
                F.sort_array(_cell_scores(vec, centroids), asc=False),
                lambda s: s["i"],
            ),
            1,
            n,
        )
    return _top_cells_udf(spark, centroids, n)(vec)


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell): nearest-centroid assignment. At scale ``cell`` is
    the index's partition key — ``ivf_write_index`` stores the corpus
    ``partitionBy("cell")`` and every probe prunes to nprobe/K of the
    data (``ivf_topk_stored``). Scoring strategy picked by K — inlined
    literals below IVF_LITERAL_K_MAX, broadcast-codebook matmul above."""
    best = _top_cells_expr(F.col(vec_col), centroids, 1, emb.sparkSession)[0]
    return emb.select(F.col(id_col), F.col(vec_col), best.alias("cell"))


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    *,
    lloyd_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: assign the corpus to K coarse cells,
    probe each query's ``nprobe`` nearest cells, exact-rerank candidates.

    Scale shape: the corpus is scored once against K centroid literals (no
    shuffle), then the probe is a plain hash join on ``cell`` — query side
    exploded to nprobe rows and broadcast, corpus side never replicated
    (each corpus vector lives in exactly ONE cell, so each (query,
    neighbor) pair is scored at most once — no dedup stage, unlike LSH's
    OR-combined candidates). Cost ≈ N·K (assignment, map-only) +
    N·Q·nprobe/K (rerank). With ``nprobe == n_cells`` every pair is scored
    exactly once and the result equals ``brute_force_topk`` identically —
    pinned by test and by the driver's DuckDB oracle; recall at
    nprobe < n_cells is validated on clustered data in
    tests/test_similarity.py.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            emb, n_cells, lloyd_iters=lloyd_iters, train_sample=train_sample,
            id_col=id_col, vec_col=vec_col,
        )
    corpus = ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    probe_cells = _top_cells_expr(
        F.col(vec_col), centroids, nprobe, queries.sparkSession
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_cells).alias("cell"),
    )
    scored = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_write_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    *,
    lloyd_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Persist an IVF-Flat index: the assigned corpus ``partitionBy("cell")``
    under ``<path>/vectors`` plus the centroid codebook as JSON under
    ``<path>/codebook.json`` (written through the same Hadoop filesystem as
    the vectors). This is the 100-TB usage pattern: the assignment pass runs
    once, and every subsequent probe reads only the nprobe cell partitions
    (directory-level partition pruning — see ``ivf_topk_stored``).

    Returns the centroids so callers can reuse them without re-reading.
    """
    import json

    from yckg_spark.fsutil import write_text

    if centroids is None:
        centroids = train_ivf_centroids(
            emb, n_cells, lloyd_iters=lloyd_iters, train_sample=train_sample,
            id_col=id_col, vec_col=vec_col,
        )
    ivf_assign(emb, centroids, id_col, vec_col).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/vectors")
    # codebook written only after the vector commit succeeded
    write_text(emb.sparkSession, f"{path}/codebook.json", json.dumps(centroids))
    return centroids


def ivf_read_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """(vectors DataFrame with its ``cell`` partition column, centroids)."""
    import json

    from yckg_spark.fsutil import read_text

    centroids = json.loads(read_text(spark, f"{path}/codebook.json"))
    return spark.read.parquet(f"{path}/vectors"), centroids


def ivf_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against a stored index: probe only the union of the
    queries' nprobe nearest cells.

    The probed cell set is resolved driver-side from the (small) query
    frame and pushed into the scan as a literal ``cell IN (...)`` filter —
    directory-level partition pruning, so only nprobe-ish of the K cell
    partitions are ever read (asserted on the plan's PartitionFilters in
    tests/test_plans.py). The probe itself is the same broadcast hash join
    on ``cell`` as ``ivf_topk``.

    ASSUMES A SMALL QUERY FRAME (it is broadcast anyway): the exploded
    (query, cell) rows are collected ONCE — that single pass yields both
    the literal probed-cell set for pruning and a local re-created frame
    for the join, so the K-centroid scoring of each query runs exactly one
    time, not once per plan branch.
    """
    corpus, centroids = ivf_read_index(spark, path)
    probe_cells = _top_cells_expr(F.col(vec_col), centroids, nprobe, spark)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_cells).alias("cell"),
    )
    # one collect: literal cell set -> PartitionFilters on the index scan,
    # and the collected rows become the (broadcast) probe side directly
    q_rows = q.collect()
    probed = sorted({r["cell"] for r in q_rows})
    q = spark.createDataFrame(q_rows, q.schema)
    scored = (
        corpus.filter(F.col("cell").isin(probed))
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell")
        .join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# distributed k-means (Lloyd's) over the embedding column
# ---------------------------------------------------------------------------


def _sq_dist_to(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance from an array column to a Python centroid, as a
    sequential left fold — ((0+t1)+t2)+... — so the summation order is
    pinned and bit-reproducible across engines."""
    lit_c = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec, lit_c, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


KMEANS_LITERAL_K_MAX = 64


def _nearest_l2_udf(spark, centroids: list[list[float]]):
    """pandas_udf: vec -> argmin-L2 cluster id (int), ties to the LOWEST
    cluster — the same tie rule as the literal-path struct min. Distances
    via the expansion ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 with the
    row-constant ||x||^2 dropped: one BLAS matmul per Arrow batch against
    a broadcast numpy codebook, plan size independent of k. Returns the
    UDF and its broadcast, which the caller destroys once no job reads it."""
    import numpy as np
    import pandas as pd

    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def nearest_fn(vs):
        c = bc.value
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        d = -2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    nearest_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf("int")(nearest_fn), bc


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column, returning the
    final (id, cluster) assignment — the topic/diversity-balancing
    clustering a training-data pipeline runs before per-cluster sampling
    (and the same loop IVF training uses, here over the FULL corpus
    instead of a driver sample).

    Deterministic and replayable by construction: init centroids are the
    k smallest ids' vectors (cluster = rank by id); each iteration
    assigns every vector to its nearest centroid (squared L2 as a pinned
    left fold; ties break to the lowest cluster via a struct min) and
    recomputes centroids as per-cluster per-dimension means ROUNDED to
    ``round_to`` decimals — the rounding re-synchronizes engines whose
    parallel summation orders differ, so the whole loop replays bit-for-
    bit in SQL. Empty clusters keep their previous centroid.

    Distributed shape, per iteration: the assignment pass is a NARROW map
    with zero shuffle — k <= ``KMEANS_LITERAL_K_MAX``: a fold over k x dim
    broadcast-as-literal centroids (whole-stage-codegen-friendly while
    the plan stays small); larger k: an Arrow-batched pandas_udf argmin
    against a broadcast numpy codebook (one BLAS matmul per batch, plan
    size independent of k — the same escape hatch the IVF assigner
    uses, so the K=10^3-10^4 cell counts a 100-TB corpus wants never
    inflate the plan). Both paths break distance ties to the lowest
    cluster; the recompute is ONE map-side-partial aggregate keyed on k
    clusters.
    Driver state is exactly k x dim floats per round — the same
    centroid-on-driver coordination every distributed Lloyd's
    implementation (including Spark MLlib's) uses; the corpus itself
    never leaves the executors.
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    first = df.select(vec_col).first()
    if first is None:  # empty input: an empty assignment, not a TypeError
        return df.select(F.col(id_col), F.lit(None).cast("int").alias("cluster"))
    dim = len(first[0])
    init = (
        df.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init]
    codebooks = []  # the broadcast the current assignment reads, if any

    def assign(cents: list[list[float]]) -> DataFrame:
        if len(cents) > KMEANS_LITERAL_K_MAX:
            nearest, bc = _nearest_l2_udf(df.sparkSession, cents)
            codebooks.append(bc)
            return df.select(
                F.col(id_col),
                F.col(vec_col),
                nearest(F.col(vec_col)).alias("cluster"),
            )
        scored = F.array(
            *[
                F.struct(
                    _sq_dist_to(F.col(vec_col), c).alias("dist"),
                    F.lit(ci).alias("cluster"),
                )
                for ci, c in enumerate(cents)
            ]
        )
        return df.select(
            F.col(id_col),
            F.col(vec_col),
            F.array_min(scored)["cluster"].alias("cluster"),
        )

    assigned = assign(centroids)
    for _ in range(iters - 1):
        rows = (
            assigned.groupBy("cluster")
            .agg(
                *[
                    F.round(F.avg(F.col(vec_col)[d].cast("double")), round_to).alias(f"c{d}")
                    for d in range(dim)
                ]
            )
            .collect()
        )
        new_cents = list(centroids)  # empty clusters keep previous centroid
        for r in rows:
            new_cents[r["cluster"]] = [float(r[f"c{d}"]) for d in range(dim)]
        centroids = new_cents
        # the collect above was the last job to read the replaced codebook;
        # the final one stays alive for the returned frame
        while codebooks:
            codebooks.pop().destroy()
        assigned = assign(centroids)
    return assigned.select(id_col, "cluster")
