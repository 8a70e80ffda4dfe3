"""Graph analytics over the KG / link graph: fixed-iteration PageRank,
per-node triangle counting, and common-neighbor link prediction.

A knowledge graph built from web pages immediately invites link-graph
analytics — PageRank over the page/host graph is the canonical crawl
prioritization and quality signal (and, KG-side, a centrality score over
the entity co-mention graph). This complements ``neardup_clusters``
(connected components) as the second iterative graph primitive.

Everything is DataFrame joins + aggregations — the GraphX/GraphFrames
recipe re-expressed on the SQL engine so Catalyst/AQE handle skew and
partial aggregation. Per iteration: one join (edges ⋈ ranks, keyed on the
source node) and one map-side-partial sum keyed on the destination node.
High-in-degree "head" pages are exactly the skewed keys AQE's skew-join
splitting handles; the rank frame is (node, rank, odeg) — constant width,
never the page payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    redistribute_dangling: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: (node, rank).

    rank_0(v) = 1/N; each iteration
        rank(v) = (1-d)/N + d * Σ_{u→v} rank(u)/outdeg(u)  [+ d * D/N]
    where D is the total rank mass sitting on dangling nodes (no out-edges)
    when ``redistribute_dangling`` — with it, Σ rank stays exactly 1; the
    simplified variant (False) lets dangling mass leak, which is the common
    large-crawl shortcut and is what the driver oracle replays in SQL.

    Distributed shape: the rank state is a (node, rank, odeg) frame
    persisted per iteration (the previous iteration is unpersisted once the
    next materializes); each step is edges ⋈ ranks on the source key
    followed by a partial-aggregated sum on the destination key — only
    8-byte ids and doubles ever shuffle. Dangling mass is a one-scalar
    action per iteration (only when ``redistribute_dangling``), the same
    driver-side scalar GraphX collects. Lineage is cut every iteration via
    persist + the per-iteration action; pass ``checkpoint_dir`` for
    reliable cuts on a real cluster (same contract as
    ``neardup_clusters`` — CALLERS OWN CLEANUP of that dir).

    N (node count) is collected once up front; nodes are the union of
    sources and destinations, so isolated pages that appear in no edge are
    out of scope by construction.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    odeg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("odeg"))
    n = nodes.count()
    teleport = (1.0 - damping) / n

    # state: (node, rank, odeg nullable — null marks a dangling node)
    ranks = _cut(
        nodes.join(odeg, "node", "left").select(
            "node", F.lit(1.0 / n).alias("rank"), "odeg"
        )
    )
    for _ in range(n_iter):
        if redistribute_dangling:
            dangling = (
                ranks.filter(F.col("odeg").isNull()).agg(F.sum("rank")).collect()[0][0]
                or 0.0
            )
            base = teleport + damping * dangling / n
        else:
            base = teleport
        ranks = _cut(_pagerank_step(e, ranks, damping, base))
    return ranks.select("node", "rank")


def _pagerank_step(
    e: DataFrame, ranks: DataFrame, damping: float, base: float
) -> DataFrame:
    """One rank update: edges ⋈ ranks on src, partial-agg sum on dst, left
    join back onto the node set. Factored out so the physical plan of a
    step is auditable (the loop hides it behind the lineage cut)."""
    contribs = (
        e.join(ranks, e["src"] == ranks["node"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("rank") / F.col("odeg")).alias("contrib"))
    )
    return (
        ranks.select("node", "odeg")
        .join(contribs, "node", "left")
        .select(
            "node",
            (F.lit(base) + damping * F.coalesce("contrib", F.lit(0.0))).alias("rank"),
            "odeg",
        )
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor / Adamic-Adar link-prediction scores over the
    undirected simple graph induced by ``edges``: for every pair of nodes
    NOT yet connected that share at least ``min_common`` neighbors,
    returns (id_a, id_b, n_common, adamic_adar) with id_a < id_b, where
    ``adamic_adar = Σ_mid 1/ln(degree(mid))`` over the shared neighbors —
    the classic related-page / mirror-site signal on a web link graph
    (hub middles contribute less than niche ones). Scores are rounded to
    6 decimals; a middle inside a wedge always has degree >= 2, so the
    log is never zero.

    Distributed shape: edges are canonicalized once to (lo, hi) and
    expanded to a both-ways adjacency list; the middle node's degree is
    attached to ONE side before the wedge self-join, so the join carries
    only (mid, nbr, degree) ids — no payloads, and the degree join keys
    on the same column as the wedge join (one partitioning, reused).
    Wedge fan-out is Σ_mid deg(mid)² — on a web graph the hub middles
    dominate, and ``max_degree`` is the standard cap that drops them
    BEFORE the self-join (a hub shared by everything predicts nothing
    anyway); what remains is ordinary AQE skew-join territory. The
    already-linked filter is a left-anti join on the canonical edge, and
    ``min_common`` prunes the single-wedge long tail after the count.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .distinct()
    )
    und = e.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).union(
        e.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    if max_degree is not None:
        deg = deg.filter(F.col("degree") <= max_degree)
    left = und.join(deg, "node")  # inner: max_degree drops hub middles here
    wedges = (
        left.join(und.select("node", F.col("nbr").alias("nbr2")), "node")
        .filter(F.col("nbr") < F.col("nbr2"))
        .select(F.col("nbr").alias("id_a"), F.col("nbr2").alias("id_b"), "degree")
    )
    scores = wedges.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.round(F.sum(1.0 / F.log(F.col("degree"))), 6).alias("adamic_adar"),
    )
    return scores.filter(F.col("n_common") >= min_common).join(
        e,
        (F.col("id_a") == F.col("lo")) & (F.col("id_b") == F.col("hi")),
        "left_anti",
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph induced
    by ``edges`` (self-loops dropped, direction and multiplicity
    collapsed). Returns (node, n_triangles) for every node that closes at
    least one triangle — the local clustering signal used for spam/link-
    farm detection on a web graph.

    Distributed shape — the standard two-join orientation trick: every
    undirected edge is stored once as (lo, hi); wedges lo<mid<hi come
    from one self-join on the middle node and close through one more
    join on the (lo, hi) edge — each triangle is found EXACTLY once (as
    its sorted vertex triple), never 6× as a naive directed 3-cycle join
    would. Both joins key on node ids only (no payloads ride along);
    skewed hubs are ordinary AQE skew-join territory, and the counted
    output explodes each found triangle to its 3 vertices — 3 rows per
    triangle, aggregated map-side.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .distinct()
    )
    # wedge (x < y < z): edge (x,y) joined to edge (y,z) on the middle
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.hi") == F.col("e2.lo"))
        .select(
            F.col("e1.lo").alias("x"),
            F.col("e1.hi").alias("y"),
            F.col("e2.hi").alias("z"),
        )
    )
    tri = w.join(
        e.alias("e3"),
        (F.col("x") == F.col("e3.lo")) & (F.col("z") == F.col("e3.hi")),
    ).select("x", "y", "z")
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
