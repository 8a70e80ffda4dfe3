"""Unit coverage for the graph-analytics operators (pagerank is also
oracle-checked end-to-end via __spark_entry__): hand-computed small graphs,
a pure-Python reference implementation on a deterministic pseudo-random
graph, and the dangling-mass conservation property."""

import pytest

from yckg_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def _pagerank_py(edge_list, n_iter, damping=0.85, redistribute=True):
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    n = len(nodes)
    odeg = {}
    for u, _ in edge_list:
        odeg[u] = odeg.get(u, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r for v, r in rank.items() if v not in odeg)
        base = (1.0 - damping) / n + (damping * dangling / n if redistribute else 0.0)
        new = {v: base for v in nodes}
        for u, v in edge_list:
            new[v] += damping * rank[u] / odeg[u]
        rank = new
    return rank


def test_pagerank_two_node_cycle_is_uniform(spark):
    """A -> B -> A: perfectly symmetric, so rank stays exactly 1/2."""
    out = {r["node"]: r["rank"]
           for r in pagerank(_edges(spark, [(1, 2), (2, 1)]), n_iter=4).collect()}
    assert out[1] == pytest.approx(0.5, abs=1e-12)
    assert out[2] == pytest.approx(0.5, abs=1e-12)


def test_pagerank_dangling_mass_conserved(spark):
    """B has no out-edges; with redistribution the total rank mass stays
    exactly 1, without it mass leaks every iteration."""
    e = _edges(spark, [(1, 2), (3, 2)])
    kept = sum(r["rank"] for r in pagerank(e, n_iter=5).collect())
    leaked = sum(
        r["rank"]
        for r in pagerank(e, n_iter=5, redistribute_dangling=False).collect()
    )
    assert kept == pytest.approx(1.0, abs=1e-9)
    assert leaked < 0.9


def test_pagerank_matches_python_reference(spark):
    """Deterministic pseudo-random graph, both dangling modes, value-level
    agreement with an independent driver-side implementation."""
    edge_list = sorted({(i % 23, (i * i + 7) % 23) for i in range(60)})
    e = _edges(spark, edge_list)
    for mode in (True, False):
        want = _pagerank_py(edge_list, n_iter=6, redistribute=mode)
        got = {r["node"]: r["rank"]
               for r in pagerank(e, n_iter=6, redistribute_dangling=mode).collect()}
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), (mode, v)


def test_pagerank_reliable_checkpoint_matches_local(spark, tmp_path):
    edge_list = [(1, 2), (2, 3), (3, 1), (4, 1)]
    a = sorted(map(tuple, pagerank(_edges(spark, edge_list), n_iter=4).collect()))
    b = sorted(
        map(
            tuple,
            pagerank(
                _edges(spark, edge_list), n_iter=4,
                checkpoint_dir=str(tmp_path / "ckpt"),
            ).collect(),
        )
    )
    assert a == b


def test_triangle_count_known_graph(spark):
    """K4 minus one edge has exactly two triangles sharing an edge; the
    counts are per-node memberships. Direction, duplicates, and
    self-loops must not inflate anything."""
    from yckg_spark.operators.graph import triangle_count

    edges = [
        # K4 on {1,2,3,4} minus the (1,4) edge -> triangles 123 and 234
        (1, 2), (2, 3), (3, 1), (2, 4), (3, 4),
        # noise: reversed duplicate, exact duplicate, self-loop, pendant
        (3, 2), (1, 2), (5, 5), (4, 6),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_count_no_triangles(spark):
    from yckg_spark.operators.graph import triangle_count

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    assert triangle_count(df).count() == 0


def test_link_prediction_hand_checked(spark):
    # 1-2, 1-3, 2-3, 3-4: every linked pair is anti-joined away; the two
    # surviving pairs share only node 3 (degree 3) -> aa = 1/ln(3).
    from math import log

    from yckg_spark.operators.graph import link_prediction

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    rows = {
        (r.id_a, r.id_b): (r.n_common, r.adamic_adar)
        for r in link_prediction(e).collect()
    }
    aa = round(1.0 / log(3), 6)
    assert rows == {(1, 4): (1, aa), (2, 4): (1, aa)}


def test_link_prediction_collapses_direction_and_multiplicity(spark):
    from yckg_spark.operators.graph import link_prediction

    base = [(1, 2), (1, 3), (2, 3), (3, 4)]
    noisy = base + [(2, 1), (3, 1), (4, 3), (1, 2), (5, 5)]
    a = sorted(map(tuple, link_prediction(_edges(spark, base)).collect()))
    b = sorted(map(tuple, link_prediction(_edges(spark, noisy)).collect()))
    assert a == b


def test_link_prediction_max_degree_and_min_common(spark):
    from yckg_spark.operators.graph import link_prediction

    # hub 0 -- {1..5} plus 1-2: without the cap the hub middles predict
    # every spoke pair; capping at 4 drops the hub, leaving only wedges
    # whose endpoints are already linked -> empty.
    e = _edges(spark, [(0, i) for i in range(1, 6)] + [(1, 2)])
    uncapped = link_prediction(e).collect()
    assert len(uncapped) == 9  # C(5,2) spoke pairs minus the linked (1,2)
    assert all(r.n_common == 1 for r in uncapped)
    assert link_prediction(e, max_degree=4).count() == 0
    # min_common prunes single-wedge pairs: no pair shares two middles here
    assert link_prediction(e, min_common=2).count() == 0
