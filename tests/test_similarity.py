"""ANN quality: multi-table hyperplane LSH vs the exact brute-force
baseline on the driver's embeddings table (500 × dim-64 vectors)."""

import pytest


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


@pytest.fixture(scope="module")
def clustered(spark):
    """Planted-cluster corpus: 50 centroids x 10 members, dim 64 — the
    structure real embedding corpora have (the driver's embeddings table is
    isotropic noise, where ANY sub-quadratic ANN is information-
    theoretically capped; see lsh_topk docstring)."""
    import numpy as np

    rng = np.random.default_rng(42)
    cents = rng.standard_normal((50, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in cents:
        for _ in range(10):
            # per-vector noise NORM ~0.2 (0.025 per component x sqrt(64)),
            # i.e. same-cluster cosine ~0.96 — tight clusters
            v = c + 0.025 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_lsh_topk_recall_vs_exact(spark, clustered):
    """OR-amplified LSH (4 tables x 2^6 buckets) must reach recall >= 0.9
    against exact top-5 on clustered data, at a candidate budget
    ~n_tables*N*avg_bucket — two orders below the N^2 brute force."""
    from yckg_spark.operators.similarity import brute_force_topk, lsh_topk

    k = 5
    exact = _topk_sets(brute_force_topk(clustered, clustered, k=k).collect())
    approx = _topk_sets(
        lsh_topk(clustered, dim=64, k=k, n_planes=6, n_tables=4).collect()
    )
    hit = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hit / total
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_embedding_neardup_lsh_composition(spark, clustered):
    """The corpus-scale near-dup composition: lsh_candidate_pairs ->
    embedding_neardup_pairs(candidates=...). Every emitted pair must carry
    the exact brute-force cosine (the verifier is exact), and on clustered
    data the candidate stage must retain recall >= 0.9 of the true
    same-cluster pairs (cosine ~0.96 => per-table collision ~0.57, OR'd
    over 4 tables ~0.97)."""
    from yckg_spark.operators.dedup import embedding_neardup_pairs
    from yckg_spark.operators.similarity import lsh_candidate_pairs

    thr = 0.9
    brute = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in embedding_neardup_pairs(clustered, threshold=thr).collect()
    }
    cand = lsh_candidate_pairs(clustered, dim=64, n_planes=6, n_tables=4)
    composed = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in embedding_neardup_pairs(
            clustered, threshold=thr, candidates=cand
        ).collect()
    }
    # exactness: a subset of brute force with identical scores
    assert set(composed) <= set(brute)
    assert all(brute[p] == c for p, c in composed.items())
    assert len(composed) / len(brute) >= 0.9

    # orientation contract: reversed candidate pairs give the same output
    rev = cand.selectExpr("id_b AS id_a", "id_a AS id_b")
    composed_rev = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            clustered, threshold=thr, candidates=rev
        ).collect()
    }
    assert composed_rev == set(composed)


def test_lsh_single_table_is_weaker_than_multi(spark, emb):
    """The round-1 single-table shape is strictly dominated: adding tables
    can only add candidates, so multi-table recall >= single-table."""
    from yckg_spark.operators.similarity import brute_force_topk, lsh_topk

    k = 5
    exact = _topk_sets(brute_force_topk(emb, emb, k=k).collect())
    one = _topk_sets(lsh_topk(emb, dim=64, k=k, n_planes=6, n_tables=1).collect())
    four = _topk_sets(lsh_topk(emb, dim=64, k=k, n_planes=6, n_tables=4).collect())

    def recall(ap):
        return sum(len(exact[q] & ap.get(q, set())) for q in exact) / sum(
            len(v) for v in exact.values()
        )

    assert recall(four) >= recall(one)


def test_lsh_max_bucket_cap_is_deterministic(spark, emb):
    from yckg_spark.operators.similarity import lsh_topk

    a = sorted(
        tuple(r)
        for r in lsh_topk(emb, dim=64, k=3, n_planes=4, n_tables=2, max_bucket=32).collect()
    )
    b = sorted(
        tuple(r)
        for r in lsh_topk(emb, dim=64, k=3, n_planes=4, n_tables=2, max_bucket=32).collect()
    )
    assert a == b and len(a) > 0


def test_ivf_full_probe_equals_brute_force(spark, emb):
    """nprobe == n_cells scores every pair exactly once -> identical to the
    exact baseline (the IVF machinery — training, assignment, probe join,
    rerank — introduces zero error when nothing is pruned)."""
    from yckg_spark.operators.similarity import brute_force_topk, ivf_topk

    qs = emb.filter("vec_id < 30")
    exact = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9), r["rank"])
        for r in brute_force_topk(emb, qs, k=4).collect()
    )
    ivf = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9), r["rank"])
        for r in ivf_topk(emb, qs, k=4, n_cells=8, nprobe=8).collect()
    )
    assert ivf == exact


def test_ivf_recall_on_clustered(spark, clustered):
    """Pruned probe (nprobe 4 of 32 cells -> ~1/8 of rerank work) keeps
    recall >= 0.9 on planted-cluster data — neighbors share a cell."""
    from yckg_spark.operators.similarity import brute_force_topk, ivf_topk

    k = 5
    exact = _topk_sets(brute_force_topk(clustered, clustered, k=k).collect())
    approx = _topk_sets(
        ivf_topk(clustered, clustered, k=k, n_cells=32, nprobe=4).collect()
    )
    hit = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hit / sum(len(v) for v in exact.values())
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_ivf_deterministic(spark, emb):
    from yckg_spark.operators.similarity import ivf_topk

    qs = emb.filter("vec_id < 10")
    a = sorted(tuple(r) for r in ivf_topk(emb, qs, k=3, n_cells=8, nprobe=2).collect())
    b = sorted(tuple(r) for r in ivf_topk(emb, qs, k=3, n_cells=8, nprobe=2).collect())
    assert a == b and len(a) > 0


def test_ivf_stored_index_matches_in_memory(spark, emb, tmp_path):
    """Write index -> read back -> full-probe query == brute force, and the
    codebook round-trips so stored results match the in-memory path."""
    from yckg_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_stored,
        ivf_write_index,
    )

    path = str(tmp_path / "ivf_index")
    ivf_write_index(emb, path, n_cells=8)
    qs = emb.filter("vec_id < 30")
    exact = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9), r["rank"])
        for r in brute_force_topk(emb, qs, k=4).collect()
    )
    stored = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 9), r["rank"])
        for r in ivf_topk_stored(spark, path, qs, k=4, nprobe=8).collect()
    )
    assert stored == exact


def test_ivf_stored_probe_prunes_cell_partitions(spark, clustered, tmp_path):
    """A pruned probe against the stored index must reach the scan as a
    PartitionFilters entry on `cell` — directory-level pruning, the whole
    point of partitionBy(cell) — and read strictly fewer than all cells."""
    from yckg_spark.operators.similarity import ivf_topk_stored, ivf_write_index

    path = str(tmp_path / "ivf_index")
    ivf_write_index(clustered, path, n_cells=16)
    qs = clustered.filter("vec_id < 5")
    out = ivf_topk_stored(spark, path, qs, k=3, nprobe=2)
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters")[1][:300]
    assert "cell" in seg, seg


def _lcg_unit_vectors(n, dim, seed=12345):
    """Deterministic pseudo-random L2-normalized vectors (no RNG state)."""
    out, state = [], seed
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        norm = sum(x * x for x in row) ** 0.5
        out.append([x / norm for x in row])
    return out


def test_large_k_broadcast_codebook_matches_literal(spark, emb, monkeypatch):
    """Strategy parity at K=80 (just above IVF_LITERAL_K_MAX): the same
    centroids pushed through the inlined-literal plan and through the
    broadcast-codebook pandas_udf must assign every vector to the same
    cell and return identical top-k rows — the UDF reproduces the
    struct-sort order exactly (desc dot, ties to the larger cell id)."""
    import yckg_spark.operators.similarity as sim

    cents = _lcg_unit_vectors(80, 64)
    qs = emb.orderBy("vec_id").limit(5)

    monkeypatch.setattr(sim, "IVF_LITERAL_K_MAX", 10**6)  # force literals
    lit_assign = {r["vec_id"]: r["cell"] for r in sim.ivf_assign(emb, cents).collect()}
    lit_topk = sorted(
        tuple(r) for r in sim.ivf_topk(emb, qs, k=3, nprobe=16, centroids=cents).collect()
    )

    monkeypatch.setattr(sim, "IVF_LITERAL_K_MAX", 0)  # force broadcast UDF
    udf_assign = {r["vec_id"]: r["cell"] for r in sim.ivf_assign(emb, cents).collect()}
    udf_topk = sorted(
        tuple(r) for r in sim.ivf_topk(emb, qs, k=3, nprobe=16, centroids=cents).collect()
    )

    assert udf_assign == lit_assign
    assert len(set(lit_assign.values())) > 1  # the codebook actually partitions
    assert udf_topk == lit_topk


def test_k512_broadcast_codebook_scales(spark, emb):
    """K=512 auto-selects the broadcast-codebook path (no monkeypatch —
    512 > IVF_LITERAL_K_MAX): the plan stays O(1) in K so this compiles
    and runs in seconds where the literal plan ships multi-MB task
    binaries. Assignments must match an independent driver-side numpy
    recomputation (same tie-break: desc dot, ties to the larger cell id)."""
    import numpy as np

    import yckg_spark.operators.similarity as sim

    assert sim.IVF_LITERAL_K_MAX < 512
    cents = _lcg_unit_vectors(512, 64)
    got = {r["vec_id"]: r["cell"] for r in sim.ivf_assign(emb, cents).collect()}

    rows = emb.collect()
    c = np.asarray(cents)
    for r in rows:
        scores = c @ np.asarray(r["embedding"], dtype=np.float64)
        best = int(511 - np.argmax(scores[::-1]))
        assert got[r["vec_id"]] == best
    assert len(set(got.values())) > 10


def test_k512_stored_index_roundtrip(spark, emb, tmp_path):
    """Write→read→probe at K=512 through the auto-selected broadcast
    codebook: the stored probe must equal the in-memory result."""
    import yckg_spark.operators.similarity as sim

    cents = _lcg_unit_vectors(512, 64)
    qs = emb.orderBy("vec_id").limit(3)
    path = str(tmp_path / "ivf512")

    sim.ivf_write_index(emb, path, centroids=cents)
    stored = sorted(
        tuple(r) for r in sim.ivf_topk_stored(spark, path, qs, k=3, nprobe=16).collect()
    )
    mem = sorted(
        tuple(r) for r in sim.ivf_topk(emb, qs, k=3, nprobe=16, centroids=cents).collect()
    )
    assert stored == mem and len(mem) == 9


# ---------------------------------------------------------------------------
# kmeans_assign
# ---------------------------------------------------------------------------


def test_kmeans_separates_two_blobs(spark):
    from yckg_spark.operators.similarity import kmeans_assign

    # two tight, well-separated blobs; init = vectors of the 2 smallest
    # ids, one per blob, so Lloyd's converges to the perfect split
    rows = []
    for i in range(10):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + 0.01 * i, base - 0.01 * i, base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, k=2, iters=3).collect()}
    assert all(out[i] == 0 for i in range(0, 10, 2))
    assert all(out[i] == 1 for i in range(1, 10, 2))


def test_kmeans_single_iter_ties_break_low_and_validation(spark):
    import pytest as _pytest

    from yckg_spark.operators.similarity import kmeans_assign

    # point 2 is equidistant from the two init centroids -> lowest cluster
    df = spark.createDataFrame(
        [(0, [0.0]), (1, [2.0]), (2, [1.0])], ["vec_id", "embedding"]
    )
    out = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, k=2, iters=1).collect()}
    assert out == {0: 0, 1: 1, 2: 0}
    with _pytest.raises(ValueError):
        kmeans_assign(df, k=0)
    with _pytest.raises(ValueError):
        kmeans_assign(df, k=2, iters=0)


def test_kmeans_destroys_replaced_codebook_broadcasts(spark, monkeypatch):
    """Above ``KMEANS_LITERAL_K_MAX`` each iteration broadcasts a new codebook;
    every one an iteration replaced is destroyed, and only the last, which
    the returned frame reads, stays valid."""
    from pyspark import SparkContext

    import yckg_spark.operators.similarity as sim

    made = []
    broadcast = SparkContext.broadcast

    def tracked(self, value):
        bc = broadcast(self, value)
        made.append(bc)
        return bc

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(12)], ["vec_id", "embedding"]
    )
    monkeypatch.setattr(SparkContext, "broadcast", tracked)
    monkeypatch.setattr(sim, "KMEANS_LITERAL_K_MAX", 2)
    out = sim.kmeans_assign(df, k=3, iters=3).collect()
    assert len(out) == 12
    assert len(made) == 3
    assert [bc._jbroadcast.isValid() for bc in made] == [False, False, True]


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from yckg_spark.operators.similarity import kmeans_assign

    # centroid 1 (vector [9]) attracts nothing after iteration 1 since
    # every point is closer to centroid 0's mean; the loop must not drop
    # it or crash, and assignments stay total
    df = spark.createDataFrame(
        [(0, [0.0]), (1, [9.0]), (2, [0.1]), (3, [0.2]), (4, [4.4])],
        ["vec_id", "embedding"],
    )
    out = kmeans_assign(df, k=2, iters=3).collect()
    assert len(out) == 5
    assert {r["cluster"] for r in out} <= {0, 1}


def test_kmeans_empty_input_returns_empty_assignment(spark):
    from yckg_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = kmeans_assign(df, k=2, iters=2)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("vec_id", "bigint"),
        ("cluster", "int"),
    ]

def test_kmeans_udf_path_matches_literal_path(spark, monkeypatch):
    import yckg_spark.operators.similarity as sim

    rows = [
        (i, [float((i * 7) % 11), float((i * 3) % 5), float(i % 4)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    lit = {r["vec_id"]: r["cluster"] for r in sim.kmeans_assign(df, k=5, iters=2).collect()}
    # a limit of 0 forces every assignment through the broadcast-numpy
    # pandas_udf; identical centroids sequence -> identical assignment
    monkeypatch.setattr(sim, "KMEANS_LITERAL_K_MAX", 0)
    udf = {r["vec_id"]: r["cluster"] for r in sim.kmeans_assign(df, k=5, iters=2).collect()}
    assert lit == udf


def test_kmeans_large_k_compiles_fast_and_is_total(spark):
    import time

    from yckg_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(i, [float(i % 13), float(i % 7)]) for i in range(300)],
        ["vec_id", "embedding"],
    )
    t0 = time.time()
    out = kmeans_assign(df, k=128, iters=2).collect()
    assert time.time() - t0 < 60
    assert len(out) == 300
    assert all(0 <= r["cluster"] < 128 for r in out)
