"""Similarity search: brute-force cosine top-k vs numpy; LSH pairs."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from bisque_spark.operators.similarity import (
    cosine_topk,
    ivf_build,
    ivf_query,
    lsh_near_pairs,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    mat = rng.normal(size=(50, 16)).astype(np.float32)
    mat[10] = mat[3]  # exact duplicate vector
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, mat


def test_cosine_topk_matches_numpy(spark, vecs):
    df, mat = vecs
    q = mat[0].astype(np.float64)
    m = mat.astype(np.float64)
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    want = sorted(range(50), key=lambda i: (-cos[i], i))[:5]
    got = [r["vec_id"] for r in cosine_topk(df, "embedding", list(mat[0]), k=5).collect()]
    assert got == want


def test_ivf_topk_high_recall(spark, vecs):
    df, mat = vecs
    q = list(mat[0])
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", q, k=5).collect()]
    assigned, centroids = ivf_build(df, n_cells=8)
    approx = [
        r["vec_id"]
        for r in ivf_query(assigned, centroids, q, k=5, n_probe=4).collect()
    ]
    # the query vector itself must be found; recall@5 ≥ 3/5 with 4/8 probes
    assert 0 in approx
    assert len(set(exact) & set(approx)) >= 3


def test_ivf_probe_prunes(spark, vecs):
    from bisque_spark.operators.similarity import ivf_assign

    df, _ = vecs
    assigned, centroids = ivf_assign(df, n_cells=8)
    assert len(centroids) == 8
    cells = assigned.select("cell").distinct().count()
    assert 1 < cells <= 8


def test_lsh_finds_identical_vectors(spark, vecs):
    df, _ = vecs
    pairs = lsh_near_pairs(df, n_bits=8, min_cosine=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 10) in got  # identical vectors share every bucket


def _exact_pairs(mat, min_cosine):
    m = mat.astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    n = len(m)
    return {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if cos[i, j] >= min_cosine
    }


def test_lsh_multitable_recall(spark):
    """OR-amplification recall contract (VERDICT r02 #1): on clustered
    embeddings, the multi-table LSH must recover ≥ 0.9 of the exact
    all-pairs set at min_cosine=0.8 — round 2's single table found
    ~10-15% at this operating point. Precision is exact by
    construction (every candidate is cosine-verified)."""
    rng = np.random.RandomState(23)
    n_clusters, per, dim = 8, 12, 16
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    mat = np.concatenate(
        [centers[c] + 0.08 * rng.normal(size=(per, dim)) for c in range(n_clusters)]
    ).astype(np.float32)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    want = _exact_pairs(mat, 0.8)
    assert len(want) >= 50  # the corpus actually has qualifying pairs
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_pairs(df, min_cosine=0.8).collect()
    }
    assert not got - want  # cosine verify ⇒ no false positives
    recall = len(got & want) / len(want)
    assert recall >= 0.9, (recall, len(want), len(got))


def test_lsh_auto_tuned_params_scale_and_hold_recall(spark):
    """r6 sf-sweep finding: FIXED n_bits is Θ(n²/2^bits) candidate
    work — 19× time at 10× rows measured. tune_lsh_params must (a)
    grow bits with log2(n) so bucket occupancy stays constant, (b)
    keep the 1−(1−p^r)^T recall bound ≥ 0.9 at the operating point,
    and the auto-tuned operator must still clear measured recall 0.9
    on clustered data."""
    import math

    from bisque_spark.operators.similarity import tune_lsh_params

    p = 1.0 - math.acos(0.8) / math.pi
    prev_bits = 0
    for n in (1_000, 10_000, 100_000, 10_000_000, 1_000_000_000):
        bits, tables = tune_lsh_params(n, 0.8)
        assert bits >= prev_bits  # monotone in corpus size
        prev_bits = bits
        assert 1.0 - (1.0 - p**bits) ** tables >= 0.9 - 1e-9
        # candidate work per row ∝ (n/2^bits)·tables must beat the
        # fixed-width default (n/2^3)·12, by a growing margin; at huge
        # n the recall bound caps bits (the LSH ρ-exponent) and the
        # strictly-linear path is IVF/SemDeDup instead
        work, fixed = (n / (1 << bits)) * tables, (n / 8) * 12
        if n >= 10_000:
            assert work < fixed
        if n >= 1_000_000:
            assert work < fixed / 20
    # measured recall with auto params on the clustered corpus
    rng = np.random.RandomState(23)
    n_clusters, per, dim = 8, 12, 16
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    mat = np.concatenate(
        [centers[c] + 0.08 * rng.normal(size=(per, dim))
         for c in range(n_clusters)]
    ).astype(np.float32)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = _exact_pairs(mat, 0.8)
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_pairs(
            df, min_cosine=0.8, n_bits=None, n_tables=None
        ).collect()
    }
    assert not got - want
    assert len(got & want) / len(want) >= 0.9


def test_ivf_build_writes_partitioned_index(spark, vecs, tmp_path):
    """index_path variant: the assignment lands partitioned by cell so
    probe pruning is parquet partition pruning at scale."""
    import os

    from bisque_spark.operators.similarity import ivf_build, ivf_query

    df, mat = vecs
    path = str(tmp_path / "ivf_index")
    assigned, centroids = ivf_build(df, n_cells=4, index_path=path)
    assert any(d.startswith("cell=") for d in os.listdir(path))
    got = [
        r["vec_id"]
        for r in ivf_query(
            assigned, centroids, [float(x) for x in mat[0]], k=3, n_probe=4
        ).collect()
    ]
    assert 0 in got


def test_cache_hygiene_release_caches(spark, vecs):
    """Caller-owns-cache contract (VERDICT r02 Next-round #7): after an
    operator's terminal action + release_caches(), no persisted RDDs
    remain in the context."""
    from bisque_spark.operators.dedup import minhash_dedup_pairs
    from bisque_spark.util import release_caches

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    release_caches()  # clear pins from earlier tests in the session
    before = persistent_ids()
    df, _ = vecs
    lsh_near_pairs(df, min_cosine=0.8).collect()
    docs = spark.createDataFrame(
        [(i, f"w{i} common text body shared tokens {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.2).collect()
    assert len(persistent_ids()) > len(before)  # the ops really pinned
    release_caches()
    # everything this test pinned is gone (unrelated survivors — e.g.
    # localCheckpoint blocks from other modules — may remain)
    assert persistent_ids() <= before


def test_ivf_clustered_recall_beats_lowest_id_quantizer(spark):
    """Clustered corpus whose first n_cells ids all sit in ONE cluster —
    round 1's lowest-id centroids collapse there (cluster members
    scatter across near-identical centroids; probing misses most of
    them). The sampled+Lloyd quantizer must reach recall@10 >= 0.9."""
    rng = np.random.RandomState(11)
    n_clusters, per, dim = 10, 60, 16
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    # ids ordered BY CLUSTER: ids 0..59 are all cluster 0
    for c in range(n_clusters):
        pts = centers[c] + 0.08 * rng.normal(size=(per, dim))
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in centers[7]]
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", q, k=10).collect()]
    assigned, centroids = ivf_build(df, n_cells=10)
    approx = [
        r["vec_id"]
        for r in ivf_query(assigned, centroids, q, k=10, n_probe=3).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_ivf_query_rejects_zero_norm_query(spark):
    """An all-zero query vector must raise cleanly instead of producing
    NaN probe scores and an arbitrary probe set (advice r3)."""
    import pytest

    from bisque_spark.operators.similarity import ivf_build, ivf_query

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(30)],
        "vec_id int, embedding array<float>",
    )
    assigned, centroids = ivf_build(df, n_cells=4)
    with pytest.raises(ValueError, match="zero-norm"):
        ivf_query(assigned, centroids, query=[0.0, 0.0, 0.0], k=3)


def test_diversity_sample_stratified_and_deterministic(spark):
    """Cluster-stratified sampling: <= k per cell, covers every
    non-empty cell, bit-identical across runs, and hash-verified
    against an in-process DuckDB oracle of the same definition."""
    import duckdb

    from bisque_spark.operators.similarity import diversity_sample, ivf_build

    df = spark.createDataFrame(
        [
            (i, [float((i % 7) * 3 + d) for d in range(4)])
            for i in range(200)
        ],
        "vec_id int, embedding array<float>",
    )
    assigned, _ = ivf_build(df, n_cells=5, pin_index=False)
    out = diversity_sample(assigned, k_per_cell=6)
    rows = [(r["vec_id"], r["cell"]) for r in out.collect()]
    per_cell = {}
    for vid, cell in rows:
        per_cell.setdefault(cell, []).append(vid)
    assert all(len(v) <= 6 for v in per_cell.values())
    nonempty = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert set(per_cell) == nonempty  # every populated cell represented

    again = {(r["vec_id"], r["cell"]) for r in
             diversity_sample(assigned, k_per_cell=6).collect()}
    assert again == set(rows)  # deterministic

    # DuckDB oracle over the SAME assignment (xxhash64 isn't available
    # in DuckDB, so export the rank key from Spark and re-rank in SQL)
    import pyspark.sql.functions as F

    keyed = assigned.select(
        "vec_id", "cell", F.xxhash64(F.col("vec_id")).alias("hk")
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE a (vec_id INT, cell INT, hk BIGINT)")
    con.executemany(
        "INSERT INTO a VALUES (?,?,?)",
        [(r["vec_id"], r["cell"], r["hk"]) for r in keyed],
    )
    want = {
        (v, c)
        for v, c in con.execute("""
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell, row_number() OVER (
                    PARTITION BY cell ORDER BY hk ASC, vec_id ASC) AS rk
                FROM a
            ) WHERE rk <= 6
        """).fetchall()
    }
    assert set(rows) == want


# ---- SemDeDup (embedding-cluster semantic dedup) -------------------------


def _ivf_twin_assign(ids, mat, n_cells, iters=1):
    """Independent numpy twin of ivf_assign (same construction as the
    entry's _ivf_topk_oracle_sql builder): xxhash64-seeded centroids,
    9dp-rounded Lloyd means, argmax-cosine assignment."""
    from bisque_spark.hashing import xxhash64_str

    raw = mat.astype(np.float64)
    order = sorted(
        range(len(ids)), key=lambda i: (xxhash64_str(str(ids[i])), ids[i])
    )[:n_cells]
    cmat = raw[order].copy()
    cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    matn = raw / np.maximum(np.linalg.norm(raw, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        assign = (matn @ cmat.T).argmax(axis=1)
        new = cmat.copy()
        for c in range(n_cells):
            m = raw[assign == c]
            if len(m):
                new[c] = np.round(m.mean(axis=0), 9)
        cmat = new / np.maximum(
            np.linalg.norm(new, axis=1, keepdims=True), 1e-12
        )
    return (matn @ cmat.T).argmax(axis=1), matn


@pytest.fixture(scope="module")
def semdedup_corpus(spark):
    rng = np.random.RandomState(11)
    base = rng.normal(size=(60, 16)).astype(np.float32)
    # plant 15 near-duplicates of the first 15 vectors at higher ids
    dups = base[:15] + rng.normal(scale=1e-3, size=(15, 16)).astype(
        np.float32
    )
    mat = np.vstack([base, dups.astype(np.float32)])
    ids = list(range(len(mat)))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in ids],
        "vec_id long, embedding array<float>",
    )
    return df, ids, mat


def test_semantic_dedup_matches_numpy_oracle(spark, semdedup_corpus):
    from bisque_spark.operators.similarity import ivf_assign, semantic_dedup
    from bisque_spark.util import release_caches

    df, ids, mat = semdedup_corpus
    tau = 0.95
    assign, matn = _ivf_twin_assign(ids, mat, n_cells=8)
    cos = matn @ matn.T
    # no pair may sit on the tau boundary (cross-engine last-ulp guard)
    near = np.abs(cos - tau) < 1e-6
    assert not np.any(near[np.triu_indices(len(ids), k=1)])
    want_drop = set()
    for j in range(len(ids)):
        for i in range(j):
            if assign[i] == assign[j] and cos[i, j] >= tau:
                want_drop.add(ids[j])
    assigned, _ = ivf_assign(df, n_cells=8)
    kept = {r["vec_id"] for r in semantic_dedup(assigned, tau).collect()}
    release_caches()
    assert kept == set(ids) - want_drop
    # the planted near-dups that share a cell with their original are
    # exactly the drops — and most of the 15 must actually co-locate
    assert len(want_drop) >= 12
    assert want_drop <= set(range(60, 75))


def test_semantic_dedup_tau_above_one_keeps_all(spark, semdedup_corpus):
    from bisque_spark.operators.similarity import ivf_assign, semantic_dedup
    from bisque_spark.util import release_caches

    df, ids, _ = semdedup_corpus
    assigned, _ = ivf_assign(df, n_cells=8)
    kept = semantic_dedup(assigned, tau=1.01).count()
    release_caches()
    assert kept == len(ids)


def test_lsh_grouped_verify_equals_candidate_mask_twin(spark):
    """r8 internals: the per-bucket GEMM verify must emit EXACTLY the
    pairs that share >=1 table bucket AND clear min_cosine, with
    deterministic 4dp cosines — pinned against an independent
    candidate-bitmask + unit-vector twin on a random corpus."""
    rng = np.random.RandomState(77)
    n, dim, n_bits, n_tables, thr = 300, 16, 3, 8, 0.3
    mat = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    planes = np.random.RandomState(42).normal(size=(dim, n_tables * n_bits))
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    tag = np.arange(n_tables, dtype=np.int64) << n_bits
    bits = (mat @ planes > 0).reshape(n, n_tables, n_bits)
    keys = (bits @ weights) | tag[None, :]
    keysets = [set(k) for k in keys.tolist()]
    matd = mat.astype(np.float64)
    unit = matd / np.maximum(
        np.sqrt((matd * matd).sum(axis=1)), 1e-12
    )[:, None]
    want = {}
    for i in range(n):
        for j in range(i + 1, n):
            if keysets[i] & keysets[j]:
                c = float(np.einsum("k,k->", unit[i], unit[j]))
                if c >= thr:
                    want[(i, j)] = round(c, 4)

    got = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 4)
        for r in lsh_near_pairs(
            df, n_bits=n_bits, n_tables=n_tables, min_cosine=thr
        ).collect()
    }
    assert got == want
