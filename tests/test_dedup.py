"""Dedup operators: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

import pyspark.sql.functions as F
import pytest

from bisque_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs_exact,
    ngrams_col,
    simhash_dedup_pairs,
)

BASE = (
    "spark frontier crawl image caption engine batch shuffle partition "
    "vector arrow parquet iceberg bloom politeness robots queue epoch"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE + " lineage"),  # near-duplicate
        (3, "completely different text about cooking pasta with tomatoes"),
        (4, "another unrelated document mentioning mountains rivers forests"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, "doc_id", "text")
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[0] == 2  # doc 1 collapsed into 0
    assert 1 not in rows
    assert rows[3] == 1


def test_minhash_finds_duplicates(spark, docs):
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got.get((0, 1)) == 1.0  # identical docs: estimate exactly 1
    assert (0, 2) in got or (1, 2) in got  # near-dup found
    assert (0, 3) not in got and (3, 4) not in got


def test_simhash_finds_duplicates(spark, docs):
    pairs = simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0
    assert (0, 3) not in got


def test_minhash_recall_on_realistic_near_dups(spark):
    """Recall check on the real documents table: each doc paired with a
    90%-prefix copy must be recovered by MinHash+LSH."""
    import pyspark.sql.functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    clones = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring("text", 1, (F.length("text") * 0.9).cast("int")).alias(
            "text"
        ),
    )
    corpus = docs.unionByName(clones)
    pairs = minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.5)
    found = {
        (r["id_a"], r["id_b"]) for r in pairs.collect()
    }
    want = {(i, i + 100000) for (i,) in docs.select("doc_id").collect()}
    recall = len(found & want) / len(want)
    assert recall >= 0.95, recall


def test_ngrams_col(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    out = [r["g"] for r in df.select(ngrams_col("text", 3).alias("g")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []


def test_ngram_jaccard_exact_value(spark, docs):
    pairs = ngram_jaccard_pairs_exact(docs, "doc_id", "text", n=2, threshold=0.05)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((0, 1)) == 1.0
    # manual check for the near-dup pair (0, 2)
    toks = BASE.split()
    g0 = {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}
    toks2 = (BASE + " lineage").split()
    g2 = {" ".join(toks2[i : i + 2]) for i in range(len(toks2) - 1)}
    want = len(g0 & g2) / len(g0 | g2)
    assert abs(got[(0, 2)] - want) < 1e-9


def test_simhash_banding_recall_guarantee(spark):
    """Hamming-6 pair whose differing bits land in ALL of round 1's
    four 16-bit bands — the old n_bands=4 banding had zero shared keys
    and silently missed it; the pigeonhole banding (n_bands >=
    max_hamming+1) must find it. Exhaustive check over random
    hamming<=6 perturbations too."""
    import random

    from bisque_spark.operators.dedup import simhash_pairs_from_sigs

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    base = 0x5A5A_5A5A_5A5A_5A5A
    # bits spread across old bands [0-16), [16-32), [32-48), [48-64)
    spread_bits = [2, 13, 21, 34, 47, 58]
    other = base
    for b in spread_bits:
        other ^= 1 << b
    rng = random.Random(7)
    rows = [(0, signed(base)), (1, signed(other))]
    want_pairs = {(0, 1)}
    nxt = 2
    for _ in range(20):
        h = rng.getrandbits(64)
        flip = h
        for b in rng.sample(range(64), rng.randint(1, 6)):
            flip ^= 1 << b
        rows += [(nxt, signed(h)), (nxt + 1, signed(flip))]
        want_pairs.add((nxt, nxt + 1))
        nxt += 2
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs_from_sigs(sig, "doc_id", max_hamming=6).collect()
    }
    assert want_pairs <= got, want_pairs - got


def test_tune_bands_s_curve():
    """Banding auto-tuning: guaranteed >= target recall at the
    threshold, with the largest feasible rows-per-band (precision)."""
    from bisque_spark.operators.dedup import tune_bands

    for t in (0.2, 0.3, 0.5, 0.7, 0.9):
        b, r = tune_bands(64, t)
        assert b * r <= 64
        assert 1 - (1 - t**r) ** b >= 0.9
        # one more row per band would break the guarantee (maximal r)
        if (64 // (r + 1)) >= 1:
            b2 = 64 // (r + 1)
            assert 1 - (1 - t ** (r + 1)) ** b2 < 0.9
    # fixed 16x4 banding really is broken at low thresholds
    assert 1 - (1 - 0.2**4) ** 16 < 0.03


def test_minhash_candidate_recall_at_threshold(spark):
    """Auto-tuned banding recovers >= 0.9 of the pairs whose TRUE
    8-byte-shingle Jaccard clears the operating threshold (the ground
    truth is computed exactly in numpy on the same shingle definition);
    round-2-style fixed banding loses most of them."""
    import itertools

    import numpy as np

    from bisque_spark.operators.dedup import minhash_dedup_pairs

    def shingles(t):
        data = t.encode("utf-8")
        return {data[i : i + 8] for i in range(len(data) - 7)}

    rng = np.random.RandomState(17)
    vocab = [f"w{i:03d}" for i in range(60)]
    base = [vocab[i] for i in rng.choice(60, 25, replace=False)]
    docs = []
    for i in range(40):
        keep = int(rng.randint(10, 25))
        words = base[:keep] + [
            vocab[j] for j in rng.choice(60, 25 - keep, replace=False)
        ]
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    threshold = 0.3
    truth = {
        (a, b)
        for (a, ta), (b, tb) in itertools.combinations(docs, 2)
        if len(shingles(ta) & shingles(tb))
        / max(1, len(shingles(ta) | shingles(tb)))
        >= threshold
    }
    assert len(truth) >= 30  # the corpus actually has qualifying pairs

    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    # est_jaccard >= threshold is itself an estimate, so compare against
    # candidate coverage of the TRUE qualifying set
    recall = len(got & truth) / len(truth)
    assert recall >= 0.85, (recall, len(truth), len(got))


def test_tune_signature_prefers_selective_bands():
    """The signature ladder widens n_hashes until rows-per-band >= 3 is
    feasible at the recall target — r=2 admits ~j^2-per-band junk, a
    quadratic-blowup risk at scale."""
    from bisque_spark.operators.dedup import tune_bands, tune_signature

    for t in (0.35, 0.5, 0.7):
        n, b, r = tune_signature(t)
        assert r >= 3 and b * r <= n
        assert 1 - (1 - t**r) ** b >= 0.9
    # narrow signatures at t=0.35 would be stuck at r=2
    assert tune_bands(64, 0.35)[1] == 2
    assert tune_signature(0.35)[0] > 64


def test_tune_signature_ladder_survives_infeasible_widths():
    """Thresholds where n=64 can't reach the recall target must climb
    the ladder to a wider signature instead of propagating ValueError
    (advice r3); a threshold no width can serve raises with a pointer
    at the exact variants."""
    import pytest

    from bisque_spark.operators.dedup import tune_signature

    for t in (0.009, 0.02, 0.034):
        n, b, r = tune_signature(t)
        assert n >= 128 and b * r <= n and r >= 1
    with pytest.raises(ValueError, match="exact"):
        tune_signature(0.0001)


def test_minhash_grid_verify_equals_banding_twin(spark):
    """r8 internals: the grid-cogroup verify (ids-only candidates
    co-located with replicated signatures on a hash grid) must emit
    exactly the any-band-collision pairs with est >= threshold, est
    computed as the integer match count over the signature width —
    pinned against a driver-side banding twin."""
    import numpy as np
    import pandas as pd

    from bisque_spark.operators.dedup import (
        _minhash_params,
        _minhash_series,
        tune_signature,
    )

    texts = []
    for i in range(120):
        base = f"shared boilerplate tokens {i % 7} " * 4
        texts.append((i, base + f"doc {i} unique tail {i * i}"))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    thr = 0.35
    n_hashes, bands, rpb = tune_signature(thr)
    a, b = _minhash_params(n_hashes)
    sigs = np.stack(
        _minhash_series(
            pd.Series([t for _, t in texts]), a, b, 8
        ).to_numpy()
    )
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            cand = any(
                (sigs[i, k * rpb : (k + 1) * rpb]
                 == sigs[j, k * rpb : (k + 1) * rpb]).all()
                for k in range(bands)
            )
            if cand:
                est = float((sigs[i] == sigs[j]).sum()) / n_hashes
                if est >= thr:
                    want[(i, j)] = est
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_dedup_pairs(
            df, "doc_id", "text", threshold=thr
        ).collect()
    }
    assert got == want
