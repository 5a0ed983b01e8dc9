"""ANN tiers vs the exact brute-force baseline.

The approximate paths (LSH, IVF) must find a large fraction of the true
top-k — recall@k is the standard ANN quality gate. Ground truth is
`brute_force_topk` on the same corpus.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.similarity import (
    _round6_scaled,
    brute_force_topk,
    lsh_topk,
    rh_signatures,
    hyperplanes,
)
from binance_futures_data_lake_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"
K = 5
N_QUERIES = 20


@pytest.fixture(scope="module")
def emb(spark):
    df = load_table(spark, "embeddings", SF).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def truth(spark, emb):
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    return {
        (r.q_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=K).collect()
    }


def _recall(found_pairs, truth):
    return len(found_pairs & truth) / len(truth)


def test_brute_force_shape(spark, emb):
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    out = brute_force_topk(emb, q, k=K)
    rows = out.collect()
    assert len(rows) == N_QUERIES * K
    # per-query ranks are 1..K with strictly ordered (rounded) similarity
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, K + 1))
        sims = [r.cosine for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q_id for r in rs)


def test_lsh_recall(spark, emb, truth):
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    found = {
        (r.q_id, r.neighbor_id)
        for r in lsh_topk(emb, q, dim=64, k=K, n_planes=16, bands=8).collect()
    }
    # 8 bands × 2 rows/band is a permissive S-curve — recall should be high
    assert _recall(found, truth) >= 0.6


def test_lsh_precision_of_found(spark, emb, truth):
    """Anything LSH returns at rank<=K with cosine >= the true kth cosine
    must BE a true neighbor: the re-rank is exact, so errors are only
    misses, never wrong similarities."""
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    bf = {(r.q_id, r.neighbor_id): r.cosine for r in brute_force_topk(emb, q, k=K).collect()}
    for r in lsh_topk(emb, q, dim=64, k=K, n_planes=16, bands=8).collect():
        key = (r.q_id, r.neighbor_id)
        if key in bf:
            assert abs(bf[key] - r.cosine) < 1e-9


def test_ivf_lloyd_recall_and_determinism(spark, emb, truth):
    """The deterministic fixed-point Lloyd quantizer must (a) match the
    RNG-free quality bar of the other IVF tiers and (b) train to the SAME
    centroids regardless of input partitioning — integer sums are
    order-free, which is the whole point of the fixed-point grid."""
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_lloyd_centroids, ivf_lloyd_topk,
    )

    q = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = ivf_lloyd_centroids(emb, num_cells=8, iters=2)
    cents2 = ivf_lloyd_centroids(emb.repartition(13), num_cells=8, iters=2)
    assert cents == cents2
    found = {
        (r.q_id, r.neighbor_id)
        for r in ivf_lloyd_topk(emb, q, cents, k=K, nprobe=4).collect()
    }
    assert _recall(found, truth) >= 0.6


def test_hyperplanes_deterministic():
    a = hyperplanes(16, 4, seed="s")
    b = hyperplanes(16, 4, seed="s")
    c = hyperplanes(16, 4, seed="other")
    assert a == b
    assert a != c
    flat = [x for row in a for x in row]
    assert all(-1.0 <= x <= 1.0 for x in flat)


def test_signatures_stable_across_partitioning(spark, emb):
    s1 = rh_signatures(emb, 64, 8).select("id", "bits").collect()
    s2 = rh_signatures(emb.repartition(13), 64, 8).select("id", "bits").collect()
    assert {r.id: tuple(r.bits) for r in s1} == {r.id: tuple(r.bits) for r in s2}


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (training-data dedup family)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def planted(spark, emb):
    """Corpus with planted near-duplicates: for each of the first 15 vectors,
    a copy at id+100000 with every component nudged deterministically — same
    direction up to a small perturbation, so cos(orig, copy) ≈ 0.999."""
    base = emb.select("vec_id", "embedding")
    dup = base.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(0.97) + F.lit(0.01)).cast("float")).alias(
            "embedding"
        ),
    )
    df = base.unionByName(dup).cache()
    df.count()
    return df


def test_embedding_near_dup_finds_planted_pairs(spark, planted):
    from binance_futures_data_lake_spark.operators.textdedup import embedding_near_dup

    pairs = {(r.doc_a, r.doc_b) for r in embedding_near_dup(planted, threshold=0.95).collect()}
    for i in range(15):
        assert (i, i + 100000) in pairs
    # near-random base vectors must not collide at 0.95
    assert all(b - a == 100000 for a, b in pairs)


def test_embedding_near_dup_lsh_recall_high_threshold(spark, planted):
    from binance_futures_data_lake_spark.operators.textdedup import (
        embedding_near_dup,
        embedding_near_dup_lsh,
    )

    exact = {(r.doc_a, r.doc_b) for r in embedding_near_dup(planted, threshold=0.95).collect()}
    lsh = {
        (r.doc_a, r.doc_b)
        for r in embedding_near_dup_lsh(
            planted, dim=64, threshold=0.95, n_planes=16, bands=8
        ).collect()
    }
    # verify step makes LSH a strict subset of the exact pair set
    assert lsh <= exact
    assert len(lsh) / len(exact) >= 0.9


def test_embedding_near_dup_lsh_matches_driver_threshold(spark, emb):
    from binance_futures_data_lake_spark.operators.textdedup import (
        embedding_near_dup,
        embedding_near_dup_lsh,
    )

    exact = {(r.doc_a, r.doc_b) for r in embedding_near_dup(emb, threshold=0.3).collect()}
    lsh = {
        (r.doc_a, r.doc_b)
        for r in embedding_near_dup_lsh(emb, dim=64, threshold=0.3, n_planes=16, bands=8).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.7


def test_retrieval_eval_hand_case(spark):
    from binance_futures_data_lake_spark.operators.similarity import retrieval_eval

    results = spark.createDataFrame(
        [
            # q1: relevant at ranks 2 and 3 of top-3
            (1, 101, 1), (1, 102, 2), (1, 103, 3),
            # q2: nothing relevant retrieved
            (2, 101, 1), (2, 104, 2),
            # q3 appears in results but has no gold -> excluded
            (3, 101, 1),
            # rank beyond k must be ignored
            (1, 105, 4),
        ],
        "q_id long, neighbor_id long, rnk int",
    )
    gold = spark.createDataFrame(
        [
            (1, 102), (1, 103), (1, 105), (1, 106),  # 4 relevant, one at rank 4
            (2, 103),
            (4, 101),  # q4 never retrieved -> scores zero
        ],
        "q_id long, doc_id long",
    )
    out = {r["q_id"]: r for r in retrieval_eval(results, gold, k=3).collect()}
    assert set(out) == {1, 2, 4}
    # q1: hits 2 (105 was rank 4, outside k), feasible recall = 2/min(4,3)
    assert out[1]["hits"] == 2
    assert out[1]["recall_at_k"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[1]["first_rel_rank"] == 2 and out[1]["rr"] == 0.5
    # q2: retrieved but zero relevant
    assert out[2]["hits"] == 0 and out[2]["rr"] == 0.0
    assert out[2]["first_rel_rank"] == 0
    # q4: gold exists, nothing retrieved at all
    assert out[4]["hits"] == 0 and out[4]["recall_at_k"] == 0.0
    with pytest.raises(ValueError):
        retrieval_eval(results, gold, k=0)


def test_semantic_dedup_hand_case(spark):
    """Min-id representative semantics inside a cell, cross-cell blindness,
    and the kept/near_dup split — on a hand-built corpus whose Lloyd cells
    are forced by construction (two tight antipodal groups, 2 cells)."""
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_lloyd_centroids, semantic_dedup,
    )

    # group A around +e0 (ids 1,2,3 mutually ~identical), group B around
    # -e0 (ids 10, 11 mutually ~identical), one outlier near +e1 (id 20)
    def v(main, eps, d=8):
        out = [0.0] * d
        out[0] = main
        out[1] = eps
        return out

    rows = [
        (1, v(1.0, 0.00)), (2, v(1.0, 0.01)), (3, v(1.0, 0.02)),
        (10, v(-1.0, 0.00)), (11, v(-1.0, 0.01)),
        (20, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_lloyd_centroids(emb, num_cells=2, iters=2)
    out = {r["vec_id"]: r for r in semantic_dedup(emb, cents, 0.9).collect()}
    assert len(out) == 6
    # min-id keep inside the A group; 2 and 3 both match the MIN id 1,
    # not a chain (3 must not match 2)
    assert out[1]["status"] == "kept" and out[1]["match_id"] is None
    assert out[2]["status"] == "near_dup" and out[2]["match_id"] == 1
    assert out[3]["status"] == "near_dup" and out[3]["match_id"] == 1
    # B group dedups independently (cosine(A,B) = -1 < threshold)
    assert out[10]["status"] == "kept"
    assert out[11]["status"] == "near_dup" and out[11]["match_id"] == 10
    # orthogonal outlier survives in whichever cell it landed
    assert out[20]["status"] == "kept"
    # cosines carried for the chosen match are the 6-dp pair values
    assert out[2]["cosine"] >= 0.999
    with pytest.raises(ValueError):
        semantic_dedup(emb, cents, 0.0)


def test_semantic_dedup_planted_twins(spark):
    """The registered query's planting contract at sf0.001: every flagged
    vector is a planted +0.05 twin matching ITS OWN base, every reversed
    decoy survives, and no base vector is ever flagged (twins have larger
    ids, so the min-id rule keeps the original)."""
    from binance_futures_data_lake_spark.plans.driver_queries import QUERIES

    rows = QUERIES["semantic_dedup"](spark, SF).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r)
    dups = by_status.get("near_dup", [])
    assert dups, "planting must produce at least one semantic duplicate"
    for r in dups:
        assert 10000 <= r["vec_id"] < 20000, "only twins may drop"
        assert r["match_id"] == r["vec_id"] - 10000, "twin matches its base"
        assert r["cosine"] >= 0.9
    kept_ids = {r["vec_id"] for r in by_status["kept"]}
    assert all(i in kept_ids for i in range(0, 30))  # bases kept
    assert all(r["vec_id"] in kept_ids
               for r in rows if r["vec_id"] >= 20000)  # decoys kept


def test_hard_negatives_excludes_positives_and_caps(spark):
    from binance_futures_data_lake_spark.operators.similarity import hard_negatives

    res = spark.createDataFrame(
        [
            # q1: gold at rank 1, unlabeled near-dup at 0.99, then negatives
            (1, 10, 0.98, 1), (1, 11, 0.99, 2), (1, 12, 0.80, 3),
            (1, 13, 0.70, 4), (1, 14, 0.60, 5), (1, 15, 0.50, 6),
            # q2: everything is gold -> no negatives survive
            (2, 20, 0.90, 1), (2, 21, 0.85, 2),
        ],
        "q_id long, neighbor_id long, cosine double, rnk int",
    )
    gold = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 21)], "q_id long, doc_id long"
    )
    out = hard_negatives(res, gold, n_neg=3, max_cos=0.95).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    assert 2 not in by_q  # all-gold query yields nothing
    got = [(r["neg_id"], r["neg_rank"]) for r in sorted(by_q[1], key=lambda r: r["neg_rank"])]
    # 10 excluded (gold), 11 excluded (cosine > max_cos), top-3 of the rest
    assert got == [(12, 1), (13, 2), (14, 3)]
    # no cap on cosine when max_cos is None: 11 becomes the top negative
    out2 = hard_negatives(res, gold, n_neg=2, max_cos=None).collect()
    top = sorted((r for r in out2 if r["q_id"] == 1), key=lambda r: r["neg_rank"])
    assert [r["neg_id"] for r in top] == [11, 12]


def test_semantic_match_existing_frozen_index(spark):
    """Snapshot twins must match their OWN base (min-id contract) against
    the existing-side index; vectors alien to the corpus come back kept;
    and re-running with a snapshot-polluted quantizer is NOT what the
    operator does — centroids are an input, so the index stays frozen."""
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_lloyd_centroids, semantic_match_existing,
    )

    emb = load_table(spark, "embeddings", SF)
    dbl = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    tw = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.lit(0.02)
        ).alias("embedding"),
    )
    cents = ivf_lloyd_centroids(dbl, num_cells=4, iters=2)
    out = {r["vec_id"]: r for r in
           semantic_match_existing(dbl, tw, cents, threshold=0.9).collect()}
    assert len(out) == 20  # one row per snapshot vector
    matched = [v for v in out.values() if v["status"] == "near_dup"]
    assert matched  # +0.02 twins sit well above 0.9 of their base
    for r in matched:
        assert r["match_id"] < 10000  # matches point INTO the corpus
        assert r["cosine"] >= 0.9
    # a twin that matched must match its own base unless a smaller-id
    # cellmate is also >= threshold — with near-random bases the match
    # IS the base
    for r in matched:
        assert r["match_id"] == r["vec_id"] - 10000


def test_ivf_query_side_cap_fails_loudly(spark, emb, monkeypatch):
    """Oversized query sides must raise before occupying the driver
    (the collected frame rides every task closure) — on brute force,
    LSH, the cell-scored IVF tiers and flat PQ, the one-cell IVFADC
    case."""
    from binance_futures_data_lake_spark.operators import similarity
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_seed_centroids, ivf_seeded_topk, pq_ivf_adc_topk,
        pq_residual_codebooks,
    )

    monkeypatch.setattr(similarity, "IVF_MAX_QUERIES", 5)
    cents = ivf_seed_centroids(emb, num_cells=4)
    with pytest.raises(ValueError, match="query side exceeds 5 rows"):
        ivf_seeded_topk(emb, emb.limit(6), cents, k=2).collect()
    with pytest.raises(ValueError, match="query side exceeds 5 rows"):
        brute_force_topk(emb, emb.limit(6), k=2).collect()
    with pytest.raises(ValueError, match="query side exceeds 5 rows"):
        lsh_topk(emb, emb.limit(6), dim=64, k=2).collect()
    flat = [(0, [0] * 64)]
    books = pq_residual_codebooks(emb, flat, n_sub=4, ks=8)
    with pytest.raises(ValueError, match="query side exceeds 5 rows"):
        pq_ivf_adc_topk(emb, emb.limit(6), flat, books, k=2, nprobe=1)


def test_ivf_mixed_id_types(spark, emb):
    """q_id types from the query frame, neighbor_id from the corpus —
    a string-id query set over a long-id corpus must not mismatch the
    declared kernel schema (ADVICE r8), on every tier of the shared
    scorer."""
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_seed_centroids, ivf_seeded_topk,
    )

    cents = ivf_seed_centroids(emb, num_cells=4)
    q = emb.limit(3).select(
        F.concat(F.lit("q"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    for out in (
        ivf_seeded_topk(emb, q, cents, k=2),
        brute_force_topk(emb, q, k=2),
        lsh_topk(emb, q, dim=64, k=2, n_planes=16, bands=8),
    ):
        assert dict(out.dtypes) == {
            "q_id": "string", "neighbor_id": "bigint",
            "cosine": "double", "rnk": "int",
        }
        rows = out.collect()
        assert rows and all(r.q_id.startswith("q") for r in rows)


def test_zero_norm_vectors_dropped_on_every_dense_tier(spark):
    """A zero vector is out of cosine domain: as a corpus row it is never
    a neighbour (its NaN cosine would rank above every real one), and as
    a query it returns nothing. Brute force, LSH and IVF probing every
    cell return the same k real neighbours."""
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_lloyd_centroids, ivf_lloyd_topk,
    )

    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [1.0, 0.1, 0.0, 0.0],
        [1.0, 0.5, 0.0, 0.0],
        [0.0, 0.0, 0.0, 0.0],
        [1.0, 1.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
    ]
    emb6 = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    q = emb6.filter(F.col("vec_id").isin(0, 3))
    cents = ivf_lloyd_centroids(emb6, num_cells=2, iters=1)
    for out in (
        brute_force_topk(emb6, q, k=3),
        lsh_topk(emb6, q, dim=4, k=3, n_planes=8, bands=8),
        ivf_lloyd_topk(emb6, q, cents, k=3, nprobe=len(cents)),
    ):
        rows = sorted(out.collect(), key=lambda r: r.rnk)
        assert [(r.q_id, r.neighbor_id) for r in rows] == [(0, 1), (0, 2), (0, 4)]


def _seq_scaled(x, y):
    """The SQL fold order: a·b, a·a, b·b accumulated per dim from 0.0."""
    dab = daa = dbb = 0.0
    for d in range(x.size):
        dab = dab + float(x[d]) * float(y[d])
        daa = daa + float(x[d]) * float(x[d])
        dbb = dbb + float(y[d]) * float(y[d])
    return dab / (math.sqrt(daa) * math.sqrt(dbb)) * 1e6


def _round6_np(s):
    return np.sign(s) * np.floor(np.abs(s) + 0.5) / 1e6


def test_round6_guard_recomputes_half_boundary_entries():
    """Entries within 1e-5 of a .5 boundary take the sequential-fold
    value; entries outside the window keep their given value. Checked
    on the block form and on the pairwise 1-D form."""
    rng = np.random.RandomState(7)
    a = rng.standard_normal((6, 32))
    b = rng.standard_normal((5, 32))
    exact = np.array([[_seq_scaled(x, y) for y in b] for x in a])
    scaled = exact.copy()
    planted = {(0, 0): 1e-6, (1, 3): -1e-6, (2, 1): 9e-6, (5, 4): -9e-6}
    for (i, j), eps in planted.items():
        scaled[i, j] = 123456.5 + eps
    scaled[3, 2] = 123456.5 + 2e-5  # outside the window: left as given
    want = _round6_np(exact)
    want[3, 2] = _round6_np(123456.5 + 2e-5)
    np.testing.assert_array_equal(_round6_scaled(scaled, a, b), want)

    pa_, pb_ = a[[0, 1, 2, 5]], b[[0, 3, 1, 4]]
    pairs = np.array([123456.5 + eps for eps in planted.values()])
    np.testing.assert_array_equal(
        _round6_scaled(pairs, pa_, pb_), _round6_np(exact[[0, 1, 2, 5], [0, 3, 1, 4]])
    )


def test_round6_guard_flags_what_float_modulo_flags():
    """The floor boundary test flags exactly the entries ``% 1.0`` flags,
    exact .5 values and both signs included. Every flagged entry is
    recomputed from orthogonal vectors, so it reads 0.0 and no other
    entry does (|value| >= 1)."""
    rng = np.random.RandomState(11)
    s = rng.uniform(1.0, 1e6, size=(40, 50)) * rng.choice([-1.0, 1.0], size=(40, 50))
    s[::3, ::2] = np.floor(s[::3, ::2]) + 0.5
    s[1::7, 1::3] = np.floor(s[1::7, 1::3]) + 0.5 + rng.choice([-9.9e-6, 9.9e-6], size=(6, 17))
    s[2::9, ::4] = np.floor(s[2::9, ::4]) + 0.5 + 1.01e-5
    flagged = np.abs(np.abs(s) % 1.0 - 0.5) < 1e-5
    a = np.tile([1.0, 0.0], (40, 1))
    b = np.tile([0.0, 1.0], (50, 1))
    out = _round6_scaled(s.copy(), a, b)
    assert flagged.sum() > 300
    np.testing.assert_array_equal(out == 0.0, flagged)


def test_lloyd_centroids_partitioning_invariant(spark, emb):
    """Lloyd steps accumulate per partition and reduce in int64 numpy.
    Integer sums are associative and every float64 partial is exact
    under 2^53, so the trained centroids must be BIT-IDENTICAL across
    partitionings."""
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_lloyd_centroids,
    )

    a = ivf_lloyd_centroids(emb, num_cells=8, iters=2)
    b = ivf_lloyd_centroids(emb.repartition(13), num_cells=8, iters=2)
    assert a == b


def test_grid_assign_chunking_exact():
    """r12: _grid_assign_residual bounds its (rows × cells) distance
    transient by chunking rows at deploy cell counts. Chunking is pure
    per-row math — idx and residuals must equal the single-shot
    computation on a multi-chunk config (9k cells → chunk 256)."""
    import numpy as np

    from binance_futures_data_lake_spark.operators.similarity import (
        _grid_assign_residual,
    )

    rng = np.random.RandomState(3)
    dim, n_cells, n_rows = 8, 9000, 2500
    cents = [(i, rng.randint(-1_000_000, 1_000_000, dim).tolist())
             for i in range(n_cells)]
    smat = rng.randint(-1_000_000, 1_000_000, (n_rows, dim)).astype(
        np.float64
    )
    cell_ids, c_mat, assign = _grid_assign_residual(cents)
    idx, res = assign(smat)
    # naive single-shot replay
    c2 = np.einsum("ij,ij->i", c_mat, c_mat)
    d2 = (
        np.einsum("ij,ij->i", smat, smat)[:, None]
        - 2.0 * (smat @ c_mat.T)
        + c2[None, :]
    )
    want = np.argmin(d2, axis=1)
    assert np.array_equal(idx, want)
    assert np.array_equal(res, smat - c_mat[want])
