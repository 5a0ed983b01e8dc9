"""IVFADC (residual-PQ) tier contracts — r10.

The tier composes the seeded/Lloyd coarse quantizer with residual
product-quantization (similarity.pq_residual_codebooks[_lloyd] /
pq_ivf_adc_topk / pq_ivf_rerank_topk). Contracts pinned here:

- bit-exact agreement with a standalone NumPy replay of the whole
  pipeline (grid scale -> cell assign -> residual encode -> probed-cell
  ADC -> rank) on a clustered corpus;
- partitioning invariance (the mapInArrow kernel's partial top-k must
  not leak batch boundaries into results);
- nprobe=num_cells + corpus-sized shortlist degrades to EXACT
  brute-force cosine top-k through the re-rank;
- the residual point itself: on clustered data with as many codewords
  as clusters, FLAT codes collapse onto cluster identity while RESIDUAL
  codes keep within-cluster discrimination;
- deterministic codebook builds (seeded and Lloyd).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.similarity import (
    brute_force_topk,
    grid_vectors,
    pq_ivf_adc_topk,
    pq_ivf_rerank_topk,
    pq_residual_codebooks,
    pq_residual_codebooks_lloyd,
    seed_cells,
)

DIM, N_SUB, KS, NCELLS = 8, 2, 4, 3


def _clustered(spark, n_per=40, n_clusters=3, noise=0.08, dim=DIM):
    """Deterministic clustered corpus: cluster centers and per-vector
    noise from splitmix-ish integer hashing — no RNG state."""

    def h01(a: int, b: int) -> float:
        z = (a * 2654435761 + b * 40503 + 12345) & 0xFFFFFFFF
        z ^= z >> 16
        z = (z * 0x45D9F3B) & 0xFFFFFFFF
        z ^= z >> 16
        return (z % 100003) / 100003.0

    rows = []
    for c in range(n_clusters):
        center = [2.0 * h01(c + 1, j) - 1.0 for j in range(dim)]
        for i in range(n_per):
            vid = c * n_per + i
            vec = [
                center[j] + noise * (2.0 * h01(vid + 7919, j) - 1.0)
                for j in range(dim)
            ]
            rows.append((vid, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _seed_cents(emb, ncells=NCELLS):
    return seed_cells(grid_vectors(emb), ncells)


def _numpy_ivfadc(pdf, cents, books, q_ids, k, nprobe):
    """Standalone replay of the IVFADC semantics (the SQL oracle's
    arithmetic, independently re-derived)."""
    ids = pdf["vec_id"].to_numpy()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    keep = nrm > 0
    ids, mat, nrm = ids[keep], mat[keep], nrm[keep]
    v = mat / nrm[:, None] * 1e6
    s = np.sign(v) * np.floor(np.abs(v) + 0.5)
    c_mat = np.array([c for _, c in cents], dtype=np.float64)
    cell_ids = np.array([i for i, _ in cents])
    d2c = ((s[:, None, :] - c_mat[None, :, :]) ** 2).sum(axis=2)
    cidx = np.argmin(d2c, axis=1)
    res = s - c_mat[cidx]
    n_sub, ks = len(books), len(books[0])
    sub = len(books[0][0])
    C = [np.array(b, dtype=np.float64) for b in books]
    codes = np.stack(
        [
            np.argmin(
                ((res[:, None, m * sub:(m + 1) * sub] - C[m][None, :, :]) ** 2)
                .sum(axis=2),
                axis=1,
            )
            for m in range(n_sub)
        ],
        axis=1,
    )
    out = []
    for qid in q_ids:
        qi = int(np.flatnonzero(ids == qid)[0])
        probe_order = np.lexsort((cell_ids, d2c[qi]))[:nprobe]
        cands = []
        for ci in probe_order:
            rq = s[qi] - c_mat[ci]
            tabs = [
                ((rq[m * sub:(m + 1) * sub][None, :] - C[m]) ** 2).sum(axis=1)
                for m in range(n_sub)
            ]
            sel = np.flatnonzero((cidx == ci) & (ids != qid))
            for r in sel:
                d = sum(tabs[m][codes[r, m]] for m in range(n_sub))
                cands.append((int(d), int(ids[r])))
        cands.sort()
        for rnk, (d, nid) in enumerate(cands[:k], start=1):
            out.append((qid, nid, d, rnk))
    return set(out)


def test_pq_ivf_adc_matches_numpy_reference(spark):
    emb = _clustered(spark).cache()
    emb.count()
    cents = _seed_cents(emb)
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    assert len(books) == N_SUB and len(books[0]) == KS
    assert len(books[0][0]) == DIM // N_SUB
    q = emb.filter(F.col("vec_id") % 17 == 0)
    got = {
        (r.q_id, r.neighbor_id, r.adc_dist, r.rnk)
        for r in pq_ivf_adc_topk(emb, q, cents, books, k=4, nprobe=2).collect()
    }
    pdf = emb.toPandas()
    q_ids = sorted(pdf[pdf["vec_id"] % 17 == 0]["vec_id"])
    want = _numpy_ivfadc(pdf, cents, books, q_ids, k=4, nprobe=2)
    assert got == want


def test_pq_ivf_partitioning_invariance(spark):
    emb = _clustered(spark)
    cents = _seed_cents(emb)
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    q = emb.filter(F.col("vec_id") < 5)

    def run(df):
        return {
            (r.q_id, r.neighbor_id, r.adc_dist, r.rnk)
            for r in pq_ivf_adc_topk(df, q, cents, books, k=5, nprobe=2).collect()
        }

    assert run(emb.repartition(1)) == run(emb.repartition(7))


def test_pq_ivf_rerank_full_probe_is_exact(spark):
    """nprobe = num_cells probes everything; a corpus-sized shortlist
    then hands EVERY vector to the exact re-rank — the result must be
    bit-equal to brute-force cosine top-k."""
    emb = _clustered(spark).cache()
    emb.count()
    cents = _seed_cents(emb)
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    q = emb.filter(F.col("vec_id") < 4)
    got = {
        (r.q_id, r.neighbor_id, r.cosine, r.rnk)
        for r in pq_ivf_rerank_topk(
            emb, q, cents, books, k=5, shortlist=1000, nprobe=NCELLS
        ).collect()
    }
    want = {
        (r.q_id, r.neighbor_id, r.cosine, r.rnk)
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    assert got == want


def test_residual_codes_beat_flat_on_clustered(spark):
    """The IVFADC motivation, measured at equal code budget: FLAT
    trained codes spend codewords re-stating cluster identity, RESIDUAL
    codes (against Lloyd cell means) spend the same 2×16 budget on
    within-cluster offsets. Both tiers Lloyd-trained, truth exact;
    measured on this deterministic corpus: flat 0.305, residual 0.526.
    The margin needs MEANS as centroids — residuals against seeded
    (random-member) cells keep a cluster-dependent bias and the
    advantage disappears; that negative is probed, not asserted, in
    SCALE_PROBE_r10 pq_opq/ivfadc rows."""
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_lloyd_centroids,
    )

    emb = _clustered(spark, n_per=30, n_clusters=8).cache()
    emb.count()
    q = emb.filter(F.col("vec_id") % 13 == 0)
    truth = {
        (r.q_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    one_cell = [(0, [0] * DIM)]  # flat PQ: the residual is the vector
    flat_books = pq_residual_codebooks_lloyd(emb, one_cell, n_sub=N_SUB,
                                             ks=16, iters=2)
    flat = {
        (r.q_id, r.neighbor_id)
        for r in pq_ivf_adc_topk(
            emb, q, one_cell, flat_books, k=5, nprobe=1
        ).collect()
    }
    cents = ivf_lloyd_centroids(emb, num_cells=8, iters=2)
    res_books = pq_residual_codebooks_lloyd(emb, cents, n_sub=N_SUB, ks=16,
                                            iters=2)
    res = {
        (r.q_id, r.neighbor_id)
        for r in pq_ivf_adc_topk(
            emb, q, cents, res_books, k=5, nprobe=8
        ).collect()
    }
    flat_recall = len(flat & truth) / len(truth)
    res_recall = len(res & truth) / len(truth)
    assert res_recall > flat_recall + 0.1


def test_residual_codebook_builds_deterministic(spark):
    emb = _clustered(spark)
    cents = _seed_cents(emb)
    b1 = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    assert b1 == pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    l1 = pq_residual_codebooks_lloyd(emb, cents, n_sub=N_SUB, ks=KS, iters=2)
    l2 = pq_residual_codebooks_lloyd(
        emb.repartition(5), cents, n_sub=N_SUB, ks=KS, iters=2
    )
    assert l1 == l2
    # Lloyd books must not widen past the exactness envelope: grid
    # residual components stay <= 2e6 by construction
    assert all(abs(x) <= 2_000_000 for b in l1 for w in b for x in w)
    with pytest.raises(ValueError):
        pq_residual_codebooks(emb, cents, n_sub=3)  # 8 % 3 != 0


def test_pq_ivf_validation_and_empty_queries(spark):
    emb = _clustered(spark)
    cents = _seed_cents(emb)
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    with pytest.raises(ValueError):
        pq_ivf_adc_topk(emb, emb, cents, books, k=0)
    with pytest.raises(ValueError):
        pq_ivf_adc_topk(emb, emb, cents, books, k=1, nprobe=0)
    out = pq_ivf_adc_topk(
        emb, emb.filter(F.col("vec_id") < 0), cents, books, k=3
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "q_id", "neighbor_id", "adc_dist", "rnk",
    ]


def test_pq_encode_codes_path_bit_equal_and_pruned(spark, tmp_path):
    """The deployed IVFPQ split: pq_encode materializes (id, cell,
    codes); pq_ivf_adc_codes_topk over the stored index must be
    BIT-EQUAL to the inline pq_ivf_adc_topk on the same (corpus, cents,
    books) — same tables, same exact-integer distances, same tiebreaks
    — including through a cell-partitioned parquet round trip, where
    the probed-cell predicate must reach the scan as a partition
    filter (nprobe/num_cells of the files read, before any IO)."""
    emb = _clustered(spark).cache()
    emb.count()
    cents = _seed_cents(emb)
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    q = emb.filter(F.col("vec_id") % 17 == 0)
    want = {
        (r.q_id, r.neighbor_id, r.adc_dist, r.rnk)
        for r in pq_ivf_adc_topk(emb, q, cents, books, k=4, nprobe=2).collect()
    }
    from binance_futures_data_lake_spark.operators.similarity import (
        pq_encode, pq_ivf_adc_codes_topk,
    )

    enc = pq_encode(emb, cents, books)
    got_mem = {
        (r.q_id, r.neighbor_id, r.adc_dist, r.rnk)
        for r in pq_ivf_adc_codes_topk(enc, q, cents, books, k=4,
                                       nprobe=2).collect()
    }
    assert got_mem == want
    idx = str(tmp_path / "pq_index")
    enc.write.mode("overwrite").partitionBy("cell").parquet(idx)
    codes = spark.read.parquet(idx)
    out = pq_ivf_adc_codes_topk(codes, q, cents, books, k=4, nprobe=2)
    got_disk = {
        (r.q_id, r.neighbor_id, r.adc_dist, r.rnk) for r in out.collect()
    }
    assert got_disk == want
    # the cell predicate must prune partitions at the scan, not filter
    # rows after reading everything
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell" in pf, plan


def test_unsorted_cents_give_identical_results(spark):
    """_grid_assign_residual sorts cents by cell id itself (ADVICE r10):
    a caller passing centroids in any order must get bit-identical
    assignments, probe order, and top-k — the min-cell-id tiebreak is a
    property of the operator, not a caller precondition."""
    emb = _clustered(spark).cache()
    emb.count()
    cents = _seed_cents(emb)
    shuffled = list(reversed(cents))
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    assert books == pq_residual_codebooks(emb, shuffled, n_sub=N_SUB, ks=KS)
    q = emb.filter(F.col("vec_id") % 17 == 0)
    want = {
        (r.q_id, r.neighbor_id, r.adc_dist, r.rnk)
        for r in pq_ivf_adc_topk(emb, q, cents, books, k=4, nprobe=2).collect()
    }
    got = {
        (r.q_id, r.neighbor_id, r.adc_dist, r.rnk)
        for r in pq_ivf_adc_topk(
            emb, q, shuffled, books, k=4, nprobe=2
        ).collect()
    }
    assert got == want


def test_codes_out_of_range_fail_loudly(spark):
    """A stale or mismatched code index must raise, not silently wrap
    negative codes into the distance tables (ADVICE r10)."""
    from binance_futures_data_lake_spark.operators.similarity import (
        pq_encode, pq_ivf_adc_codes_topk,
    )

    emb = _clustered(spark).cache()
    emb.count()
    cents = _seed_cents(emb)
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    q = emb.filter(F.col("vec_id") % 17 == 0)
    enc = pq_encode(emb, cents, books)
    bad_neg = enc.withColumn(
        "codes", F.transform("codes", lambda c: (c - F.lit(KS)).cast("smallint"))
    )
    with pytest.raises(Exception, match="out of range"):
        pq_ivf_adc_codes_topk(bad_neg, q, cents, books, k=4, nprobe=2).collect()
    bad_hi = enc.withColumn(
        "codes", F.transform("codes", lambda c: (c + F.lit(KS)).cast("smallint"))
    )
    with pytest.raises(Exception, match="out of range"):
        pq_ivf_adc_codes_topk(bad_hi, q, cents, books, k=4, nprobe=2).collect()


def test_rerank_codes_recipe_bit_equal(spark):
    """pq_ivf_rerank_codes_topk (codes shortlist + exact rerank — the
    deployed recipe) must be BIT-EQUAL to the inline pq_ivf_rerank_topk
    on the same (corpus, cents, books): the shortlist is bit-equal by
    the codes contract and the rerank tail is the same function."""
    from binance_futures_data_lake_spark.operators.similarity import (
        pq_encode, pq_ivf_rerank_codes_topk,
    )

    emb = _clustered(spark).cache()
    emb.count()
    cents = _seed_cents(emb)
    books = pq_residual_codebooks(emb, cents, n_sub=N_SUB, ks=KS)
    q = emb.filter(F.col("vec_id") % 17 == 0)
    want = {
        (r.q_id, r.neighbor_id, r.cosine, r.rnk)
        for r in pq_ivf_rerank_topk(
            emb, q, cents, books, k=5, shortlist=20, nprobe=2
        ).collect()
    }
    codes = pq_encode(emb, cents, books)
    got = {
        (r.q_id, r.neighbor_id, r.cosine, r.rnk)
        for r in pq_ivf_rerank_codes_topk(
            emb, codes, q, cents, books, k=5, shortlist=20, nprobe=2
        ).collect()
    }
    assert got == want
