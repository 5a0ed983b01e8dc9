"""Round-7 operators: lexicon toxicity gate, CMS heavy hitters, RRF
fusion, DoReMi domain reweighting, PQ-ADC ANN, mutual-kNN components."""

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.textquality import toxicity_score


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_toxicity_score_counts_and_flag(spark):
    d = _docs(
        spark,
        [
            "slow slow big table",          # w = 3+3+2 = 8 over 4 tokens -> 2.0
            "clean text only here",         # zero hits
            "",                             # empty doc -> score 0, not toxic
            "hash",                         # 1/1 = 1.0 -> toxic
        ],
    )
    rows = {r.doc_id: r for r in toxicity_score(d, threshold=0.3).collect()}
    assert rows[1].tox_hits == 3 and rows[1].tox_weighted == 8
    assert rows[1].tox_score == pytest.approx(2.0) and rows[1].is_toxic
    assert rows[2].tox_hits == 0 and rows[2].tox_weighted == 0
    assert rows[2].tox_score == 0.0 and not rows[2].is_toxic
    assert rows[3].n_tokens == 0 and rows[3].tox_score == 0.0
    assert not rows[3].is_toxic
    assert rows[4].is_toxic


def test_toxicity_custom_lexicon_and_threshold(spark):
    d = _docs(spark, ["alpha beta beta gamma"])
    out = toxicity_score(
        d, lexicon={"beta": 5}, threshold=2.4
    ).collect()[0]
    # 2*5 / 4 = 2.5 >= 2.4
    assert out.tox_weighted == 10 and out.is_toxic
    with pytest.raises(ValueError):
        toxicity_score(d, lexicon={})


def test_cms_estimate_dominates_exact(spark):
    from binance_futures_data_lake_spark.operators.sketch import cms_heavy_hitters

    df = spark.createDataFrame(
        [(i % 7,) for i in range(1000)] + [(99,)] * 50, "user_id long"
    )
    items = spark.range(0, 8).select(F.col("id").alias("user_id"))
    rows = {r.item: r for r in cms_heavy_hitters(df, "user_id", items, width=8).collect()}
    # CMS guarantee: estimate >= truth, always
    for r in rows.values():
        assert r.cms_estimate >= r.n_exact
    # heavy item 0 appears ceil(1000/7)=143 times
    assert rows[0].n_exact == 143
    # probe item 7 never occurs; estimate may be >0 (collisions) but n=0
    assert rows[7].n_exact == 0


def test_cms_shape_validation(spark):
    import pytest as _pt
    from binance_futures_data_lake_spark.operators.sketch import cms_build

    df = spark.range(3)
    with _pt.raises(ValueError):
        cms_build(df, "id", depth=0)


def test_rrf_fuse_math_and_exclusion(spark):
    from binance_futures_data_lake_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1, 9.0), (1, 10, 5.0), (1, 11, 3.0)],
        "q_id long, item_id long, score double",
    )
    b = spark.createDataFrame(
        [(1, 11, 0.9), (1, 12, 0.8)], "q_id long, item_id long, score double"
    )
    rows = {r.item_id: r for r in rrf_fuse([a, b], k=10, exclude_self=True).collect()}
    # self match (1,1) dropped BEFORE ranking: item 10 is rank 1 in list a
    assert 1 not in rows
    # item 11: rank 2 in a (after exclusion), rank 1 in b
    exp11 = round(1e6 / 62) + round(1e6 / 61)
    assert rows[11].rrf_score == pytest.approx(exp11 / 1e6)
    assert rows[11].n_lists == 2 and rows[11].rnk == 1
    assert rows[10].n_lists == 1
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_doremi_weights_favor_hard_domains(spark):
    from binance_futures_data_lake_spark.operators.curation import doremi_weights

    losses = spark.createDataFrame(
        [("easy", 3.0), ("mid", 3.5), ("hard", 4.0)], "source string, loss double"
    )
    rows = {r.source: r for r in doremi_weights(losses, eta=0.5, iters=4).collect()}
    assert rows["hard"].weight > rows["mid"].weight > rows["easy"].weight
    assert sum(r.weight for r in rows.values()) == pytest.approx(1.0, abs=1e-4)
    # uniform loss -> weights stay uniform
    flat = spark.createDataFrame(
        [("a", 2.0), ("b", 2.0)], "source string, loss double"
    )
    out = {r.source: r.weight for r in doremi_weights(flat, iters=2).collect()}
    assert out["a"] == pytest.approx(0.5) and out["b"] == pytest.approx(0.5)
    with pytest.raises(ValueError):
        doremi_weights(losses, iters=0)


def test_knn_graph_mutual_edges_are_mutual_and_undirected(spark):
    from binance_futures_data_lake_spark.operators.similarity import (
        knn_graph_components, knn_graph_mutual_edges,
    )

    # 2 tight pairs + 1 outlier, all in one cell (single centroid)
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),   # ~cos 0.9992 with 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.03, 0.999, 0.0]),   # ~cos 0.9995 with 3
        (5, [0.6, 0.6, 0.52]),     # closest to others but below mutual top-1
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = [(0, [1_000_000, 0, 0])]
    edges = knn_graph_mutual_edges(df, cents, kk=1, threshold=0.5).collect()
    got = {(r.u, r.v) for r in edges}
    assert got == {(1, 2), (3, 4)}          # u < v, mutual top-1 only
    comp = {r.vec_id: r for r in knn_graph_components(df, cents, kk=1, threshold=0.5).collect()}
    assert comp[2].component == 1 and comp[4].component == 3
    assert comp[5].component == 5 and comp[5].degree == 0
    assert comp[1].degree == 1


def test_pq_adc_recall_and_contract(spark):
    """Flat PQ: IVFADC over one all-zero coarse cell."""
    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk, pq_ivf_adc_topk, pq_ivf_rerank_topk,
        pq_residual_codebooks,
    )
    from binance_futures_data_lake_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").cache()
    emb.count()
    q = emb.filter(F.col("vec_id") < 20)
    truth = {(r.q_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()}
    flat = [(0, [0] * 64)]
    books = pq_residual_codebooks(emb, flat, n_sub=4, ks=8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 16
    out = pq_ivf_adc_topk(emb, q, flat, books, k=5, nprobe=1).collect()
    # raw ADC on STRUCTURELESS near-random embeddings is the worst case
    # (all pairwise distances concentrate; 8 codewords can't separate
    # them) — it must still beat the ~0.05 random-pick baseline, while
    # the production shortlist+exact-re-rank tier below carries the real
    # recall bar.
    found = {(r.q_id, r.neighbor_id) for r in out}
    assert len(found & truth) / len(truth) > 0.05
    rr = pq_ivf_rerank_topk(emb, q, flat, books, k=5, shortlist=100,
                            nprobe=1).collect()
    rfound = {(r.q_id, r.neighbor_id) for r in rr}
    assert len(rfound & truth) / len(truth) >= 0.3
    # contract: exactly k rows per query, integer distances, ranked ascending
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r)
    for rows in per_q.values():
        rows.sort(key=lambda r: r.rnk)
        assert len(rows) == 5
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists)
        assert all(isinstance(d, int) for d in dists)
    # determinism: a second build returns identical codebooks
    assert books == pq_residual_codebooks(emb, flat, n_sub=4, ks=8)
    with pytest.raises(ValueError):
        pq_residual_codebooks(emb, flat, n_sub=5)  # 64 % 5 != 0


def test_connected_components_driver_vs_distributed_parity(spark, monkeypatch):
    from binance_futures_data_lake_spark.operators import graph
    from binance_futures_data_lake_spark.operators.graph import connected_components

    # chain 1-2-3-4-5, triangle 10-11-12, pair (20, 21)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    drv = {r.id: r.comp for r in connected_components(edges).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    dist = {r.id: r.comp for r in connected_components(edges).collect()}
    assert drv == dist
    assert drv[5] == 1 and drv[12] == 10 and drv[21] == 20


def test_hll_distinct_estimate_and_validation(spark):
    from binance_futures_data_lake_spark.operators.sketch import hll_distinct

    rows = [(g, v) for g in ("a", "b") for v in range(200 if g == "a" else 20)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r.grp: r for r in hll_distinct(df, "v", by=["grp"], m=64).collect()}
    assert out["a"].n_exact == 200 and out["b"].n_exact == 20
    # HLL std error ~ 1.04/sqrt(64) = 13%; allow 3 sigma
    assert abs(out["a"].hll_estimate - 200) / 200 < 0.4
    assert abs(out["b"].hll_estimate - 20) / 20 < 0.4
    # duplicates must not move the estimate (distinct semantics)
    dup = df.union(df)
    out2 = {r.grp: r for r in hll_distinct(dup, "v", by=["grp"], m=64).collect()}
    assert out2["a"].hll_estimate == out["a"].hll_estimate
    # deploy form (r8): no n_exact column, no exact count_distinct pass,
    # same estimate
    lean = hll_distinct(df, "v", by=["grp"], m=64, include_exact=False)
    assert lean.columns == ["grp", "hll_estimate"]
    assert "count(distinct" not in lean._jdf.queryExecution().executedPlan().toString().lower()
    assert {r.grp: r.hll_estimate for r in lean.collect()} == {
        g: out[g].hll_estimate for g in ("a", "b")
    }
    with pytest.raises(ValueError):
        hll_distinct(df, "v", m=63)


def test_weighted_sample_topk_contract(spark):
    from binance_futures_data_lake_spark.operators.curation import (
        weighted_sample_topk,
    )

    df = spark.createDataFrame(
        [(i, "g", 1 + (i % 5)) for i in range(100)] + [(200, "g", 0)],
        "k long, grp string, w long",
    )
    out = weighted_sample_topk(df, "k", "w", k=7, by=["grp"]).collect()
    assert len(out) == 7
    assert [r.rk for r in sorted(out, key=lambda r: r.rk)] == list(range(1, 8))
    assert all(r.k != 200 for r in out)  # zero-weight rows excluded
    # deterministic: same draw on re-run
    out2 = weighted_sample_topk(df, "k", "w", k=7, by=["grp"]).collect()
    assert sorted(r.k for r in out) == sorted(r.k for r in out2)
    # es_key is monotone non-increasing in rank
    es = [r.es_key for r in sorted(out, key=lambda r: r.rk)]
    assert es == sorted(es, reverse=True)
    with pytest.raises(ValueError):
        weighted_sample_topk(df, "k", "w", k=0)


def test_pagerank_symmetry_and_sink(spark):
    from binance_futures_data_lake_spark.operators.graph import pagerank

    # 4-cycle: perfect symmetry -> identical ranks
    ring = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    rr = pagerank(ring, iters=3).collect()
    assert len({r.rank_micro for r in rr}) == 1
    # star 1->{2,3,4}, {2,3,4}->1: hub outranks leaves; mass ~conserved
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 1), (3, 1), (4, 1)], "src long, dst long"
    )
    sr = {r.id: r.rank_micro for r in pagerank(star, iters=4).collect()}
    assert sr[1] > sr[2] == sr[3] == sr[4]
    assert abs(sum(sr.values()) - 1_000_000) < 100  # div-floor loss only
    with pytest.raises(ValueError):
        pagerank(ring, iters=0)
    with pytest.raises(ValueError):
        pagerank(ring, damping_pct=100)
    # empty edge list: empty result frame with the contract schema, not
    # a ZeroDivisionError from micro div 0 (ADVICE r7)
    empty = pagerank(ring.filter(F.lit(False)))
    assert empty.columns == ["id", "rank_micro", "rank"]
    assert empty.count() == 0
    # LONG-overflow headroom (ADVICE r7): aggregate edge weight ~1e12 at
    # rank ~1e6 micro would wrap in LONG arithmetic; the DECIMAL(38,0)
    # intermediate must keep ranks exact. Two nodes, huge symmetric
    # weights -> identical ranks, mass conserved.
    heavy = spark.createDataFrame(
        [(1, 2, 2_000_000_000_000), (2, 1, 2_000_000_000_000)],
        "src long, dst long, w long",
    )
    hr = {r.id: r.rank_micro for r in
          pagerank(heavy, weight_col="w", iters=3).collect()}
    assert hr[1] == hr[2] and hr[1] > 0
    assert abs(sum(hr.values()) - 1_000_000) < 100


def test_snapshot_diff_statuses(spark):
    from binance_futures_data_lake_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3), (4, None, 4)],
        "id long, txt string, n long",
    )
    new = spark.createDataFrame(
        [(2, "b", 2), (3, "C", 3), (4, None, 4), (5, "e", 5)],
        "id long, txt string, n long",
    )
    st = {r.id: r.status for r in snapshot_diff(old, new, "id", ["txt", "n"]).collect()}
    assert st == {1: "removed", 2: "unchanged", 3: "changed",
                  4: "unchanged", 5: "added"}
    with pytest.raises(ValueError):
        snapshot_diff(old, new, "id", [])
    # NULL vs any literal string must differ — including the old "<NULL>"
    # sentinel text itself (ADVICE r7: type tag outside the value alphabet)
    o2 = spark.createDataFrame([(1, None), (2, "<NULL>")], "id long, txt string")
    n2 = spark.createDataFrame([(1, "<NULL>"), (2, None)], "id long, txt string")
    st2 = {r.id: r.status for r in snapshot_diff(o2, n2, "id", ["txt"]).collect()}
    assert st2 == {1: "changed", 2: "changed"}


def test_pq_codebooks_lloyd_recall_and_determinism(spark):
    """Flat PQ (one all-zero cell): Lloyd-trained vs seeded codebooks."""
    from pyspark.sql import functions as F

    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk,
        pq_ivf_adc_topk,
        pq_residual_codebooks,
        pq_residual_codebooks_lloyd,
    )

    # clustered corpus: 8 latent centers + noise — the shape where seeded
    # (whole-vector-slice) codebooks collapse onto cluster identity
    def h01(*cols):
        return (
            (F.xxhash64(*cols) % 1_000_003 + 1_000_003) % 1_000_003
        ) / 1_000_003.0

    clus = (F.col("vec_id") % 8).cast("int")
    comps = [
        (
            (2.0 * h01(clus, F.lit(f"c{j}")) - 1.0)
            + 0.4 * (2.0 * h01(F.col("vec_id"), F.lit(f"n{j}")) - 1.0)
        ).cast("float")
        for j in range(16)
    ]
    ann = (
        spark.range(4000)
        .select(F.col("id").alias("vec_id"))
        .withColumn("embedding", F.array(*comps))
        .cache()
    )
    q = ann.filter(F.col("vec_id") < 20)
    truth = {(r.q_id, r.neighbor_id) for r in brute_force_topk(ann, q, k=5).collect()}

    flat = [(0, [0] * 16)]

    def recall(books):
        got = {
            (r.q_id, r.neighbor_id)
            for r in pq_ivf_adc_topk(ann, q, flat, books, k=5, nprobe=1).collect()
        }
        return len(got & truth) / len(truth)

    seeded = pq_residual_codebooks(ann, flat, n_sub=4, ks=16)
    trained = pq_residual_codebooks_lloyd(ann, flat, n_sub=4, ks=16, iters=2)
    # shape contract: same as the seeded books, consumable by the same tiers
    assert len(trained) == 4 and len(trained[0]) == 16
    assert all(len(cw) == 4 for b in trained for cw in b)
    # Lloyd training must beat the seeded draw on clustered data
    assert recall(trained) > recall(seeded)
    # pure function of (corpus, params): bit-identical on re-run
    assert trained == pq_residual_codebooks_lloyd(ann, flat, n_sub=4, ks=16,
                                                  iters=2)
    ann.unpersist()


def test_pq_rerank_recall_floor_shortlist_scaled(spark):
    """Deploy-floor contract, RE-SCALED (VERDICT r8 #1): the r7 floor test
    ran shortlist=1000 against a 4,000-vector corpus — the shortlist
    covered 25% of the corpus, so its ">= 0.95" was near-vacuous. Here
    the corpus is 50k and the shortlists are 1000 (2%) and 2000 (4%);
    floors sit just under what this config MEASURABLY achieves on the
    deterministic generator (0.61 / 0.79), and the test pins the two
    properties a deployment actually relies on: exact re-rank recovers
    far above raw ADC recall, and recall is monotonically bought with
    shortlist. The headline deploy numbers are the 1M probe's
    (SCALE_PROBE_r9 pq_recall_1m: 64d, n_sub=16 × ks=256 trained books —
    ADC 0.125; rerank 0.89 @ 0.1%, 0.953 @ 0.2%, 0.99 @ 0.5% of corpus)."""
    from pyspark.sql import functions as F

    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk,
        pq_ivf_adc_topk,
        pq_ivf_rerank_topk,
        pq_residual_codebooks_lloyd,
    )

    def h01(*cols):
        return (
            (F.xxhash64(*cols) % 1_000_003 + 1_000_003) % 1_000_003
        ) / 1_000_003.0

    clus = (F.col("vec_id") % 8).cast("int")
    comps = [
        (
            (2.0 * h01(clus, F.lit(f"c{j}")) - 1.0)
            + 0.4 * (2.0 * h01(F.col("vec_id"), F.lit(f"n{j}")) - 1.0)
        ).cast("float")
        for j in range(16)
    ]
    ann = (
        spark.range(50_000)
        .select(F.col("id").alias("vec_id"))
        .withColumn("embedding", F.array(*comps))
        .cache()
    )
    q = ann.filter(F.col("vec_id") < 20)
    truth = {(r.q_id, r.neighbor_id) for r in brute_force_topk(ann, q, k=5).collect()}
    flat = [(0, [0] * 16)]
    trained = pq_residual_codebooks_lloyd(ann, flat, n_sub=4, ks=16, iters=2)

    def recall(df):
        got = {(r.q_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    def rerank(sl):
        return recall(pq_ivf_rerank_topk(ann, q, flat, trained, k=5,
                                         shortlist=sl, nprobe=1))

    adc = recall(pq_ivf_adc_topk(ann, q, flat, trained, k=5, nprobe=1))
    rr1000 = rerank(1000)
    rr2000 = rerank(2000)
    # rerank recovers far above raw ADC at a 2% shortlist
    assert adc <= 0.2 and rr1000 >= 0.5 and rr1000 >= adc + 0.3
    # recall is bought with shortlist — the deploy knob is monotone
    assert rr2000 >= 0.7 and rr2000 > rr1000
    ann.unpersist()
