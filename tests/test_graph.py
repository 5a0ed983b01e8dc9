"""Connected-components dedup clustering (operators/graph.py): label
propagation correctness on known graphs, determinism under edge
orientation/partitioning, and the pairs→clusters pipeline on the
documents table (reference emits per-pair dups only — clustering is the
step a real dedup pipeline needs on top; see textdedup.py docstring)."""

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators import graph
from binance_futures_data_lake_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from binance_futures_data_lake_spark.operators.textdedup import exact_jaccard_pairs
from binance_futures_data_lake_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _labels(df):
    return {r.id: r.comp for r in df.collect()}


def test_cc_basic_components(spark):
    lab = _labels(connected_components(_edges(spark, [(1, 2), (2, 3), (5, 6)])))
    assert lab == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_cc_chain_diameter_gt_one(spark):
    """A 6-node path needs multiple propagation rounds — exercises the
    iteration + convergence check, not just the first join."""
    lab = _labels(connected_components(_edges(spark, [(i, i + 1) for i in range(1, 6)])))
    assert lab == {i: 1 for i in range(1, 7)}


def test_cc_orientation_invariant(spark):
    """Min-label result is independent of edge direction: (a,b) vs (b,a)."""
    fwd = _labels(connected_components(_edges(spark, [(1, 2), (3, 2), (7, 9), (9, 8)])))
    rev = _labels(connected_components(_edges(spark, [(2, 1), (2, 3), (9, 7), (8, 9)])))
    assert fwd == rev == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_cc_star_and_cycle(spark):
    edges = [(10, i) for i in (11, 12, 13)] + [(20, 21), (21, 22), (22, 20)]
    lab = _labels(connected_components(_edges(spark, edges)))
    assert lab == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_with_singletons(spark, monkeypatch):
    """Pairs → clusters with singletons, and an empty pair list → all
    singletons, on the driver path and on the distributed path."""
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    cases = [
        (
            [(1, 2), (2, 3), (5, 6)],
            {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7},
            {1: 3, 2: 3, 3: 3, 4: 1, 5: 2, 6: 2, 7: 1},
            {1, 4, 5, 7},
        ),
        ([], {d: d for d in range(1, 8)}, {d: 1 for d in range(1, 8)},
         set(range(1, 8))),
    ]
    for dme in (graph.DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", dme)
        for pairs, clusters, sizes, canon in cases:
            out = dedup_clusters(docs, _edges(spark, pairs))
            rows = {r.doc_id: r for r in out.collect()}
            assert {d: r.cluster_id for d, r in rows.items()} == clusters
            assert {d: r.cluster_size for d, r in rows.items()} == sizes
            assert {d for d, r in rows.items() if r.is_canonical == 1} == canon


def test_dedup_clusters_on_documents_transitive(spark):
    """Pipeline check on real testdata: every cluster's docs are connected
    through near-dup pairs, survivors = one per cluster, and keeping
    is_canonical docs removes exactly (n_docs - n_clusters) rows."""
    docs = load_table(spark, "documents", SF)
    pairs = exact_jaccard_pairs(docs, threshold=0.5).cache()
    out = dedup_clusters(docs, pairs).cache()
    n_docs = docs.count()
    assert out.count() == n_docs
    n_clusters = out.select("cluster_id").distinct().count()
    assert out.filter(F.col("is_canonical") == 1).count() == n_clusters
    # cluster label is the min doc_id of the cluster
    bad = (
        out.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("lo"))
        .filter(F.col("lo") != F.col("cluster_id"))
        .count()
    )
    assert bad == 0
    # every near-dup pair ends up in the same cluster (transitivity floor)
    c = out.select("doc_id", "cluster_id")
    joined = (
        pairs.join(c.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca"), "doc_a")
        .join(c.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb"), "doc_b")
    )
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0
    pairs.unpersist()
    out.unpersist()


def test_exact_jaccard_pairs_matches_arrayop_truth(spark):
    """Inverted-index Jaccard == brute-force array-intersect Jaccard."""
    from binance_futures_data_lake_spark.operators.textdedup import (
        shingles_of_tokens,
        words,
    )

    docs = load_table(spark, "documents", SF)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    sh = docs.select("doc_id", shingles_of_tokens(words(F.col("text")), 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    truth = {
        (r.doc_a, r.doc_b): r.j
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("j", jac)
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    assert set(got) == set(truth)
    for k, v in truth.items():
        assert got[k] == pytest.approx(v, abs=1e-6)


def test_cc_distributed_multi_round_composition(spark, monkeypatch):
    """r9 rewrite contract: several contraction rounds + the BACKWARD
    label-map composition must reproduce the driver union-find exactly,
    on the adversarial monotone-consecutive-id chains, both with the
    loop running dry (DRIVER_MAX_EDGES=0) and with the mid-loop driver
    short-circuit finishing a partially-contracted survivor list."""
    edges = [
        (i, i + 1)
        for base in (0, 1000, 2000)
        for i in range(base, base + 199)
    ]
    df = _edges(spark, edges)
    truth = _labels(connected_components(df))
    assert truth[199] == 0 and truth[1199] == 1000 and truth[2199] == 2000
    # full distributed contraction (no short-circuit anywhere)
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    assert _labels(connected_components(df)) == truth
    # several distributed rounds, then the driver finish on survivors
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 50)
    assert _labels(connected_components(df)) == truth


def test_cc_distributed_string_ids(spark):
    """Ids must be integral (every caller passes int64 doc/vec ids): a
    string id column is rejected up front rather than mislabelled."""
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    with pytest.raises(TypeError, match="integral ids"):
        connected_components(df)


def test_connected_components_prepass_parity(spark, monkeypatch):
    """prepass=True (round-0 local pre-contraction) and prepass=False
    (the r9 shape: loop straight on the symmetric raw list) must be
    bit-identical — same components, min-id labels, one row per node —
    on a graph that exercises dup pairs, chains, a dense clique, and
    isolated-pair structure, on BOTH the driver short-circuit and the
    distributed path."""
    rows = (
        [(i, i + 1) for i in range(0, 40)]          # chain
        + [(100 + a, 100 + b) for a in range(6) for b in range(a)]  # clique
        + [(200, 201), (201, 200), (200, 201)]       # dup + reversed pairs
        + [(300, 301)]
    )
    edges = spark.createDataFrame(rows, "doc_a long, doc_b long")
    for dme in (500_000, 0):  # driver short-circuit and distributed loop
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", dme)
        on = _labels(connected_components(edges, prepass=True))
        off = _labels(connected_components(edges, prepass=False))
        assert on == off
        assert on[40] == 0 and on[105] == 100 and on[201] == 200
        assert on[301] == 300


def test_vectorized_kernel_matches_reference():
    """The one union-find kernel (min-rank propagation with edge
    contraction under the bijective _mix64_vec order) must agree with an
    INDEPENDENT keyed union-find on every adversarial shape, including
    negative ids and duplicate/self-loop rows: the loop-round rows are
    EXACTLY its non-root set ((node, rkey of the fragment's key-min
    member)), and _fragment_roots gives every node its component's min
    id. _unmix64_vec must invert _mix64_vec bit-exactly."""
    import numpy as np

    from binance_futures_data_lake_spark.operators.graph import (
        _fragment_roots,
        _minrank_nonroot_rows,
        _mix64_vec,
        _unmix64_vec,
    )

    def reference_mins(u, v):
        ids = sorted(set(u.tolist()) | set(v.tolist()))
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(u.tolist(), v.tolist()):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in ids}

    def kernel_mins(u, v):
        ids, _, root_idx = _fragment_roots(u, v)
        lo = {}
        for n, r in zip(ids.tolist(), root_idx.tolist()):
            lo[r] = min(lo.get(r, n), n)
        return {n: lo[r] for n, r in zip(ids.tolist(), root_idx.tolist())}

    def reference_rows(u, v):
        ids = sorted(set(u.tolist()) | set(v.tolist()))
        key = dict(zip(ids, _mix64_vec(np.array(ids, dtype=np.int64)).tolist()))
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(u.tolist(), v.tolist()):
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            if key[rb] < key[ra]:
                ra, rb = rb, ra
            parent[rb] = ra
        return {(n, key[find(n)]) for n in ids if find(n) != n}

    rng = np.random.RandomState(7)
    cases = {
        "random": (rng.randint(0, 2000, 5000), rng.randint(0, 2000, 5000)),
        "chain": (np.arange(0, 9999), np.arange(1, 10000)),
        "star": (np.zeros(1000, dtype=np.int64), np.arange(1, 1001)),
        "dups": (np.array([1, 1, 1, 2, 2]), np.array([2, 2, 2, 3, 3])),
        "selfloop": (np.array([5, 6, 7]), np.array([5, 6, 8])),
        "negative": (rng.randint(-1000, 1000, 3000),
                     rng.randint(-1000, 1000, 3000)),
        "single": (np.array([42]), np.array([7])),
        "bipartite-cliques": (np.repeat(np.arange(100), 100),
                              np.tile(np.arange(100), 100) + 100000),
    }
    for name, (u, v) in cases.items():
        u = u.astype(np.int64)
        v = v.astype(np.int64)
        node, rkey = _minrank_nonroot_rows(u, v)
        assert set(zip(node.tolist(), rkey.tolist())) == reference_rows(u, v), name
        assert kernel_mins(u, v) == reference_mins(u, v), name
    # mix/unmix bijection roundtrip incl. negatives and extremes
    xs = np.array([0, 1, -1, 2**62, -(2**62), 2**63 - 1, -(2**63),
                   12345, -98765], dtype=np.int64)
    assert np.array_equal(_unmix64_vec(_mix64_vec(xs)), xs)
    # signed key order == unsigned mix order (the sign-flip contract)
    ks = _mix64_vec(xs)
    unsigned = ks.view(np.uint64) ^ np.uint64(1 << 63)
    assert np.array_equal(np.argsort(ks), np.argsort(unsigned))
