"""Connected components over a pair list — the clustering step that turns
near-duplicate PAIRS into dedup CLUSTERS (one canonical doc kept per
component, the rest dropped).

Every dedup family in this repo (MinHash-LSH, SimHash, embedding-LSH)
emits pairs; a pipeline needs the transitive closure of those pairs: if
A~B and B~C, keeping "one of each pair" would keep two of {A,B,C}. The
standard fix is connected components with the min id as the cluster
label, then keep ``doc_id == cluster_id``.

One vectorized union-find kernel, :func:`_fragment_roots`, does every
in-memory step: it labels each node of a numpy edge list with its
fragment's root under the bijective splitmix64 order of
:func:`_mix64_vec`. It runs in three places: on the driver for small or
fully contracted edge lists, in a zero-shuffle round 0 over each input
partition, and in each round of an ITERATIVE EDGE CONTRACTION loop over
the hash-partitioned symmetric edge list. Edges relabel through each
round's node→root map and self-loops vanish, so the list SHRINKS
geometrically on any id layout (the large-star move of Kiveris et al.,
"Connected Components in MapReduce and Beyond", with the literature's
random-mate priorities).

The result is deterministic — min id per component — regardless of
iteration schedule or partitioning, which is what makes it
DuckDB-oracle-checkable (recursive-CTE transitive closure).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

# An edge list whose symmetric row count fits this bound is labelled on
# the driver: the loop costs seconds of job floors for work one core does
# in milliseconds (11 s -> 0.2 s for 1.2k edges at sf0.1).
DRIVER_MAX_EDGES = 500_000
# Contraction rounds before the non-convergence guard.
MAX_ROUNDS = 30
# The loop's shuffle width tracks the current edge count at this many
# edges per partition (floored at defaultParallelism, capped at 1024).
TARGET_EDGES_PER_PARTITION = 2_000_000

_INT_TYPES = ("bigint", "int", "smallint", "tinyint")


def _mix64_vec(ids):
    """BIJECTIVE 64-bit priority key for integer ids: the full splitmix64
    finalizer (no 63-bit mask — every xorshift/odd-multiply step is
    invertible mod 2^64), sign-bit-flipped so SIGNED int64 ordering
    equals unsigned-mix ordering. Bijective ⇒ no ties ⇒ the key alone is
    a total order AND uniquely determines the id — which is what lets the
    cross-partition root resolution be a plain codegen ``F.min(long)``,
    with the root id recovered by :func:`_unmix64_vec`."""
    z = ids.astype(np.int64, copy=False).view(np.uint64) + np.uint64(
        0x9E3779B97F4A7C15
    )
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return (z ^ np.uint64(1 << 63)).view(np.int64)


def _unmix64_vec(keys):
    """Exact inverse of :func:`_mix64_vec` (roundtrip pytest-pinned):
    un-flip the sign bit, invert each xorshift (shift ≥ 22 needs two
    unfold terms; shifts ≥ 64 vanish), multiply by the modular
    inverses of the odd constants (0x96DE1B173F119089 and
    0x319642B2D24D8EC3 = pow(C, -1, 2**64)), subtract the golden
    increment."""
    z = keys.view(np.uint64) ^ np.uint64(1 << 63)
    z = z ^ (z >> np.uint64(31)) ^ (z >> np.uint64(62))
    z = z * np.uint64(0x319642B2D24D8EC3)
    z = z ^ (z >> np.uint64(27)) ^ (z >> np.uint64(54))
    z = z * np.uint64(0x96DE1B173F119089)
    z = z ^ (z >> np.uint64(30)) ^ (z >> np.uint64(60))
    z = z - np.uint64(0x9E3779B97F4A7C15)
    return z.view(np.int64)


def _fragment_roots(u, v):
    """The union-find kernel: label every node of the edge list ``(u, v)``
    with its connected fragment's key-minimum member under the bijective
    :func:`_mix64_vec` order. Returns ``(ids, keys, root_idx)`` — the
    distinct node ids, their mix keys, and per node the index into
    ``ids`` of its root. Exactness is pinned by
    tests/test_graph.py::test_vectorized_kernel_matches_reference
    against an independent keyed union-find.

    Mechanics: compact ids to 0..m-1 (np.unique with return_inverse —
    measured 2.5× faster than unique + searchsorted, whose random
    binary searches are cache-hostile at millions of lookups), rank
    nodes by mix key (bijective ⇒ argsort needs no tiebreak), then
    alternate (a) edge relaxation (``np.minimum.at`` both directions),
    (b) pointer-jumping closure (``r = r[order[r]]``, monotone since a
    node's best-known rank only decreases), and (c) EDGE CONTRACTION —
    relabel edges to current roots, drop self-loops, dedupe — so each
    subsequent pass touches a geometrically smaller list (4 passes on a
    scattered-random partition, only the first at full width).
    Terminates when the contracted list is empty; at the fixpoint r[i]
    is the min rank in i's component — the same root a union-find
    keyed by the same order converges to."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    keys = _mix64_vec(ids)
    m = int(ids.size)
    order = np.argsort(keys)
    r = np.empty(m, dtype=np.int64)
    r[order] = np.arange(m, dtype=np.int64)
    eu = inv[: u.shape[0]].astype(np.int64, copy=False)
    ev = inv[u.shape[0]:].astype(np.int64, copy=False)
    while eu.size:
        np.minimum.at(r, eu, r[ev])
        np.minimum.at(r, ev, r[eu])
        while True:  # pointer jumping to closure (pure fancy-indexing)
            r2 = r[order[r]]
            if np.array_equal(r2, r):
                break
            r = r2
        ea, eb = order[r[eu]], order[r[ev]]
        live = ea != eb
        if live.any():
            # ea·m + eb < m² < 2^63 for any m below 3e9 nodes
            key = np.unique(ea[live] * m + eb[live])
            eu, ev = key // m, key % m
        else:
            eu = ev = np.empty(0, dtype=np.int64)
    return ids, keys, order[r]


def _minrank_nonroot_rows(u, v):
    """Loop-round rows: ``(node, rkey)`` for every non-root node, where
    ``rkey`` is its ROOT's mix key — it both orders the cross-partition
    resolution and identifies the root."""
    ids, keys, root_idx = _fragment_roots(u, v)
    nonroot = root_idx != np.arange(ids.size)
    return ids[nonroot], keys[root_idx[nonroot]]


def _component_min(u, v):
    """Driver labels: every node of the edge list and the min id of its
    component."""
    ids, _, root_idx = _fragment_roots(u, v)
    comp = ids.copy()
    np.minimum.at(comp, root_idx, ids)
    return ids, comp[root_idx]


def _partition_edges(batches):
    """One partition's Arrow batches as two numpy id arrays, or None when
    it is empty. ``to_numpy`` on an Arrow int column is a buffer view, not
    a per-row conversion (iterating pandas batches cost ~27 s/worker vs
    ~2 s on the scattered-10M probe)."""
    us, vs = [], []
    for rb in batches:
        if rb.num_rows:
            us.append(rb.column(0).to_numpy(zero_copy_only=False))
            vs.append(rb.column(1).to_numpy(zero_copy_only=False))
    if not us:
        return None
    return np.concatenate(us), np.concatenate(vs)


def _round0_rows(batches):
    """``(node, fragment root)`` for every node of the partition, roots
    included as identity rows."""
    import pyarrow as pa

    uv = _partition_edges(batches)
    if uv is not None:
        ids, _, root_idx = _fragment_roots(*uv)
        yield pa.record_batch(
            [pa.array(ids), pa.array(ids[root_idx])], names=["node", "root"]
        )


def _loop_rows(batches):
    """:func:`_minrank_nonroot_rows` over one hash partition of the loop's
    symmetric edge list."""
    import pyarrow as pa

    uv = _partition_edges(batches)
    if uv is not None:
        node, rkey = _minrank_nonroot_rows(*uv)
        yield pa.record_batch(
            [pa.array(node), pa.array(rkey)], names=["node", "rkey"]
        )


def _unmix_rows(batches):
    import pyarrow as pa

    for rb in batches:
        if rb.num_rows:
            keys = rb.column(1).to_numpy(zero_copy_only=False)
            yield pa.record_batch(
                [rb.column(0), pa.array(_unmix64_vec(keys))],
                names=["node", "root"],
            )


def _driver_labels(
    edges: DataFrame, id_type: str, node: str = "id", label: str = "comp"
) -> DataFrame:
    """Collect a bounded edge list as Arrow and label it on the driver:
    one ``(node, label)`` row per node, ``label`` its component min id."""
    import pandas as pd

    t = edges.toArrow()
    ids, comp = _component_min(t.column(0).to_numpy(), t.column(1).to_numpy())
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({node: ids, label: comp}),
        f"{node} {id_type}, {label} {id_type}",
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    prepass: bool = True,
    on_round=None,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the min node id
    of its component. Output: ``id, comp`` — one row per node that
    appears in at least one edge (callers union in isolated nodes). Ids
    must be integral; any other id type raises ``TypeError``.

    An edge list whose raw symmetric row count (2× the input rows,
    duplicate pairs included) fits ``DRIVER_MAX_EDGES`` is labelled on
    the driver; a near-dup pair list is almost always orders smaller than
    its corpus. Larger lists take the distributed path:

    - **Round 0** (``prepass=True``): the kernel runs over each
      UNSHUFFLED input partition and emits ``(node, fragment root)`` for
      every node. ONE ``groupBy(node)`` resolves ``m0`` (node → min local
      root) and, from ``collect_set(root)``, the CONFLICT edges linking a
      node's other local roots to it. Components of the conflict graph
      composed with m0 are exactly the input's components (two-level
      union-find), so only the conflict list — sized by cross-partition
      structure, not the input — enters the loop. This pays on dup-heavy
      or locality-rich pair lists (banded LSH output; the 100M chain
      probe went 747 → 373 s and its spill 37.6 GB → 0) but folds nothing
      on a distinct scattered graph (+53% on a 1M-node/3M-edge random
      graph), so ``similarity.knn_graph_components`` passes
      ``prepass=False`` and the loop starts on the symmetric raw list.
      Results are identical either way (parity pytest).
    - **Contraction loop**: per round, ONE shuffle of the edge list by
      source to ``n_edges / TARGET_EDGES_PER_PARTITION`` partitions, the
      kernel emitting ``(node, root key)`` for non-roots, a codegen
      ``F.min(long)`` resolving each node's root across partitions
      (:func:`_unmix64_vec` recovers the id), and a relabel join. Roots
      are chosen by hash priority, not min id: min-id contraction has a
      fixed point on monotone-id chains (a consecutive chain relabels to
      itself shifted by 2; a 1M-node probe of 10k-long chains stalled at
      ~400 edges/round). The mapping strictly decreases the key, so it
      stays acyclic. Each round's edge list persists MEMORY_AND_DISK and
      the previous one unpersists. The loop stops once the list fits
      ``DRIVER_MAX_EDGES`` and the driver labels the survivors; a list
      still too large to collect after ``MAX_ROUNDS`` raises.
    - **Labels**: the per-round maps compose BACKWARD from the last round
      (geometrically shrinking joins), ONE node-sized join applies m0,
      and one ``groupBy(root).min(id)`` normalizes the hash-chosen roots
      to the component min id.

    ``on_round`` (instrumentation only) is called after round 0 and after
    each loop round with ``{"round", "n_edges", "width", "sec"}``; scale
    probes attach shuffle/spill deltas per round.
    """
    import time

    from pyspark import StorageLevel

    # checkpoint the directed list: the plan below reads it more than
    # once, and upstream pair generation (banded joins, GEMM stages) is
    # usually the expensive part. Round 0 needs no .distinct() and no
    # symmetrized copy: the kernel is duplicate- and direction-insensitive.
    base = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    id_type = dict(base.dtypes)["u"]
    if id_type not in _INT_TYPES:
        raise TypeError(
            f"connected_components needs integral ids, got {src}/{dst}: {id_type}"
        )

    n_raw = base.count()
    if 0 < DRIVER_MAX_EDGES and 2 * n_raw <= DRIVER_MAX_EDGES:
        return _driver_labels(base, id_type)

    t0 = time.perf_counter()
    if prepass:
        raw0 = base.mapInArrow(_round0_rows, f"node {id_type}, root {id_type}")
        # ONE node-sized exchange resolves the round-0 map AND derives the
        # conflict edges; dom(m0) is every node that appears in any edge
        res0 = (
            raw0.groupBy("node")
            .agg(
                F.min("root").alias("root"),
                F.collect_set("root").alias("all_roots"),
            )
            .localCheckpoint(eager=False)
        )
        m0 = res0.select("node", "root")
        e1 = res0.select(
            F.explode("all_roots").alias("u"), F.col("root").alias("v")
        ).filter(F.col("u") != F.col("v"))
        sym = e1.union(
            e1.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint(eager=False)
    else:
        # loop straight on the symmetric raw list; m0 is the identity map
        # over the node set, built AFTER the loop — a lazily-checkpointed
        # frame created here would materialize concurrently with (and
        # throttle) round 1's kernel stage
        sym = base.union(
            base.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint(eager=False)
        m0 = None
    n_edges = sym.count()
    if on_round is not None:
        on_round({
            "round": 0, "n_edges": n_edges,
            "width": base.rdd.getNumPartitions(),
            "sec": round(time.perf_counter() - t0, 3),
        })

    # per-round node->root mapping tables; composed BACKWARD after the
    # loop instead of maintaining a node-sized label table through every
    # round
    maps: list[DataFrame] = []
    min_width = base.sparkSession.sparkContext.defaultParallelism
    cur = sym
    prev_persisted = None
    round_no = 0
    while n_edges > DRIVER_MAX_EDGES and round_no < MAX_ROUNDS:
        t0 = time.perf_counter()
        # one shuffle: all of a node's edges land together (sym holds
        # both directions, so partitioning by u co-locates full
        # neighborhoods -> whole dense components contract in one pass)
        width = max(
            min_width, min(1024, -(-n_edges // TARGET_EDGES_PER_PARTITION))
        )
        m = (
            cur.repartition(width, "u")
            .mapInArrow(_loop_rows, f"node {id_type}, rkey long")
            .groupBy("node")
            .agg(F.min("rkey").alias("rkey"))
            .mapInArrow(_unmix_rows, f"node {id_type}, root long")
        )
        if id_type != "bigint":
            m = m.select("node", F.col("root").cast(id_type).alias("root"))
        m = m.localCheckpoint(eager=False)
        maps.append(m)
        ru = m.withColumnRenamed("node", "u").withColumnRenamed("root", "ru")
        rv = m.select(F.col("node").alias("v"), F.col("root").alias("rv"))
        nxt = (
            cur.join(ru, "u", "left")
            .join(rv, "v", "left")
            .select(
                F.coalesce("ru", "u").alias("u"),
                F.coalesce("rv", "v").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_edges = nxt.count()  # materializes nxt AND this round's m
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = cur = nxt
        round_no += 1
        if on_round is not None:
            on_round({
                "round": round_no, "n_edges": n_edges, "width": width,
                "sec": round(time.perf_counter() - t0, 3),
            })
    fin = None
    if n_edges:
        # a non-converged run must fail loudly, not OOM the driver
        collect_cap = max(DRIVER_MAX_EDGES, 5_000_000)
        if n_edges > collect_cap:
            raise RuntimeError(
                f"connected_components did not converge: {n_edges} edges"
                f" remain after {round_no} rounds (MAX_ROUNDS={MAX_ROUNDS}),"
                f" above the driver collect bound {collect_cap}; raise"
                " graph.MAX_ROUNDS or graph.DRIVER_MAX_EDGES"
            )
        fin = _driver_labels(cur, id_type, "cur", "fcomp")
    if prev_persisted is not None:
        # the survivor edge list is collected (or empty); nothing reads it
        # again — the labels below derive from sym + maps + fin only
        prev_persisted.unpersist()
    if m0 is None:
        m0 = (
            sym.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("root", F.col("node"))
            .localCheckpoint(eager=False)
        )
    # backward composition of the LOOP maps: g_i(x) = "apply m_i, then
    # m_{i+1..K}" — g = m_K; then per earlier round, remap m_i's roots
    # through g and union in g's rows outside dom(m_i). Every join is
    # mapping-sized (geometric, conflict-edge scale), never node-sized.
    g = None
    for m in reversed(maps):
        if g is None:
            g = m
            continue
        remapped = (
            m.join(
                g.select(F.col("node").alias("root"), F.col("root").alias("g_root")),
                "root",
                "left",
            )
            .select("node", F.coalesce("g_root", "root").alias("root"))
        )
        rest = g.join(m.select("node"), "node", "left_anti")
        g = remapped.unionByName(rest).localCheckpoint(eager=False)
    # apply the round-0 map LAST. dom(m0) is exactly the node set
    # (identity rows included), so labels come straight off m0 in the
    # single node-sized composition join. Loop-map domains are local
    # roots, all of which appear in m0's node column, so no rest branch.
    if g is not None:
        labels = (
            m0.join(
                g.select(F.col("node").alias("root"), F.col("root").alias("g_root")),
                "root",
                "left",
            )
            .select(
                F.col("node").alias("id"),
                F.coalesce("g_root", "root").alias("cur"),
            )
        )
    else:
        labels = m0.select(
            F.col("node").alias("id"), F.col("root").alias("cur")
        )
    if fin is not None:
        labels = labels.join(F.broadcast(fin), "cur", "left").select(
            "id", F.coalesce("fcomp", "cur").alias("cur")
        )
    labels = labels.localCheckpoint(eager=False)  # read twice below
    # normalize hash-chosen roots to the component MIN ID (the contract
    # every consumer and the oracle rely on): one node-sized agg + join
    mins = labels.groupBy("cur").agg(F.min("id").alias("comp"))
    return labels.join(mins, "cur").select("id", "comp")


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Assign every document to a dedup cluster given near-dup ``pairs``.

    Output: ``doc_id, cluster_id, is_canonical, cluster_size`` — the
    min doc id of the component labels the cluster, the doc carrying
    that id is the canonical survivor, docs with no near-dup are their
    own singleton cluster. Downstream dedup is then
    ``filter(is_canonical = 1)``.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    out = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("comp"), F.col("doc_id")))
        .drop("comp")
    )
    sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        out.join(sizes, "cluster_id")
        .withColumn(
            "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("int")
        )
        .select("doc_id", "cluster_id", "is_canonical", "cluster_size")
    )


def cluster_holdout_split(
    clustered: DataFrame,
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Leakage-free train/val/test split: the WHOLE near-dup cluster goes
    to one side, so no document ever shares a near-duplicate across the
    train/eval boundary (the standard contamination failure of row-level
    random splits). Deterministic md5 bucket of cluster_id — engine-
    portable (same '0x'||substr(md5(..)) idiom as textdedup.token_hash)
    and stable across runs/partitionings.

    Input: dedup_clusters output (doc_id, cluster_id, ...). Output adds
    ``split_bucket`` (0-99) and ``split``.
    """
    if not (0 <= val_pct and 0 <= test_pct and val_pct + test_pct < 100):
        raise ValueError("val_pct/test_pct must be >= 0 and sum below 100")
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return clustered.withColumn("split_bucket", bucket.cast("int")).withColumn("split", split)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iters: int = 3,
    damping_pct: int = 85,
    micro: int = 1_000_000,
) -> DataFrame:
    """Weighted PageRank with EXACT-INTEGER arithmetic — the graph
    centrality pass of a crawl-quality stack (OPIC/harmonic-centrality
    style source weighting), unrolled to a fixed ``iters`` so the whole
    computation is replayable relational algebra.

    Everything runs in integer micro-units (1e-6 of probability mass):
    ``rank0 = micro div n``; each iteration moves
    ``(rank·damping_pct·w) div (100·W_u)`` along every edge (W_u = the
    source's total out-weight), redistributes dangling mass
    ``(D·damping_pct) div (100·n)`` uniformly, and adds the teleport
    ``(micro·(100−damping_pct)) div (100·n)``. Integer division makes
    every iteration order-INDEPENDENT and engine-exact — no float sum
    anywhere, so (unlike float PageRank) the result is bit-identical
    across engines, partitionings and aggregation orders by
    construction; the ≤ n·iters micro-units lost to div-flooring are
    part of the operator's defined semantics, not error.

    Scale shape: per iteration ONE shuffle join of the edge list against
    the |nodes|-row rank table plus a groupBy-sum (partial-aggregated
    map-side); the dangling scalar rides a broadcast of a 1-row
    aggregate, never a driver collect. ``iters`` is a constant — plan
    depth does not grow with data.

    Output: ``id, rank_micro`` (LONG) + ``rank`` (6-dp float view).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not (0 < damping_pct < 100):
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    from binance_futures_data_lake_spark.functions.scalars import round6

    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), w.alias("w"))
        .groupBy("u", "v")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # one bounded driver scalar (|nodes| is the contract)
    if n == 0:
        # Empty edge list => empty graph. Return an empty frame with the
        # contract schema instead of dividing micro by zero below.
        return nodes.select(
            "id",
            F.lit(None).cast("long").alias("rank_micro"),
            F.lit(None).cast("double").alias("rank"),
        )
    # Barrier the loop inputs and each iteration's rank table: a Spark
    # plan is a TREE, so the three references to r per iteration (edge
    # join, dangling anti-join, next-rank assembly) would re-evaluate
    # the whole previous iteration ~3^iters times without a checkpoint
    # (measured 98 exchanges at iters=3 -> 20 with barriers; the
    # curation_planning_pipeline lesson applied to iteration).
    ew = e.join(outw := e.groupBy("u").agg(
        F.sum("w").cast("long").alias("w_out")), "u").localCheckpoint(eager=False)
    outw = outw.localCheckpoint(eager=False)
    tele = (micro * (100 - damping_pct)) // (100 * n)
    # r13 closed negative (VERDICT r12 #5, measured and REVERTED): a
    # static dangling FLAG on the node table plus a per-iteration 1-row
    # driver collect of the dangling mass (replacing the anti-join +
    # broadcast build) cuts jobs 13 -> 11 but REGRESSES the wall 1.82 ->
    # 2.40 s at sf0.1: the dang BroadcastExchange jobs are submitted as
    # ASYNC futures that overlap the driver's per-iteration planning,
    # while a collect is a synchronous barrier per iteration. Job COUNT
    # is not the cost — driver-side plan/optimize gaps are, and those are
    # serialized either way. Keep the broadcast form.
    r = nodes.withColumn("r", F.lit(micro // n).cast("long"))
    for _ in range(iters):
        contrib = (
            ew.join(r.withColumnRenamed("id", "u"), "u")
            .select(
                F.col("v").alias("id"),
                # DECIMAL(38,0) intermediate: r <= micro (1e6) and
                # damping_pct < 100, so the product fits 38 digits for ANY
                # LONG edge weight — LONG arithmetic would silently wrap
                # (non-ANSI) once aggregate w exceeded ~1.1e11 at r≈1e6.
                # Same floored-div semantics, so ranks are bit-identical
                # wherever LONG did not overflow.
                F.expr(
                    f"CAST((CAST(r AS DECIMAL(38,0)) * {damping_pct} * w)"
                    f" div (100 * w_out) AS LONG)"
                ).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").cast("long").alias("cs"))
        )
        dang = (
            r.join(outw.select(F.col("u").alias("id")), "id", "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dmass"))
        )
        r = (
            nodes.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit(tele)
                    + F.expr(f"CAST((dmass * {damping_pct}) div (100 * {n}) AS LONG)")
                    + F.coalesce(F.col("cs"), F.lit(0))
                ).cast("long").alias("r"),
            )
        ).localCheckpoint(eager=False)
    return r.select(
        "id",
        F.col("r").alias("rank_micro"),
        round6(F.col("r") / F.lit(1e6)).alias("rank"),
    )
