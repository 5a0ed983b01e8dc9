"""Connected components over a pair list — the clustering step that turns
near-duplicate PAIRS into dedup CLUSTERS (one canonical doc kept per
component, the rest dropped).

Every dedup family in this repo (MinHash-LSH, SimHash, embedding-LSH)
emits pairs; a pipeline needs the transitive closure of those pairs: if
A~B and B~C, keeping "one of each pair" would keep two of {A,B,C}. The
standard fix is connected components with the min id as the cluster
label, then keep ``doc_id == cluster_id``.

Algorithm (r7 rewrite, r8 hash priorities, r10 local pre-contraction):
a ZERO-SHUFFLE round 0 runs an in-partition union-find over the
UNSHUFFLED directed edge list (the standard two-level CC move),
emitting one ``(node, local_root)`` row per node per partition; a
single ``groupBy(node)`` resolves each node's minimum local root AND
derives the quotient "conflict" edges that link a node's other local
roots to it. Only that conflict-edge list — sized by the CROSS-
partition structure, not the input — enters the ITERATIVE EDGE
CONTRACTION loop: each round hash-partitions the symmetric edge list
by source and runs an in-partition union-find (one ``mapInPandas``
pass, the (splitmix64-priority, id)-min member as local root), giving
a strictly-(prio, id)-decreasing node→root mapping; edges relabel
through the mapping and self-loops vanish, so the edge list SHRINKS
geometrically on any id layout (a neighborhood contracts to its
priority-min in one round — the large-star move of Kiveris et al.,
"Connected Components in MapReduce and Beyond", with the literature's
random-mate priorities; plain min-id roots have a shift fixed point on
monotone-id chains, see connected_components). A final node-sized agg
normalizes labels to the component min id. As soon as
the surviving edge list fits ``driver_max_edges`` a driver union-find
finishes the job; with the short-circuit disabled the loop runs to an
empty edge list. This replaced min-label propagation + path-halving,
whose per-round join/agg/checkpoint jobs cost 1013 s at the 1M-node
mutual-kNN probe — propagation moves labels one hop (log d with
halving) but never shrinks the data; contraction removes the work
itself.

The result is deterministic — min id per component — regardless of
iteration schedule or partitioning, which is what makes it
DuckDB-oracle-checkable (recursive-CTE transitive closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _prio(x) -> int:
    """Deterministic 63-bit priority: splitmix64 for integral ids, md5
    otherwise. Only used for ORDERING — the ordering must merely be a
    fixed total order uncorrelated with id layout."""
    if isinstance(x, int):
        z = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return (z ^ (z >> 31)) & 0x7FFFFFFFFFFFFFFF
    import hashlib

    return (
        int.from_bytes(hashlib.md5(str(x).encode()).digest()[:8], "big") >> 1
    )


def _mix64_vec(ids):
    """BIJECTIVE 64-bit priority key for integer ids (r12): the full
    splitmix64 finalizer (no 63-bit mask — every xorshift/odd-multiply
    step is invertible mod 2^64), sign-bit-flipped so SIGNED int64
    ordering equals unsigned-mix ordering. Bijective ⇒ no ties ⇒ the
    key alone is a total order AND uniquely determines the id — which
    is what lets the cross-partition root resolution be a plain
    codegen ``F.min(long)`` instead of a ``min(struct)`` object
    aggregate, with the root id recovered by :func:`_unmix64_vec`."""
    import numpy as np

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
    import numpy as np

    z = keys.view(np.uint64) ^ np.uint64(1 << 63)
    z = z ^ (z >> np.uint64(31)) ^ (z >> np.uint64(62))
    z = z * np.uint64(0x319642B2D24D8EC3)
    z = z ^ (z >> np.uint64(27)) ^ (z >> np.uint64(54))
    z = z * np.uint64(0x96DE1B173F119089)
    z = z ^ (z >> np.uint64(30)) ^ (z >> np.uint64(60))
    z = z - np.uint64(0x9E3779B97F4A7C15)
    return z.view(np.int64)


def _minrank_nonroot_rows(u, v):
    """Vectorized in-partition fragment labeling (r12 — the loop-round
    kernel behind VERDICT r11 #2): label every node of the edge list
    ``(u, v)`` with its connected fragment's key-minimum member under
    the bijective :func:`_mix64_vec` order and return the non-root rows
    ``(node, rkey)`` — ``rkey`` is the ROOT's mix key, which both
    orders the cross-partition resolution (plain codegen
    ``F.min(long)``) and uniquely identifies the root
    (:func:`_unmix64_vec` recovers the id). Exactness is pinned by
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
    import numpy as np
    import pandas as pd

    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu = inv[: u.shape[0]]
    iv = inv[u.shape[0]:]
    keys = _mix64_vec(ids)
    m = int(ids.size)
    order = np.argsort(keys)
    rank = np.empty(m, dtype=np.int64)
    rank[order] = np.arange(m, dtype=np.int64)
    r = rank.copy()
    eu, ev = iu.astype(np.int64, copy=False), iv.astype(np.int64, copy=False)
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
            # m ≤ 2·edges ≤ ~8M per partition, so ea·m + eb < 2^63
            key = np.unique(ea[live] * m + eb[live])
            eu, ev = key // m, key % m
        else:
            eu = ev = np.empty(0, dtype=np.int64)
    root_idx = order[r]
    nonroot = root_idx != np.arange(m, dtype=np.int64)
    return pd.DataFrame({
        "node": ids[nonroot],
        "rkey": keys[root_idx[nonroot]],
    })


def _dict_uf_nonroot_rows(us, vs):
    """Dict union-find fallback for NON-INTEGER ids (md5 priorities
    aren't vectorizable): same output contract as
    :func:`_minrank_nonroot_rows`."""
    import pandas as pd

    parent: dict = {}
    prio: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def key(x):
        p = prio.get(x)
        if p is None:
            p = prio[x] = _prio(x)
        return (p, x)

    for su, sv in zip(us, vs):
        for u, v in zip(su.tolist(), sv.tolist()):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru == rv:
                continue
            if key(rv) < key(ru):
                ru, rv = rv, ru
            parent[rv] = ru
    nodes = [n for n in parent if find(n) != n]
    roots = [parent[n] for n in nodes]
    return pd.DataFrame(
        {"node": nodes, "root": roots, "root_prio": [key(r)[0] for r in roots]}
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 15,
    driver_max_edges: int = 500_000,
    target_edges_per_partition: int = 2_000_000,
    prepass_flush_nodes: int = 8_000_000,
    prepass: bool = True,
    on_round=None,
    on_stage=None,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the min node id
    of its component. Output: ``id, comp`` — one row per node that
    appears in at least one edge (callers union in isolated nodes).

    Graphs whose RAW symmetric row count (2× the input rows, duplicate
    pairs included — NOT the distinct edge count) fits
    ``driver_max_edges`` short-circuit straight to a DRIVER union-find:
    at local job-floor economics a multi-round distributed loop costs
    seconds for work one core does in milliseconds (measured 11 s →
    0.2 s for 1.2k edges at sf0.1), and a near-dup pair list is ~always
    orders smaller than its corpus. The threshold bounds the collect
    (~tens of MB). A dup-heavy list that misses the raw-count check is
    not penalized much: the zero-shuffle round-0 pre-contraction below
    collapses duplicates and local structure, and the loop entry
    re-checks the threshold against the contracted conflict-edge list.

    The distributed path (``driver_max_edges=0`` forces it; it also
    runs automatically above the threshold) is the 100 TB contract —
    iterative CONTRACTION, see the module docstring: per round, ONE
    shuffle of the edge list by source + an in-partition union-find
    (mapInPandas, pure memory ops), a resolve of the emitted mapping,
    and a relabel join. Fragment roots are chosen by HASH PRIORITY
    (splitmix64 of the id; (prio, id)-min member wins), not by min id:
    min-id contraction has an adversarial fixed point on monotone-id
    paths — every node's best cross-partition candidate is always two
    ids back, so a long consecutive-id chain relabels to ITSELF shifted
    by 2 and sheds O(1) edges per round (measured: a 1M-node probe of
    10k-long consecutive-id chains stalled at ~400 edges/round). Random
    priorities break the monotone structure, restoring expected
    geometric shrink on ANY id layout (the random-mate move of the
    MapReduce-CC literature). The mapping strictly decreases
    (prio, id), so it stays acyclic and progress is guaranteed. Once the
    survivor list fits the driver threshold a driver union-find
    finishes; composition of the per-round label tables recovers every
    original node's final (hash-chosen) root, and one final node-sized
    ``groupBy(root).min(id)`` + join normalizes labels to the component
    MIN ID — so the result is identical on either path and independent
    of partitioning, which is what keeps the operator
    DuckDB-oracle-checkable (recursive-CTE transitive closure).

    ``prepass`` (r10): round 0 below is ON by default — it pays for
    itself whenever the input pair list has duplicate pairs (multi-band
    LSH emitters), locality (banded near-dup groups, id-clustered
    chains), or is large enough that the loop's first full-width
    exchange would spill (the instrumented 100M probe: spill 37.6 GB →
    zero). On a DISTINCT, scattered sparse graph it folds almost
    nothing and its extra pass is pure overhead (measured +53% on a
    1M-node/3M-edge random graph: conflict list 5.58M sym rows vs 6.0M
    raw) — consumers that construct such lists (mutual-kNN:
    similarity.knn_graph_components) pass ``prepass=False`` to take the
    r9 shape, whose results are IDENTICAL (parity pytest). Both paths
    share the loop, label composition, and min-id normalization.

    r10 round-0 local pre-contraction (the remaining r9 lever — results
    unchanged): the instrumented 100M probe showed 345 s of 747 s wall
    and ALL the spill (30 GB mem + 7.6 GB disk) landing in round 1,
    before the edge list ever shrank — the full raw list was exchanged
    once for the repartition and twice more for the relabel joins. The
    pre-pass removes all three: an in-partition union-find over the
    UNSHUFFLED directed list (``mapInPandas``, memory-bounded by
    ``prepass_flush_nodes`` — the state flushes as extra star rows and
    resets, which only costs contraction quality, never correctness)
    emits each partition's spanning stars ``(node, local_root)``
    including identity rows for roots; ONE ``groupBy(node)`` over those
    node-sized rows resolves ``m0`` (node → min local root) and, from
    ``collect_set(root)``, the CONFLICT edges ``(other_root,
    min_root)`` that encode every cross-partition identification. The
    contraction loop then runs on the conflict list only. Correctness:
    an original edge (u,v) in partition p gives both endpoints local
    root r_p, so E1 links r_p to m0(u) and to m0(v) — components of the
    conflict graph over root space, composed with m0, are exactly the
    input's components (two-level union-find); no ordering discipline
    is needed in round 0 because m0 is applied in ONE composition join,
    never iterated. Self-loop-only nodes surface as identity rows, so
    every node appearing in any edge still gets a label row.

    r9 memory/wall shape (the 100M-probe lessons — results unchanged):

    - **Backward-composed label maps.** The per-round node→root tables
      compose from the LAST round backward (``g_i = m_i ∘ g_{i+1}`` on
      ``dom(m_i) ∪ dom(g_{i+1})``), so label recovery is rounds−1 joins
      of GEOMETRICALLY-SHRINKING maps plus ONE node-sized join — the r8
      shape maintained a full |nodes|-row label table through every
      round (K node-sized join jobs, each leaving a node-sized
      checkpoint in the heap; at 100M nodes that final chain was both
      the wall tail and most of the 48.5 GB heap floor).
    - **Adaptive partition width.** The per-round union-find shuffle
      repartitions to ``n_edges / target_edges_per_partition``
      partitions (floored at defaultParallelism, capped at 1024): the
      edge list shrinks geometrically, so any fixed round-1 width is
      wrong by round 5 — and a too-wide round 1 puts multi-GB
      neighbor-dicts in each Python worker.
    - **Round eviction.** Each round's edge list persists
      (MEMORY_AND_DISK) and the PREVIOUS round unpersists as soon as
      the new round is materialized — only the current edge list, the
      geometric mapping tables and ``sym`` stay resident, instead of
      every round ever computed. (Block loss would recompute through
      the evicted round — not a local-mode event, and on a cluster the
      standard persist/recompute trade.)
    - ``on_round`` (instrumentation only): called after each round with
      ``{"round", "n_edges", "width", "sec"}`` — scale probes attach
      ``obs.stage_totals`` shuffle/spill deltas per round; never affects
      results.
    - ``on_stage`` (instrumentation only, r12 — VERDICT r11 #2): when
      set, each loop round's two halves are FORCED separately (an extra
      ``m.count()`` materializes the node→root map before the relabel
      join plan references it) and the hook is called with
      ``{"round", "stage": "map"|"relabel", "sec", "n_rows"}`` so a
      probe can attribute the round wall between (a) the edge shuffle +
      in-partition union-find + root-resolution groupBy and (b) the
      relabel joins + distinct. The extra count re-reads a checkpointed
      map (no recompute); results are unchanged. Leave ``None`` in
      production — the forced boundary costs one node-map traversal per
      round.
    """
    import time

    import pandas as pd
    from pyspark import StorageLevel

    # checkpoint the directed list BEFORE symmetrizing: the union
    # references ``edges`` twice, and upstream pair generation (banded
    # joins, GEMM stages) is usually the expensive part — one barrier
    # halves it
    base = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    # NO .distinct() and NO symmetrized copy of the raw list (r9/r10):
    # the in-partition union-find is duplicate- and direction-
    # insensitive, so round 0 runs straight over the directed input —
    # the initial distinct was a full symmetric-edge-list exchange
    # (15+ GB shuffled AND spilled at 100M) bought for nothing, and the
    # r10 pre-pass removed the need to ever materialize 2x raw rows.
    id_type = dict(base.dtypes)["u"]

    def _driver_uf(edge_df) -> dict:
        """Union-find over a collected edge list → {node: comp_min}."""
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # collect(), not toLocalIterator (r12): the caller only enters
        # this path under the driver_max_edges bound (≤ tens of MB), and
        # toLocalIterator runs ONE SEQUENTIAL JOB PER PARTITION — ~8
        # job floors of pure scheduling at local partition counts where
        # one bounded collect job fetches everything (guide §1: job
        # floors ARE the cost model at bench SF; the memory bound is
        # unchanged because the iterator pinned whole partitions anyway).
        for r in edge_df.collect():
            u, v = r[0], r[1]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[rv] = ru
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            cur = comp_min.get(root)
            if cur is None or node < cur:
                comp_min[root] = node
        return {node: comp_min[find(node)] for node in parent}

    spark = base.sparkSession
    n_raw = base.count()
    # same threshold semantics as the historical symmetric-row count
    # (sym held exactly 2x the raw rows); _driver_uf is undirected so
    # collecting the directed list halves the transfer
    if driver_max_edges > 0 and 2 * n_raw <= driver_max_edges:
        comp = _driver_uf(base)
        return spark.createDataFrame(
            list(comp.items()), f"id {id_type}, comp {id_type}"
        )

    # ---- round 0: zero-shuffle local pre-contraction (see docstring) ----
    t0 = time.perf_counter()

    def _local_star(batches):
        """Plain in-partition union-find over the raw directed edges;
        emits (node, local_root) for EVERY node seen, roots included as
        identity rows. No priority discipline needed here — round 0 is
        a single pass, never iterated, and its output is resolved by a
        global min, so min-id union suffices. State flushes whenever the
        dict exceeds ``prepass_flush_nodes`` (extra star rows, same
        connectivity — a union of forests is still a forest cover)."""
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        def flush():
            if parent:
                nodes = list(parent)
                yield pd.DataFrame(
                    {"node": nodes, "root": [find(n) for n in nodes]}
                )
                parent.clear()

        for pdf in batches:
            for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru == rv:
                    continue
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
            if len(parent) > prepass_flush_nodes:
                yield from flush()
        yield from flush()

    if prepass:
        raw0 = base.mapInPandas(_local_star, f"node {id_type}, root {id_type}")
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
        # prepass=False: the r9 shape — loop straight on the symmetric
        # raw list; m0 degrades to the identity map over the node set,
        # so label recovery below is unchanged. m0 is built AFTER the
        # loop (r12): it is only read by the label composition, and a
        # lazily-checkpointed DataFrame's materialization can overlap
        # later jobs — created here, its node-sized distinct over the
        # full symmetric list was free to grind concurrently with (and
        # throttle) round 1's kernel stage.
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

    # In-partition fragment labeling, two statically-chosen kernels
    # (r12 — VERDICT r11 #2). INTEGER ids: the vectorized min-key
    # kernel emits (node, rkey) where rkey is the root's BIJECTIVE
    # _mix64_vec key — the instrumented scattered-10M probe showed the
    # round-1 map half dominated not by the Python union-find alone but
    # by the 3-column shuffle + the non-codegen min(struct) OBJECT
    # aggregate (~700 executor-core-seconds of pure JVM CPU in the
    # final agg); a bijective key turns the resolution into a plain
    # codegen F.min(long) with the root id recovered by one zero-shuffle
    # Arrow pass. NON-integer ids (md5 priorities aren't invertible):
    # the dict union-find emitting (node, root, root_prio) with the
    # min(struct) resolution, as before.
    int_ids = id_type in ("bigint", "int", "smallint", "tinyint")

    def _local_uf_int(batches):
        """Arrow-native feed (r12): the in-worker debug timing on the
        scattered-10M probe measured ~27 s/worker spent merely ITERATING
        188 pandas batches (mapInPandas materializes a DataFrame per
        batch) vs ~2 s collecting Arrow column buffers directly —
        ``to_numpy(zero_copy_only=False)`` on an Arrow int64 array is a
        buffer view (plus a null-check), not a per-row conversion."""
        import numpy as np
        import pyarrow as pa

        us, vs = [], []
        for rb in batches:
            if rb.num_rows:
                us.append(rb.column(0).to_numpy(zero_copy_only=False))
                vs.append(rb.column(1).to_numpy(zero_copy_only=False))
        if not us:
            return
        out = _minrank_nonroot_rows(np.concatenate(us), np.concatenate(vs))
        yield pa.record_batch(
            [
                pa.array(out["node"].to_numpy()),
                pa.array(out["rkey"].to_numpy()),
            ],
            names=["node", "rkey"],
        )

    def _local_uf_obj(batches):
        us, vs = [], []
        for pdf in batches:
            if len(pdf):
                us.append(pdf["u"])
                vs.append(pdf["v"])
        if not us:
            return
        yield _dict_uf_nonroot_rows(us, vs)

    def _unmix_rows(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            keys = rb.column(1).to_numpy(zero_copy_only=False)
            yield pa.record_batch(
                [rb.column(0), pa.array(_unmix64_vec(keys))],
                names=["node", "root"],
            )

    # per-round node->root mapping tables; composed BACKWARD after the
    # loop (see docstring) instead of maintaining a node-sized label
    # table through every round
    maps: list[DataFrame] = []
    min_width = spark.sparkContext.defaultParallelism
    cur = sym
    prev_persisted = None
    round_no = 0
    # round 0 usually leaves a conflict list that already fits the
    # driver (or is empty); the loop only runs when it does not
    run_loop = n_edges > 0 and not (
        0 < driver_max_edges and n_edges <= driver_max_edges
    )
    for _ in range(max_iters if run_loop else 0):
        t0 = t_round = time.perf_counter()
        # one shuffle: all of a node's edges land together (sym holds
        # both directions, so partitioning by u co-locates full
        # neighborhoods -> whole dense components contract in one pass);
        # width tracks the CURRENT edge count, not round 1's
        width = max(min_width, min(1024, -(-n_edges // target_edges_per_partition)))
        if int_ids:
            m = (
                cur.repartition(width, "u")
                .mapInArrow(_local_uf_int, f"node {id_type}, rkey long")
                .groupBy("node")
                .agg(F.min("rkey").alias("rkey"))
                .mapInArrow(_unmix_rows, f"node {id_type}, root long")
            )
            if id_type != "bigint":
                m = m.select(
                    "node", F.col("root").cast(id_type).alias("root")
                )
            m = m.localCheckpoint(eager=False)
        else:
            m = (
                cur.repartition(width, "u")
                .mapInPandas(
                    _local_uf_obj,
                    f"node {id_type}, root {id_type}, root_prio long",
                )
                .groupBy("node")
                .agg(
                    F.min(F.struct("root_prio", "root"))["root"].alias("root")
                )
                .localCheckpoint(eager=False)
            )
        if on_stage is not None:
            n_map_rows = m.count()  # forces shuffle + UF + groupBy
            on_stage({
                "round": round_no + 1, "stage": "map",
                "sec": round(time.perf_counter() - t0, 3),
                "n_rows": n_map_rows,
            })
            t0 = time.perf_counter()
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
        if on_stage is not None:
            on_stage({
                "round": round_no + 1, "stage": "relabel",
                "sec": round(time.perf_counter() - t0, 3),
                "n_rows": n_edges,
            })
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = cur = nxt
        round_no += 1
        if on_round is not None:
            on_round({
                "round": round_no, "n_edges": n_edges, "width": width,
                "sec": round(time.perf_counter() - t_round, 3),
            })
        if n_edges == 0 or (0 < driver_max_edges and n_edges <= driver_max_edges):
            break
    fin = None
    if n_edges:
        # guard the post-loop collect: a non-converged run (max_iters
        # exhausted, or driver_max_edges=0 forcing the loop dry on a
        # graph it could not empty) must fail loudly, not OOM the driver
        collect_cap = max(driver_max_edges, 5_000_000)
        if n_edges > collect_cap:
            raise RuntimeError(
                f"connected_components did not converge: {n_edges} edges"
                f" remain after {round_no} rounds (max_iters={max_iters}),"
                f" above the driver collect bound {collect_cap}; raise"
                " max_iters or driver_max_edges"
            )
        comp = _driver_uf(cur)
        fin = spark.createDataFrame(
            list(comp.items()), f"cur {id_type}, fcomp {id_type}"
        )
    if prev_persisted is not None:
        # the survivor edge list is collected (or empty); nothing reads it
        # again — the labels below derive from sym + maps + fin only
        prev_persisted.unpersist()
    if m0 is None:
        # deferred prepass=False identity map (see the round-0 branch)
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
    # (identity rows included), so labels come straight off m0 — the
    # single node-sized composition join; no separate distinct-nodes
    # extraction or left-coalesce pass. Loop-map domains are local
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
