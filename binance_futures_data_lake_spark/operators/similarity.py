"""Approximate-nearest-neighbor similarity search over embedding columns.

Four tiers, all over ``array<float>`` columns (the `embeddings` table):

- **Brute force** (`brute_force_topk`): the one-cell case of the IVF
  scorer — every corpus vector sits in cell ``0`` and every query probes
  it, so ONE zero-shuffle corpus pass GEMMs each batch against the whole
  query set. O(|Q|·|C|) similarity evaluations; the exact baseline and
  the recall ground truth of the approximate tiers.
- **Random-hyperplane LSH** (`rh_signatures` / `lsh_topk`): sign-of-dot-
  product bit signatures banded into buckets; candidates = corpus vectors
  sharing ≥1 band bucket with the query, then exact cosine on candidates
  only. `lsh_topk` runs the whole tier as ONE zero-shuffle corpus pass:
  each Arrow batch signs, buckets and looks up in numpy (the query band
  keys ship as closure literals), then scores its candidates through the
  same rounding and partial top-k as brute force and IVF. Hyperplanes
  are derived deterministically from md5, so signatures are
  reproducible across runs, partitionings, and engines (no RNG state).
- **IVF** (`ivf_lloyd_centroids` / `ivf_lloyd_topk`, and the seed-only
  `ivf_seeded_topk`): a deterministic fixed-point k-means coarse
  quantizer; each vector is assigned to its nearest centroid (one narrow
  pass, centroids broadcast), queries probe the `nprobe` nearest cells. At
  scale the cell id doubles as a partition key: write the corpus
  `partitionBy(cell)` and a probe reads nprobe/num_cells of the data
  (partition pruning on cell).
- **Product quantization** (IVFADC, Jégou et al. 2011 §IV-B): one path.
  Coarse cells come from `seed_cells` or `ivf_lloyd_centroids`; each
  vector's residual after its cell is encoded to ``n_sub`` codes against
  `pq_residual_codebooks` (seeded) or `pq_residual_codebooks_lloyd`
  (trained); queries rank probed-cell candidates by table-lookup
  distances, from raw vectors (`pq_ivf_adc_topk`) or from a persisted
  code index (`pq_encode` → `pq_ivf_adc_codes_topk`), optionally with an
  exact re-rank (`pq_ivf_rerank_topk` / `pq_ivf_rerank_codes_topk`).
  Flat PQ is the one-cell case: pass ``cents = [(0, [0] * dim)]`` and
  the residual is the vector itself.

Brute force, LSH and IVF share one cosine top-k scorer
(:func:`_scored_topk`): the query side is collected behind
:data:`IVF_MAX_QUERIES`, zero-norm vectors on either side are out of
cosine domain and dropped, and the 6-dp-rounded cosines are
boundary-proof against the SQL fold (:func:`_round6_scaled`).

Recall of the approximate tiers against the brute-force baseline is
pytest-checked (tests/test_similarity.py, tests/test_r7_ops.py,
tests/test_pq_ivf.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from binance_futures_data_lake_spark.functions.scalars import round6


def _as_double_vec(col):
    return F.transform(col, lambda x: x.cast("double"))


def _norm(vec_col):
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def normalized(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, vec double[], nrm) projection shared by every tier.

    r13 closed negative (measured, NOT widened): widening the embeddings
    input behind the textdedup.widen_narrow_scan guard regressed every
    similarity consumer at sf0.1 — knn_graph_components 3.07 -> 3.72 s,
    retrieval_eval_ivf 0.81 -> 0.87, pq_rerank_topk 0.39 -> 0.49,
    cosine_topk 0.21 -> 0.27 (best-of-3 noop, idle box). Two causes:
    (a) embedding rows are narrow and few, so 32 Arrow round-trips of
    ~60 rows cost more than one serial pass; (b) the guard's size probe
    runs at plan-build time, which cache_plan=False consumers (knn, the
    Lloyd trainers) pay EVERY run. Deploy-scale embedding tables are
    wide by construction; the text kernels keep the widen because their
    per-row work (md5-per-shingle) is 10-100x heavier per byte."""
    v = _as_double_vec(F.col(vec_col))
    return emb.select(F.col(id_col).alias("id"), v.alias("vec")).withColumn("nrm", _norm(F.col("vec")))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: the one-cell case of :func:`_cell_scored_topk`.
    Every corpus row sits in cell ``0`` and every query probes ``[0]``, so
    each Arrow batch of ONE corpus scan is a single GEMM against the whole
    query set; vectors cross the wire as stored and widen to float64 in
    numpy. Zero-norm vectors are dropped and the rounded cosines are
    boundary-proof, as in every dense tier; ranking is ``(cosine desc,
    neighbor_id)`` on the 6-dp cosine, so the result is deterministic and
    engine-comparable."""
    return _cell_scored_topk(
        corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), F.lit(0).alias("cell")
        ),
        queries.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
            F.array(F.lit(0)).alias("cells"),
        ),
        k,
    )


def hyperplanes(dim: int, n_planes: int, seed: str = "rh-lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    Component (j, d) comes from md5(f"{seed}:{j}:{d}") — no RNG object, so
    any engine (or a re-run on different partitioning) derives the exact
    same planes.
    """
    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def rh_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rh-lsh",
) -> DataFrame:
    """(id, vec, nrm, bits array<int>) — sign-of-dot-product signature.

    Narrow (per-row) computation: hyperplanes ship as literals inside the
    plan, no join and no shuffle to sign a vector.
    """
    base = normalized(df, id_col, vec_col)
    bits = []
    for plane in hyperplanes(dim, n_planes, seed):
        p = F.array(*[F.lit(x) for x in plane])
        bits.append(F.when(_dot(F.col("vec"), p) >= 0, 1).otherwise(0))
    return base.withColumn("bits", F.array(*bits))


def _band_keys(bits_col, bands: int, rows_per_band: int):
    """One string key per band: "band:bit,bit,…" over its slice of bits."""
    keys = []
    for b in range(bands):
        sl = F.slice(bits_col, b * rows_per_band + 1, rows_per_band)
        keys.append(F.concat_ws(":", F.lit(str(b)), F.concat_ws(",", F.transform(sl, lambda x: x.cast("string")))))
    return F.array(*keys)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH banding + exact cosine on the
    candidates, as ONE zero-shuffle corpus pass.

    The query vectors AND their per-band bucket keys ride to every task
    as closure literals. Per Arrow batch the kernel (1) signs the vectors
    against the md5-derived hyperplanes, (2) packs each band's bits into
    an int key, (3) looks the keys up in the query-side band dictionary
    (sorted-array searchsorted + CSR gather, fully vectorized) and marks
    each (row, query) hit once however many bands collided, and (4)
    scores the hits through the shared scorer (:func:`_scored_topk`):
    guarded round6 cosines scattered into a ``-inf``-filled
    (rows × queries) block, then the common partial top-k. The corpus is
    scanned once and never shuffled, exploded, or joined.

    Bit-exactness: the sign of each plane dot must match the SQL fold
    (``F.aggregate`` in :func:`rh_signatures`, ``list_dot_product`` in
    the DuckDB oracle). The kernel computes the dots with one BLAS GEMM
    and re-computes the rare near-zero entries using the exact
    sequential per-dim fold — identical IEEE op order — so a
    reassociated dot can never flip a bucket bit. The trigger is
    MAGNITUDE-AWARE: reassociation error scales with the operand norms
    (≈ dim·eps·‖x‖·‖p‖, e.g. ~3e-8 for dim-512 vectors with ‖x‖~1e3),
    so the recompute fires for ``|dot| < 1e-9 · max(1, ‖x‖·max‖p‖)``.
    """
    import numpy as np

    if n_planes % bands:
        raise ValueError(f"n_planes {n_planes} not divisible by bands {bands}")
    rpb = n_planes // bands
    planes = np.array(hyperplanes(dim, n_planes), dtype=np.float64).T  # dim × P
    pn_max = float(np.sqrt(np.einsum("ij,ij->j", planes, planes).max()))
    powers = 1 << np.arange(rpb, dtype=np.int64)

    def _fold_dot(vec, p):
        # the exact SQL fold: ((0 + t0) + t1) + ... in index order
        acc = 0.0
        for d in range(vec.size):
            acc = acc + float(vec[d]) * planes[d, p]
        return acc

    def _keys(mat):
        g = mat @ planes
        xn = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        near = np.abs(g) < (1e-9 * np.maximum(1.0, xn * pn_max))[:, None]
        if near.any():
            for i, p in zip(*map(np.ndarray.tolist, np.nonzero(near))):
                g[i, p] = _fold_dot(mat[i], p)
        return (g >= 0).reshape(-1, bands, rpb).astype(np.int64) @ powers

    def _blocks(q_pdf, q_mat, q_nrm):
        q_keys = _keys(q_mat)  # |Q| × bands int keys
        qmaps = []
        for b in range(bands):
            order = np.argsort(q_keys[:, b], kind="stable")
            sk = q_keys[order, b]
            uniq, start = np.unique(sk, return_index=True)
            qmaps.append((uniq, np.append(start, sk.size).astype(np.int64), order))

        def gen(rb, mat, nrm):
            keys = _keys(mat)
            hit = np.zeros((mat.shape[0], q_mat.shape[0]), dtype=bool)
            for b in range(bands):
                uniq, off, qord = qmaps[b]
                kb = keys[:, b]
                pos = np.minimum(np.searchsorted(uniq, kb), uniq.size - 1)
                rows = np.flatnonzero(uniq[pos] == kb)
                u = pos[rows]
                cnt = off[u + 1] - off[u]
                # CSR ragged gather: query indices of every (row, band) hit
                gather = np.repeat(off[u], cnt) + (
                    np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                )
                hit[np.repeat(rows, cnt), qord[gather]] = True
            hit[nrm == 0] = False  # zero-norm rows are out of cosine domain
            rows, qq = np.nonzero(hit)
            if rows.size == 0:
                return
            sub, qv = mat[rows], q_mat[qq]
            scaled = np.einsum("ij,ij->i", sub, qv) / (nrm[rows] * q_nrm[qq]) * 1e6
            block = np.full(hit.shape, -np.inf)
            block[rows, qq] = _round6_scaled(scaled, sub, qv)
            yield np.arange(hit.shape[0]), np.arange(hit.shape[1]), block

        return gen

    return _scored_topk(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        k,
        _blocks,
    )


def ivf_seed_centroids(corpus: DataFrame, num_cells: int = 16,
                       id_col: str = "vec_id", vec_col: str = "embedding"):
    """RNG-free coarse quantizer: the ``num_cells`` corpus vectors whose
    ids have the SMALLEST md5-derived hash are the cell centers, in hash
    order (cell i = i-th smallest). A deterministic uniform draw — the
    same centers on every run, partitioning, and engine — which is what
    makes an IVF index SQL-oracle-checkable end-to-end (an RNG-seeded
    k-means quantizer gives tighter cells but its training is not
    replayable in SQL). Seed-sampled centers are standard IVF practice
    when training cost matters (k-means init IS a uniform draw); recall
    vs brute force is pytest-gauged like the
    other tiers. The ``num_cells``-row collect is bounded by contract —
    centroids must broadcast as plan literals regardless of quantizer.
    """
    from binance_futures_data_lake_spark.operators.sketch import uniform_hash

    base = normalized(corpus, id_col, vec_col)
    rows = (
        base.withColumn("hv", uniform_hash(F.col("id")))
        .orderBy("hv", "id")
        .limit(num_cells)
        .select("vec")
        .collect()
    )
    return [list(map(float, r.vec)) for r in rows]


def top_cells_by_cosine(vec_col, nrm_col, centroids: list[list[float]], n: int):
    """Array of the n highest-cosine centroid ids (spherical assignment).

    Ranking uses ``1 − round6(cos)`` ascending with the cell id as the
    tiebreak — round-then-compare with identical IEEE ops on both engines
    (the ``-cos`` formulation would manufacture a ±0.0 ordering hazard),
    so an oracle replays the exact assignment. Centroids and their norms
    are literal expressions: per-row narrow compute, no join, no shuffle.
    """
    entries = []
    for i, c in enumerate(centroids):
        lit = F.array(*[F.lit(x) for x in c])
        cos = _dot(vec_col, lit) / (nrm_col * _norm(lit))
        entries.append(
            F.struct((F.lit(1.0) - round6(cos)).alias("d"), F.lit(i).alias("cell"))
        )
    ranked = F.array_sort(F.array(*entries))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cell"])


def ivf_seeded_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with cosine cell assignment (pairs with
    :func:`ivf_seed_centroids`): corpus vectors land in their top-cosine
    cell, queries probe their ``nprobe`` top-cosine cells, and the shared
    cell-scoped GEMM kernel scores candidates (:func:`_cell_scored_topk`).
    Same scale shape as :func:`ivf_lloyd_topk` — at 100 TB the cell id is
    the partition key and a probe reads nprobe/num_cells of the corpus via
    partition pruning into one zero-shuffle scoring pass."""
    base = normalized(corpus, id_col, vec_col)
    cells = base.withColumn(
        "cell", top_cells_by_cosine(F.col("vec"), F.col("nrm"), centroids, 1)[0]
    )
    qb = normalized(queries, id_col, vec_col).select(
        "id",
        "vec",
        top_cells_by_cosine(F.col("vec"), F.col("nrm"), centroids, nprobe).alias(
            "cells"
        ),
    )
    return _cell_scored_topk(cells.select("id", "vec", "cell"), qb, k)


def _scaled_unit(vec_col, nrm_col):
    """Unit vector on the 1e-6 fixed-point grid as BIGINTs. Both engines do
    the SAME double division then half-away-from-zero round, so every later
    distance and centroid-mean is EXACT integer arithmetic — order-free,
    which is what makes Lloyd refinement oracle-replayable (float partial
    sums across a shuffle are not)."""
    return F.transform(
        vec_col, lambda x: F.round(x / nrm_col * F.lit(1_000_000.0), 0).cast("long")
    )


def _round_half_away_int(num: int, den: int) -> int:
    """round(num/den) half away from zero in exact integer arithmetic
    (den > 0) — the same formula the SQL oracle runs, so no float division
    can diverge at a .5 boundary."""
    if num >= 0:
        return (2 * num + den) // (2 * den)
    return -((-2 * num + den) // (2 * den))


def _nearest_cells_int(svec_col, cents: list[tuple[int, list[int]]], n: int):
    """Array of the n nearest centroid ids by EXACT integer squared-L2 on
    the fixed-point grid (cell id tiebreak). On unit vectors L2² = 2−2·cos,
    so this ranking is the cosine ranking — with none of its float-ordering
    hazards. Centroids are plan literals: narrow per-row compute, no join."""
    entries = []
    for cid, c in cents:
        lit = F.array(*[F.lit(int(x)).cast("long") for x in c])
        d2 = F.aggregate(
            F.zip_with(svec_col, lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda a, x: a + x,
        )
        entries.append(F.struct(d2.alias("d"), F.lit(int(cid)).alias("cell")))
    ranked = F.array_sort(F.array(*entries))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cell"])


def grid_vectors(corpus: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """``(id, s)``: every non-zero vector as its :func:`_scaled_unit` grid
    vector — the input of every fixed-point IVF and PQ build. Zero-norm
    vectors are out of cosine domain and dropped."""
    base = normalized(corpus, id_col, vec_col).filter(F.col("nrm") > 0)
    return base.select("id", _scaled_unit(F.col("vec"), F.col("nrm")).alias("s"))


def seed_cells(sv: DataFrame, n: int) -> list[tuple[int, list[int]]]:
    """The RNG-free seed draw of every fixed-point build: the ``n`` rows
    of a :func:`grid_vectors` frame whose ids have the SMALLEST
    md5-derived hash, in hash order, as ``[(i, grid_vec), ...]`` — the
    centroid shape :func:`ivf_lloyd_topk` and the PQ tier take. Seeded
    coarse cells, the start of Lloyd refinement, and the residual
    codebook draw all come from here, and the SQL oracles replay it
    (``ORDER BY h, vec_id LIMIT n``). The collect is ``n`` rows, bounded
    by contract: cells and codewords ship as plan literals."""
    from binance_futures_data_lake_spark.operators.sketch import uniform_hash

    rows = (
        sv.withColumn("hv", uniform_hash(F.col("id")))
        .orderBy("hv", "id").limit(n).select("s").collect()
    )
    return [(i, [int(x) for x in r.s]) for i, r in enumerate(rows)]


def ivf_lloyd_centroids(corpus: DataFrame, num_cells: int = 8, iters: int = 2,
                        id_col: str = "vec_id", vec_col: str = "embedding"):
    """DETERMINISTIC Lloyd-refined coarse quantizer: smallest-hash seed
    cells (:func:`seed_cells`) refined by ``iters`` k-means steps in
    1e-6 fixed-point arithmetic — integer distances, integer-sum centroid
    means rounded half-away-from-zero — so training is bit-identical across
    engines, partitionings, and runs, and a SQL oracle can replay the WHOLE
    index build (an RNG-seeded k-means quantizer cannot). Centroids
    collect as plan literals (num_cells × dim longs, bounded by contract).
    A cell that empties drops out on both engines identically.

    Returns ``[(cell_id, scaled_long_vec), ...]`` for
    :func:`ivf_lloyd_topk`. Reference: the IVF tier of the similarity stack
    (SURVEY §2 similarity search); quality vs brute force is pytest-gauged
    like the other tiers.

    Each step is ONE ``mapInArrow`` pass that assigns and sums per
    partition, so the driver collect is partitions × num_cells rows and
    reduces in vectorized int64 numpy. Integer sums are associative and
    every float64 partial stays under 2^53 (grid values ≤ 1e6 need
    > 9e9 rows per partition to overflow), so the centroids do not
    depend on the partitioning."""
    import numpy as np
    import pyarrow as pa

    # cache (id, s) BEFORE the seed collect (r12): the seed job then
    # populates the cache the iterations read, instead of the seed pass
    # and iteration 1 each running the scan→normalize→scale pipeline
    # from source — one fewer full pass per training call for 8 extra
    # bytes/row of cached id (guide §5 persist-when-reused; cache scope
    # is this call, released in the finally below).
    svc = grid_vectors(corpus, id_col, vec_col).cache()
    cents = seed_cells(svc, num_cells)
    dim = len(cents[0][1])
    try:
        for _ in range(iters):
            # Assignment + partial sums as ONE mapInArrow kernel: the
            # expression form (_nearest_cells_int + 64 per-dim sum
            # columns) is bit-identical but costs seconds of Catalyst
            # ANALYSIS per iteration — the num_cells × dim literal tree is
            # rebuilt every step because the centroids are new literals.
            # Grid values ≤ 1e6 keep every d² term and every partial sum
            # far below 2^53, so the kernel's float64 IS the integer
            # arithmetic the SQL oracle replays; cents stay sorted, so
            # _argmin_l2's first minimum is the min-cell-id tiebreak.
            cell_ids = np.array([c for c, _ in cents], dtype=np.int64)
            c_mat = np.array([v for _, v in cents], dtype=np.float64)

            def _partials(batches, _c=c_mat, _ids=cell_ids):
                cnt = np.zeros(_ids.size, dtype=np.int64)
                sums = np.zeros((_ids.size, dim))
                for rb in batches:
                    mat = np.asarray(rb.column(0).flatten(), dtype=np.float64)
                    mat = mat.reshape(rb.num_rows, dim)
                    code = _argmin_l2(mat, _c)
                    cnt += np.bincount(code, minlength=_ids.size)
                    np.add.at(sums, code, mat)
                live = np.flatnonzero(cnt)
                if live.size:
                    yield pa.record_batch(
                        [
                            pa.array(_ids[live]),
                            pa.array(cnt[live]),
                            pa.array(
                                [r.astype(np.int64) for r in sums[live]],
                                type=pa.list_(pa.int64()),
                            ),
                        ],
                        names=["cell", "cnt", "sums"],
                    )

            pdf = svc.select("s").mapInArrow(
                _partials, "cell long, cnt long, sums array<long>"
            ).toPandas()
            ucells, inv = np.unique(pdf["cell"].to_numpy(), return_inverse=True)
            cnt_tot = np.zeros(ucells.size, dtype=np.int64)
            np.add.at(cnt_tot, inv, pdf["cnt"].to_numpy())
            sums_tot = np.zeros((ucells.size, dim), dtype=np.int64)
            np.add.at(sums_tot, inv, np.stack(pdf["sums"].to_numpy()))
            cents = sorted(
                (int(c), [_round_half_away_int(int(s), int(n)) for s in row])
                for c, n, row in zip(ucells, cnt_tot, sums_tot)
            )
    finally:
        svc.unpersist()
    return cents


def ivf_lloyd_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over the fixed-point Lloyd index: corpus vectors land in
    their integer-L2-nearest cell via :func:`assign_cells_arrow` (the
    zero-shuffle kernel twin of the ``_nearest_cells_int`` expression —
    bit-identical assignment, exact integer d²), queries probe ``nprobe``
    cells, and the shared cell-scoped GEMM kernel scores candidates
    (:func:`_cell_scored_topk`). At 100 TB the cell id is the partition
    key and a probe reads nprobe/num_cells of the corpus via partition
    pruning into one zero-shuffle scoring pass."""
    cells = assign_cells_arrow(corpus, cents, id_col, vec_col)
    qb = (
        normalized(queries, id_col, vec_col)
        .filter(F.col("nrm") > 0)
        .withColumn("s", _scaled_unit(F.col("vec"), F.col("nrm")))
        .select("id", "vec", _nearest_cells_int(F.col("s"), cents, nprobe).alias("cells"))
    )
    return _cell_scored_topk(cells.select("id", "vec", "cell"), qb, k)


#: Hard cap on the collected query side of every dense tier — brute
#: force, LSH, IVF and PQ (rows; :func:`_collect_queries`). The query
#: frame rides the driver and every task (q_mat is |Q|·dim float64 + the
#: cell or band map, or the IVFADC distance tables), so it must stay
#: broadcast-sized; 65 536 queries × 128 dims ≈ 67 MB, the edge of
#: comfortable. Beyond that, batch the query set or flip it into the
#: corpus role.
IVF_MAX_QUERIES = 65_536


def _collect_queries(queries: DataFrame):
    """Collect a query side to pandas behind :data:`IVF_MAX_QUERIES`:
    the ``limit(cap+1)`` collect lets an oversized side fail loudly
    BEFORE it can occupy driver memory (r9 / ADVICE r8)."""
    q_pdf = queries.limit(IVF_MAX_QUERIES + 1).toPandas()
    if len(q_pdf) > IVF_MAX_QUERIES:
        raise ValueError(
            f"query side exceeds {IVF_MAX_QUERIES} rows; it is collected "
            "to the driver and shipped to every task, so it must stay "
            "broadcast-sized. Batch the query set or swap the roles "
            "(score the smaller side as queries)."
        )
    return q_pdf


def _round6_scaled(scaled, a, b):
    """round6 of scaled cosines (cosine·1e6), boundary-proof against the
    SQL oracle. ``scaled`` is the (rows of ``a`` × rows of ``b``) block
    ``a·bᵀ / (‖a‖·‖b‖) · 1e6``, or 1-D the pairwise ``a[i]·b[i]`` vector.
    GEMM/einsum reassociation moves an entry by ≈ dim·eps·1e6 ≈ 1e-7, so
    every entry within 1e-5 of a ``.5`` boundary has its three folds —
    a·b, a·a, b·b — recomputed in the exact sequential per-dim order of
    DuckDB's ``list_dot_product`` and the ``F.aggregate`` folds; then
    every entry rounds half away from zero (the numpy twin of
    functions/scalars.round6). The boundary test takes ``m - floor(m)``
    on ``m = |scaled|``, exact for ``m ≥ 0`` (Sterbenz) and so the same
    entries as a float modulo: 16 ms against 154 ms per 10k × 100 block
    on a 4-vCPU host. Mutates ``scaled``."""
    import numpy as np

    m = np.abs(scaled)
    for ix in np.argwhere(np.abs(m - np.floor(m) - 0.5) < 1e-5).tolist():
        x, y = a[ix[0]], b[ix[-1]]
        dab = daa = dbb = 0.0
        for d in range(x.size):
            dab = dab + float(x[d]) * float(y[d])
            daa = daa + float(x[d]) * float(x[d])
            dbb = dbb + float(y[d]) * float(y[d])
        scaled[tuple(ix)] = dab / (np.sqrt(daa) * np.sqrt(dbb)) * 1e6
    return np.sign(scaled) * np.floor(np.abs(scaled) + 0.5) / 1e6


def _block_topk(cos, n_ids, q_ids, k: int):
    """Partial top-k of one (rows × queries) block of rounded cosines
    (``-inf`` = not a candidate): mask self-matches, then keep per column
    every row at or above the column's k-th largest value (k-th-value
    ties kept; the final window breaks them by id). Returns ``(q_id,
    neighbor_id, cosine)`` arrays."""
    import numpy as np

    cos = np.where(n_ids[:, None] == q_ids[None, :], -np.inf, cos)
    keep = cos > -np.inf
    if cos.shape[0] > k:
        keep &= cos >= np.partition(cos, -k, axis=0)[-k]
    r, c = np.nonzero(keep)
    return q_ids[c], n_ids[r], cos[r, c]


def _rank_cosine(scored: DataFrame, k: int) -> DataFrame:
    """The final ranking window of every cosine top-k: ``(cosine desc,
    neighbor_id)`` per query, ranks ``1..k``."""
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cosine", "rnk")
    )


def _scored_topk(corpus: DataFrame, queries: DataFrame, k: int, blocks) -> DataFrame:
    """The one cosine top-k scorer under brute force, LSH and IVF: ONE
    zero-shuffle ``mapInArrow`` pass over ``corpus`` (columns ``id, vec``
    then whatever the candidate generator reads).

    The query side (``id, vec`` and generator columns) is collected HERE
    behind the :data:`IVF_MAX_QUERIES` cap (:func:`_collect_queries`) and
    its zero-norm vectors are dropped (a NaN cosine would rank ABOVE
    every real candidate in Spark's ordering). ``blocks(q_pdf, q_mat,
    q_nrm)`` builds the per-batch generator ``gen(rb, mat, nrm)`` that
    yields ``(rows, qs, cos)``: batch row indices, query indices and
    their (rows × qs) block of :func:`_round6_scaled` cosines, with
    zero-norm rows left out. Each block is cut to its partial top-k
    (:func:`_block_topk`), so only ≈ #batches·#blocks·|Q|·k narrow rows
    reach the ranking window (:func:`_rank_cosine`). Output id types
    come per side — ``q_id`` from the query frame, ``neighbor_id`` from
    the corpus frame — so mixed-typed id columns can never mismatch the
    declared schema."""
    import numpy as np
    import pyarrow as pa

    schema = (
        f"q_id {dict(queries.dtypes)['id']}, "
        f"neighbor_id {dict(corpus.dtypes)['id']}, cosine double"
    )
    q_pdf = _collect_queries(queries)
    if not q_pdf.empty:
        q_mat = np.array(q_pdf["vec"].tolist(), dtype=np.float64)
        q_nrm = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))
        live = q_nrm > 0
        q_pdf, q_mat, q_nrm = q_pdf[live].reset_index(drop=True), q_mat[live], q_nrm[live]
    if q_pdf.empty:
        return corpus.sparkSession.createDataFrame([], schema + ", rnk int")
    q_ids = q_pdf["id"].to_numpy()
    dim = q_mat.shape[1]
    gen = blocks(q_pdf, q_mat, q_nrm)

    def _kernel(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            flat = np.asarray(rb.column(1).flatten(), dtype=np.float64)
            if flat.size != n * dim:
                raise ValueError(
                    f"ragged embedding column: {flat.size} values for {n} rows × dim {dim}"
                )
            mat = flat.reshape(n, dim)
            nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            parts = [
                _block_topk(cos, ids[rows], q_ids[qs], k)
                for rows, qs, cos in gen(rb, mat, nrm)
            ]
            cols = [np.concatenate(c) for c in zip(*parts)]
            if cols and cols[0].size:
                yield pa.record_batch(
                    [pa.array(c) for c in cols], names=["q_id", "neighbor_id", "cosine"]
                )

    # (q_id, neighbor_id) is unique: each corpus row lives in one Arrow
    # batch and in at most one block per query
    return _rank_cosine(corpus.mapInArrow(_kernel, schema), k)


def _cell_scored_topk(
    corpus_cells: DataFrame,
    queries_df: DataFrame,
    k: int,
) -> DataFrame:
    """Cell-scoped cosine top-k (every IVF tier, and brute force as its
    one-cell case) through the shared scorer :func:`_scored_topk`. Per
    Arrow batch, live rows group by cell and each group GEMMs against the
    queries probing that cell, so per-query candidate sets are exactly
    the probed cells. The corpus is never joined, exploded, or shuffled.

    ``corpus_cells`` columns: ``id, vec, cell``; ``queries_df`` columns:
    ``id, vec, cells`` (probed cell list)."""
    import numpy as np

    def _blocks(q_pdf, q_mat, q_nrm):
        probes: dict[int, list[int]] = {}
        for qi, cl in enumerate(q_pdf["cells"]):
            for c in cl:
                probes.setdefault(int(c), []).append(qi)
        cell_to_q = {c: np.array(v, dtype=np.int64) for c, v in probes.items()}

        def gen(rb, mat, nrm):
            cells = rb.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
            order = np.argsort(cells, kind="stable")
            for g in np.split(order, np.flatnonzero(np.diff(cells[order])) + 1):
                qs = cell_to_q.get(int(cells[g[0]]))
                live = g[nrm[g] > 0]
                if qs is None or live.size == 0:
                    continue
                sub, qv = mat[live], q_mat[qs]
                scaled = (sub @ qv.T) / (nrm[live][:, None] * q_nrm[qs][None, :]) * 1e6
                yield live, qs, _round6_scaled(scaled, sub, qv)

        return gen

    return _scored_topk(corpus_cells.select("id", "vec", "cell"), queries_df, k, _blocks)


def retrieval_eval(
    results: DataFrame,
    gold: DataFrame,
    k: int = 10,
    q_col: str = "q_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rnk",
    gold_q_col: str = "q_id",
    gold_doc_col: str = "doc_id",
) -> DataFrame:
    """Offline IR evaluation of a retrieval run against a gold relevance
    table: per-query recall@k and reciprocal rank — the metrics loop that
    closes a RAG/retrieval pipeline (index → probe → re-rank →
    **measure**).

    ``recall_at_k = hits / min(n_gold, k)`` (feasible-recall: a query
    with more relevant docs than k can still score 1.0);
    ``rr = 1 / rank of the first relevant hit`` (0 when none). Queries
    are the gold table's key set — a query with no retrieved rows scores
    zero rather than disappearing; retrieved queries without gold are
    out of scope by definition.

    Scale shape: one equi-join of the top-k result rows (|Q|·k) against
    the gold pair table on (query, doc) — both sides are
    evaluation-sized, never corpus-sized; two small aggregates after.
    Corpus-scale cost lives in the retrieval run being evaluated, not
    here. Mean metrics over queries are one further trivial aggregate —
    left per-query so the driver can hash-check row-level values.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    res = results.filter(F.col(rank_col) <= k).select(
        F.col(q_col).alias("q_id"),
        F.col(doc_col).alias("doc_id"),
        F.col(rank_col).alias("rnk"),
    )
    g = gold.select(
        F.col(gold_q_col).alias("q_id"),
        F.col(gold_doc_col).alias("doc_id"),
        F.lit(1).alias("rel"),
    )
    hit = res.join(g, ["q_id", "doc_id"], "left").withColumn(
        "rel", F.coalesce(F.col("rel"), F.lit(0))
    )
    per = hit.groupBy("q_id").agg(
        F.sum("rel").cast("long").alias("hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("frr"),
    )
    gc = g.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_gold"))
    out = gc.join(per, "q_id", "left")
    hits = F.coalesce(F.col("hits"), F.lit(0).cast("long"))
    recall = hits * F.lit(1.0) / F.least(F.col("n_gold"), F.lit(k).cast("long"))
    rr = F.coalesce(F.lit(1.0) / F.col("frr"), F.lit(0.0))
    return out.select(
        "q_id",
        "n_gold",
        hits.alias("hits"),
        round6(recall).alias("recall_at_k"),
        F.coalesce(F.col("frr"), F.lit(0)).cast("long").alias("first_rel_rank"),
        round6(rr).alias("rr"),
    )


def semantic_dedup(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023):
    assign every vector to its cell in a deterministic Lloyd-refined
    coarse quantizer (:func:`ivf_lloyd_centroids`), then WITHIN each cell
    drop a vector when a smaller-id cellmate sits at cosine ≥
    ``threshold``. Keeps the min-id representative of every semantic
    duplicate group, exactly like the md5/MinHash/SimHash text tiers keep
    theirs — but on meaning, not surface form.

    Output: ``vec_id, cell, status ('kept'|'near_dup'), match_id,
    cosine`` — one row per corpus vector (zero-norm vectors are out of
    domain, as everywhere in this module); ``match_id`` is the SMALLEST
    matching cellmate id (the stable-representative contract shared by
    every dedup tier here) and ``cosine`` is the similarity to that
    match, 6-dp rounded before both the threshold test and the min-pick
    so a SQL oracle replays the decision bit-for-bit.

    Scale shape: the pairwise comparison NEVER leaves a cell — one
    shuffle by ``cell``, then a per-cell self-join whose output is
    Σ|cell|² instead of |corpus|². That is the SemDeDup contract: you
    size ``num_cells`` so cells stay bounded (the paper runs ~11k cells
    for 100M+ embeddings), and the quantizer pass is one narrow
    broadcast-literal compare per row. A degenerate corpus that
    collapses into one cell concentrates the quadratic cost exactly like
    a hot band value in the banded-hamming join — the same
    frequency-cap defense applies if a real corpus needs it.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    base = normalized(corpus, id_col, vec_col).filter(F.col("nrm") > 0)
    sb = base.withColumn("s", _scaled_unit(F.col("vec"), F.col("nrm")))
    cells = sb.withColumn(
        "cell", _nearest_cells_int(F.col("s"), cents, 1)[0]
    ).select("id", "cell", "vec", "nrm")
    a = cells.select(
        F.col("id").alias("a_id"), F.col("cell"),
        F.col("vec").alias("a_vec"), F.col("nrm").alias("a_nrm"),
    )
    # force sort-merge (r12): the planner's BroadcastHashJoin build side
    # re-executes its subtree, running the scan→normalize→cell-assign
    # union a SECOND time per materialization; shuffled on the same
    # ``cell`` key with structurally identical projections, the two
    # exchanges canonicalize to one and ReuseExchange runs the upstream
    # once (guide §2.4/§3.1 — same fix as textdedup.hamming_near_pairs,
    # measured there 5.48→0.87 s at sf0.1).
    b = cells.select(
        F.col("id").alias("b_id"), F.col("cell"),
        F.col("vec").alias("b_vec"), F.col("nrm").alias("b_nrm"),
    ).hint("merge")
    cos = round6(
        _dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_nrm") * F.col("b_nrm"))
    )
    # min(struct) picks the smallest b_id and carries THAT pair's cosine
    matches = (
        a.join(b, "cell")
        .filter(F.col("b_id") < F.col("a_id"))
        .select("a_id", cos.alias("cosine"), "b_id")
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .groupBy("a_id")
        .agg(F.min(F.struct("b_id", "cosine")).alias("m"))
    )
    return (
        cells.join(matches, cells.id == matches.a_id, "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell"),
            F.when(F.col("m").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.col("m.b_id").alias("match_id"),
            F.col("m.cosine").alias("cosine"),
        )
    )


def fixed_point_cents(cents: list[list[float]]) -> list[tuple[int, list[int]]]:
    """Project float centroids onto the 1e-6 unit grid the fixed-point
    machinery uses: L2-normalize, scale by 1e6, round half away from
    zero."""
    import math

    out = []
    for i, c in enumerate(cents):
        nrm = sum(x * x for x in c) ** 0.5
        if nrm == 0:
            continue
        scaled = []
        for x in c:
            v = x / nrm * 1e6
            scaled.append(int(math.copysign(math.floor(abs(v) + 0.5), v)))
        out.append((i, scaled))
    return out


def hard_negatives(
    results: DataFrame,
    gold: DataFrame,
    n_neg: int = 3,
    max_cos: float | None = 0.95,
) -> DataFrame:
    """DPR-style hard-negative mining for contrastive retriever training
    (Karpukhin et al. 2020): from an ANN result set (``q_id,
    neighbor_id, cosine, rnk`` — any tier: brute, LSH, IVF), drop the
    labeled positives (``gold``: ``q_id, doc_id``), optionally drop
    candidates scoring above ``max_cos`` (near-certain UNLABELED
    positives — mining those as negatives poisons the loss), and keep
    each query's ``n_neg`` highest-scoring survivors. These
    top-ranked-but-wrong candidates are the negatives that actually move
    a contrastive loss; random negatives are trivially separable.

    Scale shape: the result set is |Q|·k rows (never the corpus), the
    positives anti-join is broadcast, and the final per-query rank
    windows over ≤ k rows per query. The expensive part — scoring the
    corpus — already happened inside the ANN tier, which at 100 TB reads
    nprobe/num_cells of the store via partition pruning.

    Output: ``q_id, neg_id, cosine, neg_rank`` (≤ n_neg rows per query).
    """
    if n_neg < 1:
        raise ValueError(f"n_neg must be >= 1, got {n_neg}")
    neg = results.join(
        F.broadcast(
            gold.select(F.col("q_id"), F.col("doc_id").alias("neighbor_id"))
        ),
        ["q_id", "neighbor_id"],
        "left_anti",
    )
    if max_cos is not None:
        neg = neg.filter(F.col("cosine") <= F.lit(float(max_cos)))
    return _rank_cosine(neg, n_neg).select(
        "q_id", F.col("neighbor_id").alias("neg_id"), "cosine", F.col("rnk").alias("neg_rank")
    )


def semantic_match_existing(
    existing: DataFrame,
    new: DataFrame,
    cents: list[tuple[int, list[int]]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-set SemDeDup — the SEMANTIC tier of the daily-ingest dedup
    pattern (md5 :func:`~binance_futures_data_lake_spark.operators.textdedup.incremental_dedup`,
    MinHash band index, :func:`~binance_futures_data_lake_spark.operators.textdedup.hamming_match_existing`,
    and now meaning): every NEW vector is assigned to its cell in the
    EXISTING side's quantizer (centroids are the persisted index — new
    data must not move them) and compared only against existing
    cellmates; ``cosine ≥ threshold`` to a smaller corpus means the
    snapshot vector is a semantic duplicate of something already
    ingested.

    Scale shape: the existing side is the persisted ``partitionBy(cell)``
    store (the ann_ivf index layout), so the cell join reads ONLY the
    cells the snapshot's vectors land in — cost is O(snapshot ×
    cell-size), never O(corpus); the quantizer pass is one narrow
    broadcast-literal compare per row on each side. Within-snapshot
    duplicates are :func:`semantic_dedup` on the snapshot alone —
    composing the two mirrors the md5/MinHash incremental layers.

    Output: one row per NEW vector — ``id_col, cell, status
    ('kept'|'near_dup'), match_id, cosine`` where ``match_id`` is the
    SMALLEST matching existing id and ``cosine`` its 6-dp similarity
    (the shared stable-representative contract; zero-norm vectors are
    out of domain as everywhere in this module).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    eb = normalized(existing, id_col, vec_col).filter(F.col("nrm") > 0)
    ec = (
        eb.withColumn("s", _scaled_unit(F.col("vec"), F.col("nrm")))
        .withColumn("cell", _nearest_cells_int(F.col("s"), cents, 1)[0])
        .select(
            F.col("id").alias("e_id"), "cell",
            F.col("vec").alias("e_vec"), F.col("nrm").alias("e_nrm"),
        )
    )
    nb = normalized(new, id_col, vec_col).filter(F.col("nrm") > 0)
    nc = (
        nb.withColumn("s", _scaled_unit(F.col("vec"), F.col("nrm")))
        .withColumn("cell", _nearest_cells_int(F.col("s"), cents, 1)[0])
        .select("id", "cell", "vec", "nrm")
    )
    cos = round6(
        _dot(F.col("vec"), F.col("e_vec")) / (F.col("nrm") * F.col("e_nrm"))
    )
    matches = (
        nc.join(ec, "cell")
        .select(F.col("id").alias("n_id"), cos.alias("cosine"), "e_id")
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .groupBy("n_id")
        .agg(F.min(F.struct("e_id", "cosine")).alias("m"))
    )
    return (
        nc.join(matches, nc.id == matches.n_id, "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell"),
            F.when(F.col("m").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.col("m.e_id").alias("match_id"),
            F.col("m.cosine").alias("cosine"),
        )
    )


def rrf_fuse(
    scored_lists: Sequence[DataFrame],
    k: int = 10,
    kappa: int = 60,
    exclude_self: bool = False,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N ranked
    retrieval lists — the standard hybrid-retrieval combiner (lexical
    BM25 + dense ANN) because it needs no score calibration across
    systems, only ranks: ``rrf(d) = Σ_lists 1/(κ + rank_list(d))``.

    Inputs are ``(q_id, item_id, score)`` frames (higher score = better);
    each list is (optionally self-excluded then) re-ranked internally by
    ``(score desc, item_id)`` so fusion never trusts upstream rank
    columns across the exclusion boundary. Per-list contributions land
    on the 1e-6 integer grid BEFORE the per-item sum (house float
    discipline — a double Σ would be union-order-dependent), and the
    final top-k orders by the integer. ``n_lists`` reports how many
    systems surfaced the item.

    Scale shape: every input is already top-k-bounded by its retriever
    (|Q|·k rows), so the union, groupBy, and windows here shuffle
    O(|Q|·k·N) narrow rows — fusion cost is independent of corpus size
    by construction.

    Output: ``q_id, item_id, rrf_score, n_lists, rnk``.
    """
    if not scored_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if kappa < 1 or k < 1:
        raise ValueError(f"invalid rrf params kappa={kappa} k={k}")
    ranked = []
    for df in scored_lists:
        part = df.select("q_id", "item_id", "score")
        if exclude_self:
            part = part.filter(F.col("item_id") != F.col("q_id"))
        w = Window.partitionBy("q_id").orderBy(
            F.col("score").desc(), F.col("item_id")
        )
        contrib = F.round(
            F.lit(1_000_000.0) / (F.lit(int(kappa)) + F.row_number().over(w)), 0
        ).cast("long")
        ranked.append(part.select("q_id", "item_id", contrib.alias("ci")))
    allc = ranked[0]
    for r in ranked[1:]:
        allc = allc.unionByName(r)
    fused = allc.groupBy("q_id", "item_id").agg(
        F.sum("ci").cast("long").alias("rrf_int"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf_int").desc(), F.col("item_id")
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "item_id",
            round6(F.col("rrf_int") / F.lit(1_000_000.0)).alias("rrf_score"),
            "n_lists",
            "rnk",
        )
    )


def knn_graph_mutual_edges(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    kk: int = 3,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-kNN graph construction, cell-scoped: assign every vector to
    its cell in the deterministic fixed-point quantizer (the
    :func:`semantic_dedup` index), take each vector's top-``kk``
    highest-cosine cellmates at cosine ≥ ``threshold``, and keep an edge
    only when BOTH endpoints list each other (the mutual-kNN rule that
    makes the graph sparse and symmetric — the standard construction for
    clustering / diversity analysis over embedding corpora).

    Scale shape: candidate pairs never leave a cell (Σ|cell|², the
    SemDeDup contract) — ONE shuffle by cell into a grouped GEMM kernel
    that scores the |cell|² block and keeps each row's top-``kk``
    (threshold first, then rank, cosine-desc/id-asc) — so the mutual
    self-join sees only ≤ kk·|corpus| narrow rows. The expression-join
    formulation (pair join + interpreted per-dim dot folds + rank
    window) costs 52 s at sf0.1's 4M within-cell pairs; the kernel runs
    the same block in well under a second. Cosines are 6-dp rounded
    before the rank, the threshold, and the mutual test, through the
    guarded :func:`_round6_scaled` (norms are the same sequential fold,
    :func:`_fold_sq_norms`), so the ranking is boundary-proof AND
    cos(a,b) = cos(b,a) exactly — mutuality is engine-stable.

    Output: undirected edges ``u, v, cosine`` with ``u < v``.
    """
    import numpy as np

    if kk < 1:
        raise ValueError(f"kk must be >= 1, got {kk}")
    # kernel assignment (bit-identical to the _nearest_cells_int
    # expression; the expression folds an O(num_cells·dim) literal tree
    # per row — 35.6 s per 200k rows at 128 cells, the dominant cost of
    # the 1M probe before this change)
    cells = assign_cells_arrow(corpus, cents, id_col=id_col, vec_col=vec_col)
    id_type = dict(corpus.dtypes)[id_col]
    thr = float(threshold)

    def _directed(pdf):
        import pandas as pd

        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        n = ids.size
        if n < 2:
            return pd.DataFrame({"a_id": ids[:0], "b_id": ids[:0],
                                 "cosine": np.zeros(0)})
        mat = np.array(pdf["vec"].tolist(), dtype=np.float64)
        nrm = _fold_sq_norms(mat)
        cos = _round6_scaled((mat @ mat.T) / (nrm[:, None] * nrm[None, :]) * 1e6, mat, mat)
        np.fill_diagonal(cos, -2.0)  # exclude self before threshold/rank
        a_out, b_out, c_out = [], [], []
        for i in range(n):
            row = cos[i]
            cand = np.flatnonzero(row >= thr)
            if cand.size == 0:
                continue
            # top-kk by (cosine desc, id asc): ids are ascending, so a
            # stable sort on -cosine preserves the id tiebreak
            order = cand[np.argsort(-row[cand], kind="stable")][:kk]
            a_out.append(np.full(order.size, ids[i]))
            b_out.append(ids[order])
            c_out.append(row[order])
        if not a_out:
            return pd.DataFrame({"a_id": ids[:0], "b_id": ids[:0],
                                 "cosine": np.zeros(0)})
        return pd.DataFrame(
            {
                "a_id": np.concatenate(a_out),
                "b_id": np.concatenate(b_out),
                "cosine": np.concatenate(c_out),
            }
        )

    direct = cells.groupBy("cell").applyInPandas(
        _directed, f"a_id {id_type}, b_id {id_type}, cosine double"
    )
    # Mutual filter as ONE aggregation instead of a self-join (r12). The
    # join form re-executed the |cell|² GEMM kernel on BOTH sides (the
    # broadcast build side replays its subtree; even as sort-merge the
    # swapped key order (a,b)/(r_b,r_a) defeats exchange reuse) — the
    # dominant stage ran twice per materialization. Because pairs are
    # cell-scoped and each directed list is duplicate-free, a pair is
    # mutual iff its canonical (least, greatest) key occurs exactly twice
    # in the directed list; cos(a,b) == cos(b,a) exactly (boundary-guard
    # discipline above), so min(cosine) is THE pair cosine. One GEMM
    # pass + one narrow-row shuffle with map-side partial aggregation
    # (guide §2.3/§2.4); measured sf0.1 knn_graph_components 5.71→3.44 s,
    # parity pinned in tests/test_similarity.py.
    return (
        direct.groupBy(
            F.least("a_id", "b_id").alias("u"),
            F.greatest("a_id", "b_id").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("__n"), F.min("cosine").alias("cosine"))
        .filter(F.col("__n") == 2)
        .select("u", "v", "cosine")
    )


def knn_graph_components(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    kk: int = 3,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-kNN graph + connected components over an embedding corpus:
    the cluster-discovery composition (mutual edges from
    :func:`knn_graph_mutual_edges`, components from
    graph.connected_components — iterative edge contraction with a
    driver finish, each component labelled by its smallest id). Every
    vector gets a row; isolated vectors are their own singleton
    component with degree 0.

    Output: ``vec_id, component, degree``.
    """
    from binance_futures_data_lake_spark.operators.graph import connected_components

    # Barrier the mutual-edge list: it is the expensive stage (cell GEMM
    # + mutual self-join) and the plan below references it FOUR times
    # (CC's symmetric union twice, the degree union twice) — as a tree
    # each reference re-runs the GEMM (the 1M probe measured 1253 s;
    # ~5 evaluations of a ~4-min stage). One lazy checkpoint makes every
    # consumer read the materialized ≤ kk·|corpus|-row list instead.
    edges = knn_graph_mutual_edges(
        corpus, cents, kk=kk, threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    ).localCheckpoint(eager=False)
    # prepass=False (r10): the round-0 local pre-contraction pays for
    # itself on dup-heavy / locality-rich pair lists (banded LSH dedup,
    # where it eliminated ALL the 100M-probe spill) but this edge list
    # is distinct-by-construction (mutual top-k pairs) and scattered by
    # the mutual self-join's hash partitioning, so round 0 folds almost
    # nothing and its extra pass is pure overhead — measured +53% on a
    # 1M-node/3M-edge scattered graph and +59% on the 1M knn suite
    # stage (SCALE_PROBE_r10 full_10m_suite vs r9; parity of both paths
    # pinned in tests/test_graph.py).
    comp = connected_components(edges, src="u", dst="v", prepass=False)
    deg = (
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(comp.withColumnRenamed("id", "vec_id"), "vec_id", "left")
        .join(deg.withColumnRenamed("id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("comp"), F.col("vec_id")).alias("component"),
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
        )
    )


def _fold_sq_norms(mat):
    """Sequential left fold of Σx² column-by-column — the exact rounding
    order of the SQL ``aggregate`` in :func:`_norm`, shared by every
    kernel that must scale vectors bit-identically to the expression
    path."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for jj in range(mat.shape[1]):
        acc = acc + mat[:, jj] * mat[:, jj]
    return np.sqrt(acc)


def _grid_batch(rb, dim: int):
    """Shared preamble of every kernel that reads a raw ``(id, vec)``
    Arrow batch onto the 1e-6 grid: reject a ragged embedding column,
    fold the norms in the SQL order (:func:`_fold_sq_norms`), drop
    zero-norm vectors (out of cosine domain, matching
    :func:`grid_vectors`) and round half away from zero — the numpy twin
    of :func:`_scaled_unit`. Returns ``(live, s)``: the surviving row
    indices and their grid vectors (exact integers in float64)."""
    import numpy as np

    n = rb.num_rows
    flat = np.asarray(rb.column(1).flatten(), dtype=np.float64)
    if flat.size != n * dim:
        raise ValueError(
            f"ragged embedding column: {flat.size} values for {n} rows × dim {dim}"
        )
    mat = flat.reshape(n, dim)
    nrm = _fold_sq_norms(mat)
    live = np.flatnonzero(nrm > 0)
    v = mat[live] / nrm[live, None] * 1e6
    return live, np.sign(v) * np.floor(np.abs(v) + 0.5)


def _argmin_l2(x, c):
    """Per row of ``x``, the index of the nearest row of ``c`` by squared
    L2 — cell assignment and per-subspace PQ encoding alike. On the grid
    (components ≤ 2e6) every d² term and every sum stays below 2^53, so
    float64 IS exact integer arithmetic, and ``np.argmin``'s first
    minimum is the smallest-index tiebreak the SQL oracles replay. Rows
    are chunked so the (rows × len(c)) distance block stays ~1 MB (at
    least 256 rows). On one 10k-row × 64-dim batch (4-vCPU host) that
    encoded 16 subspaces × 256 codewords in 0.24 s vs 0.42 s unchunked,
    and assigned 10k cells in 0.74 s vs 1.23 s with 64 MB blocks; an
    unchunked batch at 10k cells would allocate 800 MB per worker.
    Chunking is pure per-row math."""
    import numpy as np

    c2 = np.einsum("ij,ij->i", c, c)
    chunk = max(256, 125_000 // c.shape[0])
    idx = np.empty(x.shape[0], dtype=np.int64)
    for lo in range(0, x.shape[0], chunk):
        xs = x[lo:lo + chunk]
        d2 = np.einsum("ij,ij->i", xs, xs)[:, None] - 2.0 * (xs @ c.T) + c2[None, :]
        idx[lo:lo + chunk] = np.argmin(d2, axis=1)
    return idx


def _pq_codes(x, C):
    """The subspace encoder: ``(rows × n_sub)`` nearest-codeword ids of
    grid vectors ``x`` against per-subspace codebooks ``C`` (float64
    arrays, ``ks × sub`` each)."""
    import numpy as np

    sub = C[0].shape[1]
    return np.stack(
        [_argmin_l2(x[:, m * sub:(m + 1) * sub], c) for m, c in enumerate(C)],
        axis=1,
    )


def _grid_assign_residual(cents: list[tuple[int, list[int]]]):
    """Closure pieces for IVFADC kernels: given fixed-point centroids,
    return ``(cell_ids, c_mat, assign)`` where ``assign(smat)`` maps a
    grid-scaled batch (n × dim float64 holding exact ints) to
    ``(cent_index, residual)`` via :func:`_argmin_l2` — cents are sorted
    by cell id HERE (not assumed of the caller), so first-min IS the
    min-cell-id tiebreak the SQL oracle replays regardless of input
    order."""
    import numpy as np

    cents = sorted(cents, key=lambda c: c[0])
    cell_ids = np.array([c for c, _ in cents], dtype=np.int64)
    c_mat = np.array([v for _, v in cents], dtype=np.float64)

    def assign(smat):
        idx = _argmin_l2(smat, c_mat)
        return idx, smat - c_mat[idx]

    return cell_ids, c_mat, assign


def assign_cells_arrow(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-cell assignment as ONE zero-shuffle ``mapInArrow`` pass —
    the kernel twin of the ``_nearest_cells_int`` SQL expression, and
    BIT-IDENTICAL to it: grid values ≤ 1e6 keep every d² term exact in
    float64 (< 2^53), norms use the sequential fold, and the first
    minimum is the min-cell-id tiebreak (:func:`_grid_assign_residual`).

    Exists because the expression form folds an O(num_cells · dim)
    literal tree PER ROW — measured 35.6 s for 200k rows × 128 cells
    (≈ 5.7 ms·core/row) vs ~1 s for this kernel; past ~tens of cells the
    expression is not viable, and at the 512-cell probes it was the
    dominant cost of every consumer. Zero-norm vectors are dropped
    (out of cosine domain), matching ``normalized().filter(nrm > 0)``.

    Output: ``id, cell (int), vec`` — the input shape of
    :func:`ivf_lloyd_topk` and :func:`knn_graph_mutual_edges`.
    """
    import numpy as np
    import pyarrow as pa

    if not cents:
        raise ValueError("cents must be non-empty")
    cell_ids, c_mat, _ = _grid_assign_residual(cents)
    id_type = dict(corpus.dtypes)[id_col]
    vec_type = dict(corpus.dtypes)[vec_col]
    dim = c_mat.shape[1]

    def _assign(batches):
        for rb in batches:
            live, s = _grid_batch(rb, dim)
            if live.size == 0:
                continue
            yield pa.record_batch(
                [pa.array(rb.column(0).to_numpy(zero_copy_only=False)[live]),
                 pa.array(cell_ids[_argmin_l2(s, c_mat)].astype(np.int32)),
                 rb.column(1).take(pa.array(live))],
                names=["id", "cell", "vec"],
            )

    # NOT widened — see the normalized() negative
    return corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(_assign, f"id {id_type}, cell int, vec {vec_type}")


def _exact_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cand: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared exact-rerank tail of the IVFADC recipes (inline and
    stored-codes): the ``(q_id, neighbor_id)`` shortlist broadcasts back
    onto the corpus scan (map-side semi-join, no corpus shuffle) and
    exact cosine runs on |Q|·shortlist rows only — corpus-size-
    independent. Scoring matches the other ANN tiers: SQL-fold dots,
    round6, id tiebreak."""
    nb = normalized(corpus, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("n_vec"), F.col("nrm").alias("n_nrm"),
    )
    qn = normalized(queries, id_col, vec_col).select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm"),
    )
    sim = _dot(F.col("n_vec"), F.col("q_vec")) / (F.col("n_nrm") * F.col("q_nrm"))
    return _rank_cosine(
        nb.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qn), "q_id")
        .select("q_id", "neighbor_id", round6(sim).alias("cosine")),
        k,
    )


def _ivf_query_probe_tables(
    queries: DataFrame,
    C: list,
    cell_ids,
    c_mat,
    nprobe: int,
    id_col: str,
    vec_col: str,
    sub: int,
):
    """Shared query-side setup for the IVFADC tiers (inline
    :func:`pq_ivf_adc_topk` and materialized
    :func:`pq_ivf_adc_codes_topk`): collect the query set behind the
    :data:`IVF_MAX_QUERIES` loud-failure cap, rank cells per query by
    exact integer L2 (stable argsort over cell-id-sorted centroids =
    min-cell-id tiebreak), and precompute per (query, probed cell) the
    ``n_sub × ks`` residual-distance tables. ONE implementation so the
    pinned bit-equality contract between the two paths cannot silently
    diverge (ADVICE r10). Returns ``None`` when no live queries, else
    the packed payload ``(q_ids, probes, qidx, qdt_arr)`` — feed it to
    :func:`_ivf_unpack_tables` on the consumer side.
    """
    import numpy as np

    n_sub = len(C)
    q_pdf = _collect_queries(grid_vectors(queries, id_col, vec_col))
    if q_pdf.empty:
        return None
    q_ids = q_pdf["id"].to_numpy()
    qs = np.array(q_pdf["s"].tolist(), dtype=np.float64)
    npb = min(nprobe, int(cell_ids.size))
    # rank cells per query: exact integer d², cell-id tiebreak (cents
    # sorted ⇒ argsort on (d2, index) = (d2, cell id))
    qd2 = (
        np.einsum("ij,ij->i", qs, qs)[:, None]
        - 2.0 * (qs @ c_mat.T)
        + np.einsum("ij,ij->i", c_mat, c_mat)[None, :]
    )
    order = np.argsort(qd2, axis=1, kind="stable")[:, :npb]
    # per (query, probed cell): residual distance table (n_sub × ks),
    # PACKED into one contiguous array + an index — a dict of nq·nprobe
    # small arrays pickles each one separately, which dominates the
    # broadcast cost at deploy shapes (100 queries × nprobe 16 ≈ 1,600
    # tables); the consumer rebuilds a dict of zero-copy views
    ks = C[0].shape[0]
    probes: dict[int, list[int]] = {}
    qidx: dict[tuple[int, int], int] = {}
    tabs: list = []
    for qi in range(int(q_ids.size)):
        for ci in order[qi]:
            cid = int(cell_ids[ci])
            probes.setdefault(cid, []).append(qi)
            rq = qs[qi] - c_mat[ci]
            qidx[(qi, cid)] = len(tabs)
            tabs.append([
                (
                    (rq[m * sub : (m + 1) * sub][None, :] - C[m]) ** 2
                ).sum(axis=1)
                for m in range(n_sub)
            ])
    qdt_arr = (
        np.array(tabs, dtype=np.float64)
        if tabs else np.zeros((0, n_sub, ks))
    )
    return q_ids, probes, qidx, qdt_arr


def _ivf_unpack_tables(qp):
    """Worker-side twin of :func:`_ivf_query_probe_tables`: rebuild the
    ``(q_ids, probes, qdt)`` lookup structure from the packed broadcast
    payload (``qdt`` values are zero-copy views into the one array)."""
    q_ids, probes, qidx, qdt_arr = qp
    return q_ids, probes, {k: qdt_arr[i] for k, i in qidx.items()}


def _ivf_accumulate_partial_topk(ids, row_cells, codes, q_ids, probes, qdt, k):
    """Per-batch ADC accumulate + partial top-k shared by the inline and
    stored-codes IVFADC kernels (the bit-equality contract between the
    two paths is pinned to THIS one copy — ADVICE r10). For each probed
    cell present in the batch, table-look-up distances for every query
    probing it, drop self-matches, keep each query's k smallest (k-th
    ties kept; the downstream window breaks them). Returns
    ``(q_out, n_out, d_out)`` 1-D arrays, or ``None`` if nothing
    scored."""
    import numpy as np

    n_sub = codes.shape[1]
    acc: dict[int, list] = {}
    for cid in np.unique(row_cells):
        qlist = probes.get(int(cid))
        if not qlist:
            continue
        sel = np.flatnonzero(row_cells == cid)
        csel = codes[sel]
        for qi in qlist:
            tabs = qdt[(qi, int(cid))]
            ad = tabs[0][csel[:, 0]]
            for m in range(1, n_sub):
                ad = ad + tabs[m][csel[:, m]]
            acc.setdefault(qi, []).append((ids[sel], ad))
    q_out, n_out, d_out = [], [], []
    for qi, parts in acc.items():
        cand_id = np.concatenate([p[0] for p in parts])
        cand_d = np.concatenate([p[1] for p in parts])
        keep = cand_id != q_ids[qi]
        cand_id, cand_d = cand_id[keep], cand_d[keep]
        if cand_d.size > k:
            thr = np.partition(cand_d, k - 1)[k - 1]
            kp = cand_d <= thr  # k-th ties kept; window breaks
            cand_id, cand_d = cand_id[kp], cand_d[kp]
        q_out.append(np.full(cand_id.size, q_ids[qi]))
        n_out.append(cand_id)
        d_out.append(cand_d.astype(np.int64))
    if not q_out:
        return None
    return (
        np.concatenate(q_out),
        np.concatenate(n_out),
        np.concatenate(d_out),
    )


def _rank_adc_topk(partial: DataFrame, k: int) -> DataFrame:
    """Global window rank over the kernels' partial top-k output —
    shared tail of both IVFADC paths."""
    w = Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "adc_dist", "rnk")
    )


def pq_residual_codebooks(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    n_sub: int = 4,
    ks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Seeded RESIDUAL codebooks — the IVFADC index build (Jégou et al.
    2011 §IV-B: encode the residual after coarse quantization, not the
    vector). Flat PQ on clustered data wastes its codewords re-stating
    which cluster a vector sits in (the cell id already says so);
    subtracting the assigned centroid leaves only the within-cell
    offset, which is where the neighbors-within-a-cluster information
    lives. The draw is :func:`seed_cells`: the ``ks`` smallest-hash
    grid vectors, assigned to their nearest centroid by exact integer L2
    (min-cell-id tiebreak), residual-sliced into ``n_sub`` contiguous
    sub-vectors — codeword j of subspace m is seed j's m-th slice. The
    collect is ``ks`` rows, bounded by contract; every arithmetic step is
    exact integers, so a SQL oracle replays the build bit-for-bit. With
    ``cents = [(0, [0] * dim)]`` the residual is the vector and these
    are flat PQ codebooks.

    Residual components are ≤ 2e6 on the grid (difference of two unit-
    grid vectors), so ADC sums stay ≤ ~1e15 < 2^53.

    Returns ``books[m][j] = list[int]`` of length dim // n_sub.
    """
    import numpy as np

    seeds = seed_cells(grid_vectors(corpus, id_col, vec_col), ks)
    if not seeds:
        raise ValueError("pq_residual_codebooks: empty corpus")
    dim = len(seeds[0][1])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    _, _, assign = _grid_assign_residual(cents)
    _, res = assign(np.array([s for _, s in seeds], dtype=np.float64))
    return [
        [[int(v) for v in row[m * sub : (m + 1) * sub]] for row in res]
        for m in range(n_sub)
    ]


def _pq_lloyd_refine(sv, books, n_sub: int, iters: int):
    """Per-subspace Lloyd loop over a cached frame whose single column is
    a grid-integer residual vector. One ``mapInArrow`` corpus pass per
    iteration trains all subspaces; per-batch partial sums are exact
    integers in float64, the driver reduce is bounded (≤ batches·n_sub·ks
    rows) and integer-exact, new codewords round half-away-from-zero,
    :func:`_pq_codes` first-min = smallest-code-id tiebreak, empty
    codewords keep their previous value — bit-identical across runs and
    partitionings."""
    import numpy as np
    import pyarrow as pa

    sub = len(books[0][0])
    dim = n_sub * sub
    for _ in range(iters):
        C = [np.array(b, dtype=np.float64) for b in books]

        def _partials(batches, _C=C):
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                flat = np.asarray(rb.column(0).flatten(), dtype=np.float64)
                mat = flat.reshape(n, dim)
                codes = _pq_codes(mat, _C)
                for m in range(n_sub):
                    ksm = _C[m].shape[0]
                    cnt = np.bincount(codes[:, m], minlength=ksm)
                    sums = np.zeros((ksm, sub))
                    np.add.at(sums, codes[:, m], mat[:, m * sub : (m + 1) * sub])
                    live = np.flatnonzero(cnt)
                    yield pa.record_batch(
                        [
                            pa.array(np.full(live.size, m, dtype=np.int64)),
                            pa.array(live.astype(np.int64)),
                            pa.array(cnt[live].astype(np.int64)),
                            pa.array(
                                [r.astype(np.int64) for r in sums[live]],
                                type=pa.list_(pa.int64()),
                            ),
                        ],
                        names=["m", "j", "cnt", "sums"],
                    )

        rows = sv.mapInArrow(
            _partials, "m long, j long, cnt long, sums array<long>"
        ).collect()
        cnts: dict = {}
        acc: dict = {}
        for r in rows:
            key = (int(r["m"]), int(r["j"]))
            cnts[key] = cnts.get(key, 0) + int(r["cnt"])
            if key not in acc:
                acc[key] = [0] * sub
            dst = acc[key]
            for i, v in enumerate(r["sums"]):
                dst[i] += int(v)
        books = [
            [
                (
                    [
                        _round_half_away_int(s, cnts[(m, j)])
                        for s in acc[(m, j)]
                    ]
                    if (m, j) in acc
                    else books[m][j]  # empty codeword: keep previous
                )
                for j in range(len(books[m]))
            ]
            for m in range(n_sub)
        ]
    return books


def pq_residual_codebooks_lloyd(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    n_sub: int = 8,
    ks: int = 256,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """PRODUCTION-QUALITY residual codebooks: per-subspace Lloyd (k-means)
    refinement of the :func:`pq_residual_codebooks` draw. One
    ``mapInArrow`` pass materializes each vector's residual against its
    nearest centroid (exact integer grid, min-cell tiebreak); the cached
    residual frame then feeds the per-subspace Lloyd loop
    (:func:`_pq_lloyd_refine`), all ``n_sub`` subspaces trained in one
    corpus pass per iteration.

    Why training matters: seeded codewords slice whole corpus vectors,
    so on CLUSTERED data every codeword inherits the cluster structure
    and sub-codes collapse onto cluster identity — the 1M-vector probe
    measured flat seeded recall ≈ 0 because within-cluster neighbors tie
    on identical codes and the id-tiebreak wins. Lloyd iterations move
    codewords into the residual/noise structure of each subspace
    independently, which is what gives PQ its discrimination (Jégou et
    al. 2011 train per-subspace k-means; at ks=256 a code stays one
    byte). ``cents = [(0, [0] * dim)]`` trains flat PQ codebooks.

    Same fixed-point determinism contract as :func:`ivf_lloyd_centroids`:
    codebooks are a pure function of (corpus, cents, n_sub, ks, iters),
    bit-identical across runs and partitionings."""
    import numpy as np
    import pyarrow as pa

    books = pq_residual_codebooks(
        corpus, cents, n_sub=n_sub, ks=ks, id_col=id_col, vec_col=vec_col
    )
    sub = len(books[0][0])
    dim = n_sub * sub
    _, _, assign = _grid_assign_residual(cents)

    def _residuals(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            flat = np.asarray(rb.column(0).flatten(), dtype=np.float64)
            _, res = assign(flat.reshape(n, dim))
            yield pa.record_batch(
                [pa.array([r.astype(np.int64) for r in res],
                          type=pa.list_(pa.int64()))],
                names=["r"],
            )

    rv = (
        grid_vectors(corpus, id_col, vec_col).select("s")
        .mapInArrow(_residuals, "r array<long>")
        .cache()
    )
    try:
        books = _pq_lloyd_refine(rv, books, n_sub, iters)
    finally:
        rv.unpersist()
    return books


def pq_ivf_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV-B): the inverted-file + residual-PQ
    composition that FAISS calls IVFPQ, and the full memory-compression
    scale path — a 100 TB corpus stores (cell id + n_sub bytes) per
    vector, queries probe ``nprobe`` cells and rank candidates by
    residual-ADC table lookups.

    Query side: collected behind the :data:`IVF_MAX_QUERIES` hard cap
    (the ``limit(cap+1)`` loud-failure contract), cells ranked by exact
    integer L2 on the grid (cell-id tiebreak); per probed cell the query
    precomputes an ``n_sub × ks`` table of residual distances
    ``(q_s − cent) vs codewords``. Corpus side: ONE zero-shuffle
    ``mapInArrow`` pass — grid-scale, assign cell (same exact argmin as
    the index build), residual-encode, then rows grouped by cell score
    ONLY against the queries probing that cell, partial top-k per batch
    (k-th ties kept, the window breaks them). At 100 TB the cell id is
    the partition key, so a probe reads nprobe/num_cells of the corpus
    via partition pruning — the scan shape of :func:`ivf_lloyd_topk`
    with product-quantized candidate arithmetic.

    Flat PQ is the one-cell case: with ``cents = [(0, [0] * dim)]`` every
    vector's residual is the vector itself, every query probes the one
    cell, and the scan ranks the whole corpus by plain ADC.

    Exactness: residual components ≤ 2e6 ⇒ per-term d² ≤ 1.6e13, ADC
    sums ≤ ~1e15 < 2^53 — float64 IS the BIGINT arithmetic the oracle
    runs; distances are exact integers, ties break by neighbor id.

    Output: ``q_id, neighbor_id, adc_dist (BIGINT), rnk``; self-matches
    excluded, zero-norm vectors out of domain on both sides.
    """
    import numpy as np
    import pyarrow as pa

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    sub = len(books[0][0])
    C = [np.array(b, dtype=np.float64) for b in books]
    cell_ids, c_mat, assign = _grid_assign_residual(cents)
    dim = c_mat.shape[1]
    q_id_type = dict(queries.dtypes)[id_col]
    n_id_type = dict(corpus.dtypes)[id_col]
    spark = corpus.sparkSession
    empty_schema = (
        f"q_id {q_id_type}, neighbor_id {n_id_type}, adc_dist long, rnk int"
    )

    qp = _ivf_query_probe_tables(
        queries, C, cell_ids, c_mat, nprobe, id_col, vec_col, sub
    )
    if qp is None:
        return spark.createDataFrame([], empty_schema)
    # the per-(query, probed cell) tables are nq·nprobe·n_sub·ks floats
    # — tens of MB at deploy shapes (100 queries × nprobe 16 × 16×256
    # ≈ 52 MB). BROADCAST them: closure capture re-ships that with
    # every task, which the r11 --pq-cells probe measured as the
    # dominant query cost once num_cells (= task count over a
    # partitioned index) reaches the thousands.
    bc = spark.sparkContext.broadcast(qp)

    def _kernel(batches):
        q_ids, probes, qdt = _ivf_unpack_tables(bc.value)
        for rb in batches:
            live, s = _grid_batch(rb, dim)
            if live.size == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)[live]
            cidx, res = assign(s)
            out = _ivf_accumulate_partial_topk(
                ids, cell_ids[cidx], _pq_codes(res, C), q_ids, probes, qdt, k
            )
            if out is None:
                continue
            yield pa.record_batch(
                [pa.array(out[0]), pa.array(out[1]), pa.array(out[2])],
                names=["q_id", "neighbor_id", "adc_dist"],
            )

    partial = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(
        _kernel, f"q_id {q_id_type}, neighbor_id {n_id_type}, adc_dist long"
    )
    return _rank_adc_topk(partial, k)


def pq_ivf_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC + exact re-rank — the full FAISS-style production recipe:
    :func:`pq_ivf_adc_topk` surfaces a ``shortlist`` from (cell id +
    codes) alone, exact cosine re-ranks only those |Q|·shortlist
    survivors (:func:`_exact_rerank_topk`). NOTE the shortlist here
    INLINE-ENCODES the corpus per query run; when a materialized code
    index exists, :func:`pq_ivf_rerank_codes_topk` is the deployed form
    (the r11 1M probe measured the per-query encode as ~the whole
    rerank wall).

    Output: ``q_id, neighbor_id, cosine, rnk``.
    """
    cand = pq_ivf_adc_topk(
        corpus, queries, cents, books, k=shortlist, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("q_id", "neighbor_id")
    return _exact_rerank_topk(corpus, queries, cand, k, id_col, vec_col)


def pq_ivf_rerank_codes_topk(
    corpus: DataFrame,
    codes_df: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deployed IVFPQ recipe END-TO-END: the ADC shortlist comes
    from the MATERIALIZED code index (:func:`pq_ivf_adc_codes_topk` —
    probed-cell partition pruning, pure table-lookup scoring, zero
    per-query encode work; the encode was paid once by
    :func:`pq_encode`), then :func:`_exact_rerank_topk` exact-scores
    only the |Q|·shortlist survivors against the raw vectors via
    broadcast semi-join. This is the query a 100 TB deployment actually
    runs: the full corpus is read as codes (64× denser, nprobe/num_cells
    of the files), raw vectors are touched for shortlist rows only.
    Results are BIT-EQUAL to :func:`pq_ivf_rerank_topk` on the same
    (corpus, cents, books) — the shortlist is bit-equal by the codes
    contract and the tail is the same function.

    Output: ``q_id, neighbor_id, cosine, rnk``.
    """
    cand = pq_ivf_adc_codes_topk(
        codes_df, queries, cents, books, k=shortlist, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("q_id", "neighbor_id")
    return _exact_rerank_topk(corpus, queries, cand, k, id_col, vec_col)


def pq_encode(
    corpus: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVFPQ INDEX: one zero-shuffle pass encoding every
    corpus vector to ``(id, cell, n_sub codes)`` — the form a 100 TB
    deployment persists (``.write.partitionBy("cell")``), because query
    time then reads codes instead of vectors (≈ 64× fewer bytes for
    64-dim float64 at n_sub=16) and a probe's ``cell IN (...)`` filter
    partition-prunes to nprobe/num_cells of the files before a single
    byte is scanned. Encoding is the same exact integer-grid arithmetic
    as :func:`pq_ivf_adc_topk`'s inline path — the two are bit-equal by
    construction (pinned in tests/test_pq_ivf.py). Zero-norm vectors
    are out of cosine domain and dropped, matching every PQ/IVF tier.

    Output: ``id, cell (int), codes (array<smallint>, length n_sub)``.
    """
    import numpy as np
    import pyarrow as pa

    C = [np.array(b, dtype=np.float64) for b in books]
    cell_ids, c_mat, assign = _grid_assign_residual(cents)
    dim = c_mat.shape[1]
    id_type = dict(corpus.dtypes)[id_col]

    def _kernel(batches):
        for rb in batches:
            live, s = _grid_batch(rb, dim)
            if live.size == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)[live]
            cidx, res = assign(s)
            codes = _pq_codes(res, C).astype(np.int16)
            yield pa.record_batch(
                [
                    pa.array(ids),
                    pa.array(cell_ids[cidx].astype(np.int32)),
                    pa.array(list(codes), type=pa.list_(pa.int16())),
                ],
                names=["id", "cell", "codes"],
            )

    return corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInArrow(_kernel, f"id {id_type}, cell int, codes array<smallint>")


def pq_ivf_adc_codes_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC over a MATERIALIZED code index (:func:`pq_encode` output)
    — the query-time half of the deployed IVFPQ split: the probed-cell
    filter is a plain ``cell IN (...)`` predicate, so over a
    cell-partitioned parquet index it partition-prunes to
    nprobe/num_cells of the files, and the scan carries (id, cell,
    n_sub smallints) per row instead of dim doubles. Scoring is pure
    table lookup (no encode work — that was paid once at index build),
    fused with the per-batch partial top-k. Results are BIT-EQUAL to
    :func:`pq_ivf_adc_topk` on the same (corpus, cents, books): same
    tables, same exact-integer distances, same tiebreaks.

    Output: ``q_id, neighbor_id, adc_dist (BIGINT), rnk``.
    """
    import numpy as np
    import pyarrow as pa

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    n_sub = len(books)
    ks = len(books[0])
    sub = len(books[0][0])
    C = [np.array(b, dtype=np.float64) for b in books]
    cell_ids, c_mat, _ = _grid_assign_residual(cents)
    q_id_type = dict(queries.dtypes)[id_col]
    n_id_type = dict(codes_df.dtypes)["id"]
    spark = codes_df.sparkSession
    empty_schema = (
        f"q_id {q_id_type}, neighbor_id {n_id_type}, adc_dist long, rnk int"
    )

    qp = _ivf_query_probe_tables(
        queries, C, cell_ids, c_mat, nprobe, id_col, vec_col, sub
    )
    if qp is None:
        return spark.createDataFrame([], empty_schema)
    probed_cells = sorted(qp[1])
    # broadcast, not closure capture: see pq_ivf_adc_topk — over a
    # cell-partitioned index the task count is the partition count, so
    # re-shipping the query tables per task dominates at 1k+ cells.
    bc = spark.sparkContext.broadcast(qp)

    def _kernel(batches):
        q_ids, probes, qdt = _ivf_unpack_tables(bc.value)
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            row_cells = rb.column(1).to_numpy(zero_copy_only=False)
            codes = np.asarray(rb.column(2).flatten(), dtype=np.int64)
            if codes.size != n * n_sub:
                raise ValueError(
                    f"ragged codes column: {codes.size} values for "
                    f"{n} rows × n_sub {n_sub}"
                )
            codes = codes.reshape(n, n_sub)
            # a stale/mismatched index must fail loudly, not wrap:
            # negative numpy indices would silently read the wrong
            # codeword; >= ks raises anyway but check both for the
            # same ragged-column-style message (ADVICE r10)
            if codes.size and (codes.min() < 0 or codes.max() >= ks):
                raise ValueError(
                    f"codes out of range [0, {ks}): min {codes.min()}, "
                    f"max {codes.max()} — stale or mismatched code index "
                    "for these codebooks"
                )
            out = _ivf_accumulate_partial_topk(
                ids, row_cells, codes, q_ids, probes, qdt, k
            )
            if out is None:
                continue
            yield pa.record_batch(
                [pa.array(out[0]), pa.array(out[1]), pa.array(out[2])],
                names=["q_id", "neighbor_id", "adc_dist"],
            )

    # the probed-cell predicate is WHERE-clause visible, so a
    # cell-partitioned parquet index partition-prunes before the scan
    pruned = codes_df.filter(F.col("cell").isin(probed_cells)).select(
        F.col("id"), F.col("cell").cast("int").alias("cell"), F.col("codes")
    )
    partial = pruned.mapInArrow(
        _kernel, f"q_id {q_id_type}, neighbor_id {n_id_type}, adc_dist long"
    )
    return _rank_adc_topk(partial, k)
