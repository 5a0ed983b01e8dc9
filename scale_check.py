#!/usr/bin/env python
"""Scale probe: run the core operator pipeline on a generated dataset far
larger than the driver testdata, and report per-stage throughput.

`--rows` controls total M1 bar count (default 10M across 100 symbols —
~3 orders of magnitude above sf0.1). Generation is `spark.range`-based and
distributed; nothing here collects more than aggregate scalars to the
driver, so the same script is a valid cluster smoke test: the dataset that
breaks a driver-side design has no place to hide.

Stages: synthetic generation → M5 resample with completeness → window
feature pass (lag/rolling/ATR/VWAP/z-score) → bucketed EWM kernels →
backward as-of join (M1 ← H1 regime) → dedup-keep-last. Prints one JSON
line: {"rows": N, "stages": {name: {"sec": s, "rows_per_sec": r}}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from binance_futures_data_lake_spark import obs  # noqa: E402
from binance_futures_data_lake_spark.functions import windows as W  # noqa: E402
from binance_futures_data_lake_spark.functions.ewm import ewm_apply, span_to_alpha  # noqa: E402
from binance_futures_data_lake_spark.operators.asof import asof_join_backward  # noqa: E402
from binance_futures_data_lake_spark.operators.dedup import dedup_keep_last  # noqa: E402
from binance_futures_data_lake_spark.operators.resample import resample_bars  # noqa: E402
from binance_futures_data_lake_spark.session import get_spark  # noqa: E402
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1  # noqa: E402


def _h01(*cols):
    """Deterministic [0,1): xxhash64 folded to a positive residue."""
    return ((F.xxhash64(*cols) % 1_000_003 + 1_000_003) % 1_000_003) / 1_000_003.0


def clustered_vectors(spark, n_vecs: int, dim: int = 64, n_latent: int = 32):
    """The ANN probes' corpus: ``(vec_id, embedding)`` with ``n_latent``
    clusters of contiguous ids; each coordinate is the cluster's center in
    [-1, 1) plus up to ±0.35 per-vector noise. Generated in-plan, so an
    uncached frame regenerates identically on every pass."""
    block = n_vecs // n_latent
    clus = F.floor(F.col("vec_id") / block).cast("int")
    comps = [
        (
            (2.0 * _h01(clus, F.lit(f"c{j}")) - 1.0)
            + 0.35 * (2.0 * _h01(F.col("vec_id"), F.lit(f"n{j}")) - 1.0)
        ).cast("float")
        for j in range(dim)
    ]
    return (
        spark.range(n_vecs)
        .select(F.col("id").alias("vec_id"))
        .withColumn("embedding", F.array(*comps))
    )


def probe_queries(vecs, n_vecs: int, n_latent: int = 32):
    """The 100 probe queries of a ``clustered_vectors`` corpus: the first
    20 ids of each of the first 5 clusters."""
    block = n_vecs // n_latent
    return vecs.filter(
        (F.col("vec_id") % block < 20) & (F.col("vec_id") < 5 * block)
    )


def planted_fingerprints(spark, n: int):
    """``(doc_id, fp)`` 64-bit fingerprints with planted near-duplicates:
    ids < 100k form 10k groups of 10 (5 identical + 5 one-distinct-bit
    members), the rest are unique xxhash64 values. Generated in-plan."""
    member = F.col("id") % 10
    base = F.xxhash64(
        F.when(F.col("id") < 100_000, F.floor(F.col("id") / 10))
        .otherwise(F.col("id"))
        .cast("long")
    )
    # F.shiftleft needs a literal bit count — expression form takes a column
    flip = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(((id % 10) * 7) % 64 AS INT))")
    fp = F.when(
        (F.col("id") < 100_000) & (member >= 5), base.bitwiseXOR(flip)
    ).otherwise(base)
    return spark.range(n).select(F.col("id").alias("doc_id"), fp.alias("fp"))


def train_sample(vecs, n_vecs: int, cap: int):
    """Deterministic hash-mod training sample of about ``cap`` rows
    (replayable, order-free): ``(mod, sample)``."""
    mod = max(1, n_vecs // cap)
    return mod, vecs.filter(F.xxhash64("vec_id") % mod == 0) if mod > 1 else vecs


def write_grouped_codes(codes, n_groups: int, path: str) -> None:
    """The grouped IVFPQ index layout: ``partitionBy(cell % n_groups)`` with
    cells sorted inside each file — fewer, bigger files than one directory
    per cell; parquet row-group stats skip non-probed cells."""
    (
        codes.withColumn("cell_grp", F.col("cell") % n_groups)
        .repartition("cell_grp")
        .sortWithinPartitions("cell_grp", "cell")
        .write.mode("overwrite")
        .partitionBy("cell_grp")
        .parquet(path)
    )


def window_features(bars, by: list[str], order: list[str]):
    """The bar-feature window pass: lag, return, rolling mean/z-score,
    true range, ATR."""
    return (
        bars.withColumn("prev_close", W.lag_col("close", 1, by, order))
        .withColumn("ret", W.pct_change("close", by, order))
        .withColumn("roll_mean20", W.rolling_mean("close", 20, by, order, min_periods=20))
        .withColumn("close_z20", W.rolling_zscore("close", 20, by, order))
        .withColumn("tr", W.true_range(by, order))
        .withColumn("atr14", W.atr_sma(14, by, order))
    )


def heap_gb(spark) -> dict:
    """The driver JVM's used and max heap, GB."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return {
        "heap_used_gb": round((rt.totalMemory() - rt.freeMemory()) / 2**30, 2),
        "heap_max_gb": round(rt.maxMemory() / 2**30, 2),
    }


def chain_edges(spark, n: int, chain: int):
    """``(doc_a, doc_b)`` edges linking ids ``0..n-1`` into chains of
    ``chain`` nodes — the adversarial depth case for label propagation."""
    return (
        spark.range(n)
        .filter(F.col("id") % chain != chain - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )


def chain_mislabels(labels, chain: int) -> int:
    """Rows of a ``chain_edges`` component labelling whose ``comp`` is not
    the chain head."""
    return labels.filter(F.col("comp") != (F.col("id") - F.col("id") % chain)).count()


def topk_pairs(topk) -> set:
    """The ``(q_id, neighbor_id)`` pairs of a top-k frame, collected."""
    return {(r.q_id, r.neighbor_id) for r in topk.collect()}


def du_mb_and_files(path: str) -> tuple[float, int]:
    """Size in MB of everything under ``path``, and its parquet file count."""
    tot, nf = 0, 0
    for root, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                nf += 1
            tot += os.path.getsize(os.path.join(root, fn))
    return round(tot / 2**20, 1), nf


_GB_FIELDS = {
    "shuffle_read_gb": "shuffle_read_bytes",
    "shuffle_write_gb": "shuffle_write_bytes",
    "mem_spill_gb": "memory_spilled_bytes",
    "disk_spill_gb": "disk_spilled_bytes",
}


def gb(totals: dict, since: dict | None = None) -> dict:
    """``obs.stage_totals`` shuffle and spill bytes as GB fields, less the
    totals ``since`` an earlier snapshot."""
    since = since or {}
    return {
        k: round((totals[src] - since.get(src, 0)) / 2**30, 3)
        for k, src in _GB_FIELDS.items()
    }


def flagship_main() -> None:
    """One-order-higher probe (VERDICT r5 #9): the 3 flagship shapes —
    OHLCV resample, backward as-of join, banded-hamming near-dup — at
    ``--rows`` (default 100M), each with its FINAL-plan shuffle-exchange
    count (AQE-final via obs.exchange_count(execute=True), which re-runs the
    stage untimed) and JVM heap headroom after the stage. The claim under
    test: exchange counts are identical to the 10M probe's — the plans
    scale by partition width, not by new shuffles."""
    total_rows = (
        int(sys.argv[sys.argv.index("--rows") + 1])
        if "--rows" in sys.argv else 100_000_000
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "100g")
    spark = get_spark("bfdl-flagship")
    from binance_futures_data_lake_spark.operators.textdedup import (
        hamming_near_pairs,
    )

    stages: dict[str, dict] = {}

    def stage(name: str, df) -> None:
        dt = obs.run(spark, name, lambda: df)["best_s"]
        n = df.count()
        stages[name] = {
            "sec": round(dt, 2),
            "rows": n,
            "rows_per_sec": int(n / dt) if dt else None,
            "shuffle_exchanges": obs.exchange_count(df, execute=True),
            **heap_gb(spark),
        }

    # 1000 symbols × total/1000 minutes; generation is in-plan (range +
    # xxhash), so each stage regenerates instead of caching 100M wide rows
    n_symbols = 1000
    n_minutes = max(1440, total_rows // n_symbols)
    symbols = tuple(f"SYM{i:04d}" for i in range(n_symbols))

    def m1():
        return synthetic_klines_m1(
            spark, symbols=symbols, n_minutes=n_minutes, trend_amp=0.05
        )

    stage("flagship_resample_m5", resample_bars(m1(), 5, ["symbol"]))

    base = m1().select("symbol", "ts", "close")
    h1 = resample_bars(m1(), 60, ["symbol"]).select(
        "symbol", "ts", F.col("close").alias("close_h1")
    )
    stage(
        "flagship_asof_m1_from_h1",
        asof_join_backward(base, h1, on="ts", by=["symbol"]),
    )

    fps = planted_fingerprints(spark, total_rows)
    stage(
        "flagship_hamming_band_join",
        hamming_near_pairs(fps, "fp", max_hamming=3, bits=64, n_bands=4),
    )

    # DSIR scoring at 100M docs (r6): the selection tier's flagship shape.
    # Generation is in-plan (range + md5 tokens, ~6 unigrams + 5 bigrams
    # per doc ≈ 1.1B gram instances); the fit is one corpus scan ending
    # in an 8192-row aggregate, scoring is the zero-exchange map-only
    # literal-table pass — the claim under test is that BOTH plans keep
    # their exchange counts from the 1M probe while rows scale 100×.
    from binance_futures_data_lake_spark.operators.curation import (
        dsir_fit, dsir_logweights,
    )

    # materialize the corpus to parquet first — that's the production
    # shape (fit and scoring each scan storage once), and it keeps the
    # gram expressions from re-inlining the md5 text generation on every
    # reference (tokenizer expressions are evaluated per reference; a
    # stored column is read once)
    sel_dir = tempfile.mkdtemp(prefix="bfdl_dsir_")
    try:
        t0 = time.perf_counter()
        spark.range(total_rows).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 50).cast("string").alias("source"),
            F.concat_ws(
                " ",
                *[F.md5((F.col("id") * 17 + i).cast("string")) for i in range(6)],
            ).alias("text"),
        ).write.mode("overwrite").parquet(sel_dir)
        gen_sec = round(time.perf_counter() - t0, 2)
        sel_docs = spark.read.parquet(sel_dir)
        t0 = time.perf_counter()
        lam = dsir_fit(sel_docs, F.col("source") < "2", n_buckets=8192)
        fit_sec = round(time.perf_counter() - t0, 2)
        stage("flagship_dsir_score", dsir_logweights(sel_docs, lam))
        stages["flagship_dsir_score"].update(
            fit_sec=fit_sec, gen_write_sec=gen_sec, n_buckets=8192
        )
    finally:
        shutil.rmtree(sel_dir, ignore_errors=True)

    print(json.dumps({
        "mode": "flagship", "rows": total_rows, "n_symbols": n_symbols,
        "stages": stages,
    }))
    spark.stop()


def _arg(flag: str, default: int) -> int:
    return int(sys.argv[sys.argv.index(flag) + 1]) if flag in sys.argv else default


def pq_recall_main() -> None:
    """Seeded-vs-trained PQ recall at probe scale (VERDICT r8 #2): the
    committed artifact behind every recall claim in OPERATORS.md. Same
    clustered generator as the main ANN probe (64d, 32 latent blocks,
    100 queries, k=10), flat PQ (IVFADC over one all-zero cell) with
    BOTH book types (seeded ``pq_residual_codebooks`` — the
    SQL-replayable registry contract — and Lloyd-trained
    ``pq_residual_codebooks_lloyd`` n_sub=16 × ks=256, the deploy
    config), ADC and shortlist-reranked recall each, plus a shortlist
    SWEEP (1000/2000/5000) on the trained books so the deploy story
    states how recall is bought with shortlist instead of advertising
    one number. ``--rows`` is the vector count (default 1M)."""
    n_vecs = _arg("--rows", 1_000_000)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("bfdl-pq-recall")
    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk,
        ivf_lloyd_centroids,
        pq_ivf_adc_topk,
        pq_ivf_rerank_topk,
        pq_residual_codebooks,
        pq_residual_codebooks_lloyd,
    )

    dim, ann_k = 64, 10
    ann = clustered_vectors(spark, n_vecs, dim).cache()
    ann.count()
    annq = probe_queries(ann, n_vecs)
    truth = topk_pairs(brute_force_topk(ann, annq, k=ann_k))

    rows: list[dict] = []

    def measure(name: str, books_name: str, df_thunk, extra: dict) -> None:
        t0 = time.perf_counter()
        found = topk_pairs(df_thunk())
        rows.append({
            "stage": name, "books": books_name,
            "recall_at_10": round(len(found & truth) / len(truth), 4),
            "sec": round(time.perf_counter() - t0, 2), **extra,
        })

    flat = [(0, [0] * dim)]  # flat PQ: one zero cell, residual = vector
    t0 = time.perf_counter()
    seeded = pq_residual_codebooks(ann, flat, n_sub=16, ks=256)
    seeded_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    trained = pq_residual_codebooks_lloyd(ann, flat, n_sub=16, ks=256, iters=2)
    trained_sec = round(time.perf_counter() - t0, 2)

    def flat_adc(books):
        return lambda: pq_ivf_adc_topk(ann, annq, flat, books, k=ann_k, nprobe=1)

    def flat_rerank(books, sl):
        return lambda: pq_ivf_rerank_topk(
            ann, annq, flat, books, k=ann_k, shortlist=sl, nprobe=1)

    measure("pq_adc", "seeded", flat_adc(seeded), {"codebook_sec": seeded_sec})
    measure("pq_rerank_1000", "seeded", flat_rerank(seeded, 1000), {})
    measure("pq_adc", "trained", flat_adc(trained), {"codebook_sec": trained_sec})
    for sl in (1000, 2000, 5000):
        measure(f"pq_rerank_{sl}", "trained", flat_rerank(trained, sl),
                {"shortlist_pct_of_corpus": round(100.0 * sl / n_vecs, 3)})

    # IVFADC rows (r10): residual encoding against Lloyd cell MEANS —
    # the tier where raw ADC recall is bought with arithmetic instead
    # of shortlist. Same 16×256 code budget as the flat trained books;
    # nprobe sweeps the probe-vs-recall trade.
    t0 = time.perf_counter()
    cents = ivf_lloyd_centroids(ann, num_cells=32, iters=2)
    cents_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    res_books = pq_residual_codebooks_lloyd(ann, cents, n_sub=16, ks=256,
                                            iters=2)
    res_sec = round(time.perf_counter() - t0, 2)
    for npb in (4, 8):
        measure(
            f"pq_ivfadc_nprobe{npb}", "residual",
            lambda npb=npb: pq_ivf_adc_topk(
                ann, annq, cents, res_books, k=ann_k, nprobe=npb),
            {"codebook_sec": res_sec, "centroids_sec": cents_sec,
             "num_cells": 32},
        )
    measure(
        "pq_ivfadc_rerank_1000", "residual",
        lambda: pq_ivf_rerank_topk(
            ann, annq, cents, res_books, k=ann_k, shortlist=1000, nprobe=8),
        {"num_cells": 32},
    )

    print(json.dumps({
        "mode": "pq_recall", "n_vectors": n_vecs, "dim": dim,
        "n_queries": 100, "k": ann_k, "n_sub": 16, "ks": 256, "rows": rows,
    }))
    spark.stop()


def pq_ivf_scan_main() -> None:
    """IVFADC scan economics at ``--rows`` (default 10M) vectors: the
    headline scale property of the inverted file is that the ADC scan
    touches ~nprobe/num_cells of the corpus (cell-id partition pruning
    at 100 TB; an in-kernel cell mask here), so the compressed-tier
    query cost drops by the pruning factor ON TOP of the recall lift
    the 1M probe measured. Seeded books/cells both sides (throughput
    row — recall is the 1M probe's job): flat full-scan ADC vs IVFADC
    at nprobe 4 and 8 of 32 cells, same 16×256 code budget, 100
    queries."""
    n_vecs = _arg("--rows", 10_000_000)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "64g")
    spark = get_spark("bfdl-pq-ivf-scan")
    from binance_futures_data_lake_spark.operators.similarity import (
        grid_vectors,
        pq_encode,
        pq_ivf_adc_codes_topk,
        pq_ivf_adc_topk,
        pq_residual_codebooks,
        seed_cells,
    )

    dim, ann_k = 64, 10
    ann = clustered_vectors(spark, n_vecs, dim).cache()
    ann.count()
    annq = probe_queries(ann, n_vecs)

    t0 = time.perf_counter()
    flat = [(0, [0] * dim)]  # flat PQ: one zero cell, residual = vector
    flat_books = pq_residual_codebooks(ann, flat, n_sub=16, ks=256)
    cents = seed_cells(grid_vectors(ann), 32)
    res_books = pq_residual_codebooks(ann, cents, n_sub=16, ks=256)
    books_sec = round(time.perf_counter() - t0, 2)

    rows = []

    def run(name, thunk, extra=None):
        t0 = time.perf_counter()
        n = thunk().count()
        rows.append({
            "stage": name, "sec": round(time.perf_counter() - t0, 2),
            "result_rows": n, **(extra or {}),
        })

    raw_dir = tempfile.mkdtemp(prefix="bfdl_pqraw_")
    idx_dir = tempfile.mkdtemp(prefix="bfdl_pqidx_")
    try:
        # the raw corpus as parquet — what the full-scan tier reads at
        # deploy (the in-memory `ann` cache would flatter it)
        ann.write.mode("overwrite").parquet(raw_dir)
        raw = spark.read.parquet(raw_dir)
        # the IVFPQ index: encode once, persist partitioned by cell
        t0 = time.perf_counter()
        pq_encode(ann, cents, res_books).write.mode("overwrite") \
            .partitionBy("cell").parquet(idx_dir)
        encode_sec = round(time.perf_counter() - t0, 2)
        codes = spark.read.parquet(idx_dir)
        sizes = {
            "raw_parquet_mb": du_mb_and_files(raw_dir)[0],
            "codes_parquet_mb": du_mb_and_files(idx_dir)[0],
        }
        run("pq_adc_full_scan_raw",
            lambda: pq_ivf_adc_topk(raw, annq, flat, flat_books, k=ann_k,
                                    nprobe=1))
        run("pq_ivfadc_inline_encode_nprobe4",
            lambda: pq_ivf_adc_topk(raw, annq, cents, res_books, k=ann_k,
                                    nprobe=4))
        run("codes_all_cells", lambda: pq_ivf_adc_codes_topk(
            codes, annq, cents, res_books, k=ann_k, nprobe=32),
            {"corpus_fraction_scored": 1.0})
        for npb in (4, 8):
            run(
                f"codes_nprobe{npb}",
                lambda npb=npb: pq_ivf_adc_codes_topk(
                    codes, annq, cents, res_books, k=ann_k, nprobe=npb),
                {"corpus_fraction_scored": round(npb / 32, 4)},
            )
        print(json.dumps({
            "mode": "pq_ivf_scan", "n_vectors": n_vecs, "dim": dim,
            "n_queries": 100, "k": ann_k, "n_sub": 16, "ks": 256,
            "num_cells": 32, "codebooks_sec": books_sec,
            "encode_write_sec": encode_sec, **sizes, "rows": rows,
        }))
    finally:
        shutil.rmtree(raw_dir, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()


def pq_cells_main() -> None:
    """IVFADC at REALISTIC cell counts (VERDICT r10 #2). The committed
    r10 rows ran num_cells=32 at 1M/10M — each probe scans 3.1% of the
    corpus per cell and nprobe 4 vs 8 TIE, so the recall/probe-cost
    trade was unmeasured in the regime a deployment runs
    (num_cells ≈ √N). This probe runs ``--cells`` (default 1024) cells
    over ``--rows`` (default 1M) vectors with an nprobe sweep, plus the
    code-index layout economics at thousands of partitions:

    * TRAINING stays bounded by a deterministic hash-mod SAMPLE
      (``--train-rows`` cap, FAISS-style ~64-256 points/cell): the
      centroid/codebook builders take any DataFrame, so sampled Lloyd
      is composition, not a new operator — the driver-side reduce is
      batches×num_cells rows and would otherwise scale with the full
      corpus at thousands of cells.
    * RECALL-vs-nprobe on the trained index against brute-force truth
      (same clustered generator as --pq-recall: 32 latent blocks, so at
      1k+ cells each block spans ~cells/32 cells and nprobe must climb
      to cover a block — the regime where the trade exists at all).
    * LAYOUT: the materialized code index written (a) partitionBy(cell)
      — nprobe/num_cells pruning but num_cells directories/files — vs
      (b) partitionBy(cell_grp = cell % --groups) with cells SORTED
      inside each partition file — fewer, bigger files; pruning reads
      whole groups but parquet row-group stats skip non-probed cells
      inside. File counts, written bytes, write wall, and per-nprobe
      query wall for both.
    """
    n_vecs = _arg("--rows", 1_000_000)
    num_cells = _arg("--cells", 1024)
    train_cap = _arg("--train-rows", 262_144)
    n_groups = _arg("--groups", 128)
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", "64g" if n_vecs > 2_000_000 else "32g"
    )
    spark = get_spark("bfdl-pq-cells")
    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk,
        ivf_lloyd_centroids,
        pq_encode,
        pq_ivf_adc_codes_topk,
        pq_residual_codebooks_lloyd,
    )

    dim, ann_k = 64, 10
    ann = clustered_vectors(spark, n_vecs, dim).cache()
    ann.count()
    annq = probe_queries(ann, n_vecs)

    mod, train = train_sample(ann, n_vecs, train_cap)
    n_train = train.count()
    t0 = time.perf_counter()
    cents = ivf_lloyd_centroids(train, num_cells=num_cells, iters=2)
    cents_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    res_books = pq_residual_codebooks_lloyd(
        train, cents, n_sub=16, ks=256, iters=2
    )
    books_sec = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    truth = topk_pairs(brute_force_topk(ann, annq, k=ann_k))
    truth_sec = round(time.perf_counter() - t0, 2)

    enc = pq_encode(ann, cents, res_books)
    layouts: dict[str, dict] = {}
    idx_cell = tempfile.mkdtemp(prefix="bfdl_pqcells_")
    idx_grp = tempfile.mkdtemp(prefix="bfdl_pqgrp_")
    try:
        t0 = time.perf_counter()
        # repartition ON the partition column: one task per cell group
        # of the shuffle → exactly one file per cell directory instead
        # of (tasks × cells) fragments
        enc.repartition("cell").write.mode("overwrite") \
            .partitionBy("cell").parquet(idx_cell)
        w1 = round(time.perf_counter() - t0, 2)
        mb1, nf1 = du_mb_and_files(idx_cell)
        layouts["partition_per_cell"] = {
            "write_sec": w1, "files": nf1, "mb": mb1,
            "partitions": num_cells,
        }
        t0 = time.perf_counter()
        write_grouped_codes(enc, n_groups, idx_grp)
        w2 = round(time.perf_counter() - t0, 2)
        mb2, nf2 = du_mb_and_files(idx_grp)
        layouts["partition_per_group"] = {
            "write_sec": w2, "files": nf2, "mb": mb2,
            "partitions": n_groups,
        }

        codes_cell = spark.read.parquet(idx_cell)
        codes_grp = spark.read.parquet(idx_grp)
        rows: list[dict] = []
        for npb in (1, 2, 4, 8, 16, 32):
            if npb > num_cells:
                continue
            t0 = time.perf_counter()
            found = topk_pairs(pq_ivf_adc_codes_topk(
                codes_cell, annq, cents, res_books, k=ann_k, nprobe=npb
            ))
            sec_cell = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            found_g = topk_pairs(pq_ivf_adc_codes_topk(
                codes_grp.drop("cell_grp"), annq, cents, res_books,
                k=ann_k, nprobe=npb
            ))
            sec_grp = round(time.perf_counter() - t0, 2)
            assert found_g == found  # layout must not change results
            rows.append({
                "nprobe": npb,
                "recall_at_10": round(len(found & truth) / len(truth), 4),
                "sec_partition_per_cell": sec_cell,
                "sec_partition_per_group": sec_grp,
                "corpus_fraction": round(npb / num_cells, 5),
            })
            print(json.dumps(rows[-1]), file=sys.stderr)
        # the full production recipe at deploy cell counts: ADC
        # shortlist (0.1% of corpus) + exact cosine re-rank — the row
        # that says what recall the deployed tier actually ships
        from binance_futures_data_lake_spark.operators.similarity import (
            pq_ivf_rerank_topk,
        )

        sl = max(1000, n_vecs // 1000)
        t0 = time.perf_counter()
        found_rr = topk_pairs(pq_ivf_rerank_topk(
            ann, annq, cents, res_books, k=ann_k, shortlist=sl,
            nprobe=16,
        ))
        rerank = {
            "nprobe": 16, "shortlist": sl,
            "shortlist_pct_of_corpus": round(100.0 * sl / n_vecs, 3),
            "recall_at_10": round(len(found_rr & truth) / len(truth), 4),
            "sec_inline_encode": round(time.perf_counter() - t0, 2),
        }
        # the deployed form: shortlist from the stored codes (no
        # per-query encode), exact rerank over raw vectors — must be
        # bit-equal and is the wall a deployment pays
        from binance_futures_data_lake_spark.operators.similarity import (
            pq_ivf_rerank_codes_topk,
        )

        t0 = time.perf_counter()
        found_rc = topk_pairs(pq_ivf_rerank_codes_topk(
            ann, codes_cell, annq, cents, res_books, k=ann_k,
            shortlist=sl, nprobe=16,
        ))
        rerank["sec_codes_index"] = round(time.perf_counter() - t0, 2)
        assert found_rc == found_rr  # deployed form is bit-equal
        print(json.dumps({"rerank": rerank}), file=sys.stderr)
        print(json.dumps({
            "mode": "pq_cells", "n_vectors": n_vecs, "dim": dim,
            "num_cells": num_cells, "n_train": n_train,
            "train_mod": mod, "n_queries": 100, "k": ann_k,
            "n_sub": 16, "ks": 256,
            "centroids_sec": cents_sec, "res_books_sec": books_sec,
            "truth_sec": truth_sec, "layouts": layouts, "rows": rows,
            "rerank": rerank,
        }))
    finally:
        shutil.rmtree(idx_cell, ignore_errors=True)
        shutil.rmtree(idx_grp, ignore_errors=True)
    spark.stop()


def pq_recipe_main() -> None:
    """High-recall deployed-ANN recipe at deploy cell counts (VERDICT
    r11 #3). The r11 rerank row was a single point (nprobe=16,
    shortlist 0.1% → recall 0.869 at 1M, 0.580 at 10M); a deployment
    with a recall TARGET still has no committed (nprobe, shortlist)
    pair at num_cells ≈ √N. This probe:

    * builds the materialized IVFPQ index once (same clustered
      generator, sampled-Lloyd training and grouped ``cell % --groups``
      layout as ``--pq-cells`` — the layout r11 priced as the nprobe≥16
      winner),
    * computes the PROBE-COVERAGE CEILING per nprobe first (fraction of
      brute-force-true neighbors whose cell is among the query's probed
      cells — recall through any shortlist can never exceed it, and it
      costs driver-side numpy only), so the sweep spends walls only on
      nprobes that can reach ``--target-recall-pct`` plus the largest
      sub-target one for the curve,
    * sweeps nprobe × shortlist∈{0.1%, 0.3%, 1%} on
      ``pq_ivf_rerank_codes_topk`` (single-run walls for grid cells),
    * re-times the cheapest pair reaching the target best-of-3 with
      spread (the pinned BASELINE.md methodology for committed walls),
      or commits the measured ceiling curve if the target is
      unreachable at sane cost.
    """
    n_vecs = _arg("--rows", 1_000_000)
    num_cells = _arg("--cells", max(32, int(round(n_vecs ** 0.5))))
    train_cap = _arg(
        "--train-rows", 262_144 if n_vecs <= 2_000_000 else 1_000_000
    )
    n_groups = _arg("--groups", 256)
    target = _arg("--target-recall-pct", 95) / 100.0
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", "64g" if n_vecs > 2_000_000 else "32g"
    )
    spark = get_spark("bfdl-pq-recipe")
    from binance_futures_data_lake_spark.operators.similarity import (
        _grid_assign_residual,
        _ivf_query_probe_tables,
        brute_force_topk,
        ivf_lloyd_centroids,
        pq_encode,
        pq_ivf_rerank_codes_topk,
        pq_residual_codebooks_lloyd,
        release_query_table_broadcasts,
    )

    dim, ann_k = 64, 10
    ann = clustered_vectors(spark, n_vecs, dim).cache()
    ann.count()
    annq = probe_queries(ann, n_vecs)

    mod, train = train_sample(ann, n_vecs, train_cap)
    n_train = train.count()
    t0 = time.perf_counter()
    cents = ivf_lloyd_centroids(train, num_cells=num_cells, iters=2)
    cents_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    books = pq_residual_codebooks_lloyd(train, cents, n_sub=16, ks=256, iters=2)
    books_sec = round(time.perf_counter() - t0, 2)
    sub = len(books[0][0])

    idx = tempfile.mkdtemp(prefix="bfdl_pqrecipe_")
    try:
        t0 = time.perf_counter()
        write_grouped_codes(pq_encode(ann, cents, books), n_groups, idx)
        encode_write_sec = round(time.perf_counter() - t0, 2)
        codes_df = spark.read.parquet(idx).drop("cell_grp")

        t0 = time.perf_counter()
        truth = topk_pairs(brute_force_topk(ann, annq, k=ann_k))
        truth_sec = round(time.perf_counter() - t0, 2)
        truth_ids = list({nid for _, nid in truth})
        cell_of = {
            r.id: r.cell
            for r in codes_df.filter(F.col("id").isin(truth_ids))
            .select("id", "cell").collect()
        }

        # --- probe-coverage ceiling per nprobe (driver-side numpy) ---
        C = [np.array(b, dtype=np.float64) for b in books]
        cell_ids, c_mat, _ = _grid_assign_residual(cents)
        ceilings: list[dict] = []
        candidate_nprobes = [
            npb for npb in (16, 32, 64, 128, 256, 512) if npb <= num_cells
        ]
        for npb in candidate_nprobes:
            qp = _ivf_query_probe_tables(
                annq, C, cell_ids, c_mat, npb, "vec_id", "embedding", sub
            )
            q_ids, probes = qp[0], qp[1]
            probed: dict[int, set] = {}
            for cell, qis in probes.items():
                for qi in qis:
                    probed.setdefault(int(q_ids[qi]), set()).add(cell)
            covered = sum(
                1 for q, nid in truth if cell_of.get(nid) in probed.get(q, ())
            )
            ceilings.append({
                "nprobe": npb,
                "probe_coverage_ceiling": round(covered / len(truth), 4),
                "codes_scan_fraction": round(npb / num_cells, 5),
            })
            print(json.dumps(ceilings[-1]), file=sys.stderr)

        # sweep only nprobes that CAN reach the target, plus the
        # largest sub-target one so the committed curve shows the knee
        able = [c["nprobe"] for c in ceilings
                if c["probe_coverage_ceiling"] >= target]
        below = [c["nprobe"] for c in ceilings
                 if c["probe_coverage_ceiling"] < target]
        sweep_nprobes = sorted(set(able[:3] + below[-1:]))

        def run_combo(npb: int, sl: int) -> tuple[set, float]:
            t0 = time.perf_counter()
            found = topk_pairs(pq_ivf_rerank_codes_topk(
                ann, codes_df, annq, cents, books, k=ann_k,
                shortlist=sl, nprobe=npb,
            ))
            sec = round(time.perf_counter() - t0, 2)
            release_query_table_broadcasts()
            return found, sec

        grid: list[dict] = []
        for npb in sweep_nprobes:
            for frac in (0.001, 0.003, 0.01):
                sl = max(ann_k, int(n_vecs * frac))
                found, sec = run_combo(npb, sl)
                grid.append({
                    "nprobe": npb, "shortlist": sl,
                    "shortlist_pct_of_corpus": round(100.0 * frac, 2),
                    "recall_at_10": round(len(found & truth) / len(truth), 4),
                    "codes_scan_fraction": round(npb / num_cells, 5),
                    "sec_single_run": sec,
                })
                print(json.dumps(grid[-1]), file=sys.stderr)

        reaching = [g for g in grid if g["recall_at_10"] >= target]
        recipe = None
        if reaching:
            # cheapest by single-run wall; commit best-of-3 with spread
            pick = min(reaching, key=lambda g: g["sec_single_run"])
            walls, sets_ = [], []
            for _ in range(3):
                fnd, sec = run_combo(pick["nprobe"], pick["shortlist"])
                walls.append(sec)
                sets_.append(fnd)
            assert sets_[0] == sets_[1] == sets_[2]  # deterministic
            recipe = {
                **{k: pick[k] for k in (
                    "nprobe", "shortlist", "shortlist_pct_of_corpus",
                    "recall_at_10", "codes_scan_fraction")},
                "sec_best_of_3": min(walls),
                "sec_spread": [min(walls), max(walls)],
            }
            print(json.dumps({"recipe": recipe}), file=sys.stderr)

        print(json.dumps({
            "mode": "pq_recipe", "n_vectors": n_vecs, "dim": dim,
            "num_cells": num_cells, "n_train": n_train, "train_mod": mod,
            "n_queries": 100, "k": ann_k, "n_sub": 16, "ks": 256,
            "target_recall": target,
            "centroids_sec": cents_sec, "res_books_sec": books_sec,
            "encode_write_sec": encode_write_sec, "truth_sec": truth_sec,
            "layout": f"partitionBy(cell % {n_groups}), cells sorted in file",
            "probe_coverage_ceilings": ceilings,
            "grid": grid,
            "recipe": recipe,
        }))
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


def pq_build_main() -> None:
    """Index BUILD priced at 100M × ~10k cells (VERDICT r11 #4): the
    ``--pq-cells`` build half only — sampled-Lloyd centroids + residual
    codebooks (both trained on a 1M hash-mod sample), full-corpus
    encode, grouped-layout write — plus a recall spot-check at one
    nprobe against brute-force truth. Differences from --pq-cells, all
    of them the 100M-shape lessons:

    * the corpus is NEVER cached (100M × 64 floats is ~30-80 GB
      resident; the generator is deterministic hash math, so each of
      the three passes — train filter, encode, truth — recomputes it
      column-side for ~a minute instead),
    * only the grouped layout is written (10k one-file-per-cell
      directories is a filesystem antipattern; cell % --groups with
      cells sorted inside each file was the r11 nprobe≥16 winner).
    """
    n_vecs = _arg("--rows", 100_000_000)
    num_cells = _arg("--cells", 10_000)
    train_cap = _arg("--train-rows", 1_000_000)
    n_groups = _arg("--groups", 256)
    npb = _arg("--nprobe", 16)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "64g")
    spark = get_spark("bfdl-pq-build")
    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk,
        ivf_lloyd_centroids,
        pq_encode,
        pq_ivf_adc_codes_topk,
        pq_ivf_rerank_codes_topk,
        pq_residual_codebooks_lloyd,
        release_query_table_broadcasts,
    )

    dim, ann_k = 64, 10
    ann = clustered_vectors(spark, n_vecs, dim)
    annq = probe_queries(ann, n_vecs)

    mod, train = train_sample(ann, n_vecs, train_cap)
    train = train.cache()  # the SAMPLE is cached (≤1M rows); the corpus never is
    n_train = train.count()

    t0 = time.perf_counter()
    cents = ivf_lloyd_centroids(train, num_cells=num_cells, iters=2)
    cents_sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({"stage": "centroids", "sec": cents_sec,
                      "live_cells": len(cents)}), file=sys.stderr)
    t0 = time.perf_counter()
    books = pq_residual_codebooks_lloyd(
        train, cents, n_sub=16, ks=256, iters=2
    )
    books_sec = round(time.perf_counter() - t0, 2)
    print(json.dumps({"stage": "res_books", "sec": books_sec}),
          file=sys.stderr)
    train.unpersist()

    idx = tempfile.mkdtemp(prefix="bfdl_pqbuild_")
    try:
        t0 = time.perf_counter()
        write_grouped_codes(pq_encode(ann, cents, books), n_groups, idx)
        encode_write_sec = round(time.perf_counter() - t0, 2)
        mb, nf = du_mb_and_files(idx)
        print(json.dumps({"stage": "encode_write", "sec": encode_write_sec,
                          "mb": mb, "files": nf}), file=sys.stderr)
        codes_df = spark.read.parquet(idx).drop("cell_grp")

        t0 = time.perf_counter()
        truth = topk_pairs(brute_force_topk(ann, annq, k=ann_k))
        truth_sec = round(time.perf_counter() - t0, 2)
        print(json.dumps({"stage": "truth", "sec": truth_sec}),
              file=sys.stderr)

        t0 = time.perf_counter()
        found = topk_pairs(pq_ivf_adc_codes_topk(
            codes_df, annq, cents, books, k=ann_k, nprobe=npb
        ))
        adc_sec = round(time.perf_counter() - t0, 2)
        release_query_table_broadcasts()
        adc_recall = round(len(found & truth) / len(truth), 4)
        print(json.dumps({"stage": "adc_spot", "sec": adc_sec,
                          "recall_at_10": adc_recall}), file=sys.stderr)
        # deployed rerank spot: shortlist 10k/query (0.01% at 100M —
        # |Q|·shortlist = 1M rerank rows, the broadcast-semi-join bound)
        sl = 10_000
        t0 = time.perf_counter()
        found_rr = topk_pairs(pq_ivf_rerank_codes_topk(
            ann, codes_df, annq, cents, books, k=ann_k,
            shortlist=sl, nprobe=npb,
        ))
        rerank_sec = round(time.perf_counter() - t0, 2)
        release_query_table_broadcasts()
        rr_recall = round(len(found_rr & truth) / len(truth), 4)
        print(json.dumps({
            "mode": "pq_build", "n_vectors": n_vecs, "dim": dim,
            "num_cells": num_cells, "live_cells": len(cents),
            "n_train": n_train, "train_mod": mod,
            "n_queries": 100, "k": ann_k, "n_sub": 16, "ks": 256,
            "centroids_sec": cents_sec, "res_books_sec": books_sec,
            "encode_write_sec": encode_write_sec,
            "index_mb": mb, "index_files": nf,
            "layout": f"partitionBy(cell % {n_groups}), cells sorted in file",
            "truth_sec": truth_sec,
            "spot_nprobe": npb,
            "adc_spot": {"sec": adc_sec, "recall_at_10": adc_recall},
            "rerank_spot": {"sec": rerank_sec, "recall_at_10": rr_recall,
                            "shortlist": sl,
                            "shortlist_pct_of_corpus":
                                round(100.0 * sl / n_vecs, 3)},
        }))
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


def cc_main() -> None:
    """Instrumented contraction-CC probe (VERDICT r8 #3): the 10k-chain
    adversarial graph at ``--rows`` nodes with PER-ROUND shuffle
    read/write and spill deltas from ``obs.stage_totals`` (the status
    store, read with the UI off), so the super-linear-wall question (spill vs plan re-materialization) is
    answered with numbers instead of an asserted analysis. Timing span
    matches the r8 probe (operator construction through label force), so
    walls are comparable round over round."""
    total_rows = _arg("--rows", 10_000_000)
    # 64g, NOT 100g: the per-round union-find runs in 32 PYTHON workers
    # whose dicts are off-heap from the JVM's point of view (~1 GB each
    # at the 2M-edge target width) — a 100g JVM + 32 workers exceeds the
    # 125 GB box and the KERNEL kills the JVM (observed r9)
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", "64g" if total_rows > 20_000_000 else "32g"
    )
    spark = get_spark("bfdl-cc-probe")
    from binance_futures_data_lake_spark.operators.graph import (
        connected_components,
    )

    n_cc = total_rows
    chain = 10_000
    cc_edges = chain_edges(spark, n_cc, chain)
    rounds: list[dict] = []
    snap = {"prev": obs.stage_totals(spark)}

    def on_round(info: dict) -> None:
        cur = obs.stage_totals(spark)
        info.update(gb(cur, since=snap["prev"]))
        info["heap_used_gb"] = heap_gb(spark)["heap_used_gb"]
        snap["prev"] = cur
        rounds.append(info)

    t0 = time.perf_counter()
    df = connected_components(cc_edges, on_round=on_round)
    obs.force(df)
    wall = round(time.perf_counter() - t0, 2)
    label_phase = gb(obs.stage_totals(spark), since=snap["prev"])
    mislabeled = chain_mislabels(df, chain)
    print(json.dumps({
        "mode": "cc", "stage": f"contraction_cc_{total_rows // 1_000_000}m_chains",
        "sec": wall, "n_nodes": n_cc, "chain_len": chain,
        "mislabeled": mislabeled,
        "rows_per_sec": int(n_cc / wall) if wall else None,
        **heap_gb(spark),
        "rounds": rounds,
        "label_phase_deltas": label_phase,
    }))
    spark.stop()


def cc_scattered_main() -> None:
    """Adversarial-shape CC at depth (VERDICT r10 #4): a scattered
    random graph — ``--rows`` nodes (default 10M) × ``--edges-per-node``
    (default 3) hash-random edges, near-one-giant-component — through
    the FULL distributed contraction loop (``prepass=False``,
    ``graph.DRIVER_MAX_EDGES = 0`` so neither the round-0 fold nor the driver
    short-circuit can hide the multi-round regime), with per-round
    edge counts and shuffle/spill deltas. This is the regime the 100M
    chain probe cannot see: chains collapse in round 0; a scattered
    graph folds nothing locally and must shrink geometrically through
    the shuffle loop.

    Correctness is pinned against a DRIVER ground truth: the edge list
    is collected (bounded: rows×epn×16 bytes, ~480 MB at 10M×3) and a
    union-find replay computes every node's min-id component; the probe
    asserts ZERO mislabels by exact comparison, plus zero cross-edge
    label violations Spark-side."""
    total_rows = _arg("--rows", 10_000_000)
    epn = _arg("--edges-per-node", 3)
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", "64g" if total_rows > 2_000_000 else "32g"
    )
    spark = get_spark("bfdl-cc-scattered")
    from binance_futures_data_lake_spark.operators import graph

    graph.DRIVER_MAX_EDGES = 0
    n = total_rows
    edges = (
        spark.range(n * epn)
        .select(
            (((F.xxhash64(F.col("id"), F.lit("u")) % n) + n) % n).alias("doc_a"),
            (((F.xxhash64(F.col("id"), F.lit("v")) % n) + n) % n).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .cache()
    )
    n_edges = edges.count()

    rounds: list[dict] = []
    snap = {"prev": obs.stage_totals(spark)}

    def on_round(info: dict) -> None:
        cur = obs.stage_totals(spark)
        info.update(gb(cur, since=snap["prev"]))
        info["heap_used_gb"] = heap_gb(spark)["heap_used_gb"]
        snap["prev"] = cur
        rounds.append(info)
        print(json.dumps(info), file=sys.stderr)

    t0 = time.perf_counter()
    df = graph.connected_components(
        edges, prepass=False, on_round=on_round
    ).cache()
    obs.force(df)
    wall = round(time.perf_counter() - t0, 2)

    # Spark-side consistency: no edge may cross components
    lbl_a = df.select(F.col("id").alias("doc_a"), F.col("comp").alias("ca"))
    lbl_b = df.select(F.col("id").alias("doc_b"), F.col("comp").alias("cb"))
    violations = (
        edges.join(lbl_a, "doc_a").join(lbl_b, "doc_b")
        .filter(F.col("ca") != F.col("cb")).count()
    )
    n_comp_spark = df.select("comp").distinct().count()

    # driver ground truth: exact union-find replay over the same edges
    t0 = time.perf_counter()
    epdf = edges.toPandas()
    ua = epdf["doc_a"].to_numpy()
    ub = epdf["doc_b"].to_numpy()
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, int(parent[x])
        return root

    for i in range(ua.size):
        ra, rb = find(int(ua[i])), find(int(ub[i]))
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    # resolve every edge-touched node to its min-id root (roots were
    # always merged toward the smaller id, so the root IS the min id)
    touched = np.union1d(np.unique(ua), np.unique(ub))
    truth = {int(x): find(int(x)) for x in touched}
    truth_sec = round(time.perf_counter() - t0, 2)

    got = {int(r["id"]): int(r["comp"]) for r in df.toPandas().to_dict("records")}
    mislabeled = sum(1 for k, v in truth.items() if got.get(k) != v)
    n_comp_truth = len({v for v in truth.values()})

    print(json.dumps({
        "mode": "cc_scattered", "n_nodes": n, "n_edges": n_edges,
        "edges_per_node": epn, "sec": wall,
        "rows_per_sec": int(n / wall) if wall else None,
        "mislabeled": mislabeled, "cross_edge_violations": violations,
        "n_components_spark": n_comp_spark,
        "n_components_truth": n_comp_truth,
        "truth_replay_sec": truth_sec,
        "heap_max_gb": heap_gb(spark)["heap_max_gb"],
        "rounds": rounds,
    }))
    spark.stop()


def ambient_main() -> None:
    """Fork/exec-storm experiment (VERDICT r10 #3): two rounds of
    ambient caveats named "fork/exec storms of 32 Python workers" as
    the suspected cause of the 29.9/81.1/70.4 s spread on identical
    CC-10M runs, but nothing tested it. This mode runs ``--reps``
    (default 3) back-to-back CC probes at ``--rows`` (default 10M) in
    ONE session, and for each rep records (a) wall, (b) the number of
    DISTINCT pyspark worker/daemon processes observed via a 0.2 s
    /proc ancestry sampler — the direct fork-storm signal — and (c) a
    single-process CPU microbenchmark between reps (machine-load
    control). ``--no-worker-reuse`` flips
    ``spark.python.worker.reuse=false`` so the reuse hypothesis is
    testable by diffing two invocations: if reuse=true pins worker
    count near 32 and the spread persists, forks are exonerated; if
    reuse=false multiplies spawns AND wall, the storm is confirmed
    and probe/bench sessions adopt the pin."""
    import threading

    total_rows = _arg("--rows", 10_000_000)
    reps = _arg("--reps", 3)
    reuse = "false" if "--no-worker-reuse" in sys.argv else "true"
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", "64g" if total_rows > 20_000_000 else "32g"
    )
    spark = get_spark(
        "bfdl-ambient", overrides={"spark.python.worker.reuse": reuse}
    )
    from binance_futures_data_lake_spark.operators.graph import (
        connected_components,
    )

    me = os.getpid()

    def _ancestors(pid: int) -> list[int]:
        out = []
        for _ in range(32):
            try:
                with open(f"/proc/{pid}/status") as f:
                    txt = f.read()
            except OSError:
                return out
            ppid = None
            for line in txt.splitlines():
                if line.startswith("PPid:"):
                    ppid = int(line.split()[1])
                    break
            if ppid is None or ppid == 0:
                return out
            out.append(ppid)
            pid = ppid
        return out

    def _starttime(pid: int):
        # field 22 of /proc/<pid>/stat — (pid, starttime) uniquely
        # identifies a process incarnation, so PID reuse by an
        # unrelated process can't inflate the live count (ADVICE r11)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            return int(stat.rsplit(")", 1)[1].split()[19])
        except (OSError, IndexError, ValueError):
            return None

    seen: dict[int, int] = {}  # pid -> starttime at first sighting
    spawns = {"n": 0}  # total registrations, counting pid-reuse re-spawns
    live_max = {"n": 0}
    stop = threading.Event()

    def _sampler():
        while not stop.is_set():
            live = 0
            for d in os.listdir("/proc"):
                if not d.isdigit():
                    continue
                pid = int(d)
                st = _starttime(pid)
                if st is None:
                    continue
                if seen.get(pid) == st:
                    live += 1  # same incarnation still alive
                    continue
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        comm = f.read().strip()
                except OSError:
                    continue
                if not comm.startswith("python"):
                    continue
                if me in _ancestors(pid):
                    seen[pid] = st
                    spawns["n"] += 1
                    live += 1
            live_max["n"] = max(live_max["n"], live)
            stop.wait(0.2)

    th = threading.Thread(target=_sampler, daemon=True)
    th.start()

    def cpu_microbench() -> float:
        a = np.arange(4_000_000, dtype=np.float64)
        t0 = time.perf_counter()
        for _ in range(20):
            (a * 1.0000001).sum()
        return round(time.perf_counter() - t0, 3)

    chain = 10_000
    cc_edges = chain_edges(spark, total_rows, chain)
    rep_rows = []
    for rep in range(reps):
        spawned_before = spawns["n"]
        cpu_before = cpu_microbench()
        t0 = time.perf_counter()
        df = connected_components(cc_edges)
        obs.force(df)
        wall = round(time.perf_counter() - t0, 2)
        mislabeled = chain_mislabels(df, chain)
        rep_rows.append({
            "rep": rep, "sec": wall, "mislabeled": mislabeled,
            "workers_spawned_this_rep": spawns["n"] - spawned_before,
            "workers_spawned_total": spawns["n"],
            "cpu_microbench_sec": cpu_before,
        })
        print(json.dumps(rep_rows[-1]), file=sys.stderr)
    stop.set()
    th.join(timeout=2)
    walls = [r["sec"] for r in rep_rows]
    print(json.dumps({
        "mode": "ambient", "rows": total_rows,
        "worker_reuse": reuse, "reps": reps,
        "wall_best": min(walls), "wall_worst": max(walls),
        "spread_pct": round(100.0 * (max(walls) - min(walls)) / min(walls), 1),
        "workers_distinct_total": len(seen),
        "workers_live_max": live_max["n"],
        "rep_rows": rep_rows,
    }))
    spark.stop()


def bpe_main() -> None:
    """BPE training probe (VERDICT r8 #5): learn ``--merges`` (default
    100) merge rules on ``--docs`` (default 1M) synthetic documents and
    record the PER-MERGE MARGINAL COST — the claim under test is that
    after the one corpus-sized (word, count) reduction, every subsequent
    merge is vocab-sized, so the marginal cost per merge is flat in
    corpus size. Measured as (t(merges) − t(10 merges)) / (merges − 10)
    at full size, and re-measured at corpus/4: if merges were
    corpus-sized the marginal would scale ~4×.

    Corpus: syllable-composed words (10k-form lexicon, quadratic-skewed
    selection) so merges have real structure to find — uniformly random
    text gives a flat pair distribution and the greedy pass degenerates."""
    n_docs = _arg("--docs", 1_000_000)
    n_merges = _arg("--merges", 100)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("bfdl-bpe-probe")
    from binance_futures_data_lake_spark.operators.text import bpe_learn_merges

    sylls = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"][:80]
    lex = [
        sylls[i % 80] + sylls[(i // 80) % 80] + (sylls[i // 6400] if i >= 6400 else "")
        for i in range(10_000)
    ]
    lex_lit = F.array(*[F.lit(w) for w in lex])

    def docs_frame(n: int):
        def u(i: int):
            return (
                (F.xxhash64(F.col("id"), F.lit(i)) % 1_000_003 + 1_000_003)
                % 1_000_003
            ) / 1_000_003.0

        words = [
            F.element_at(
                lex_lit, (F.floor(F.pow(u(i), F.lit(2.0)) * 10_000) + 1).cast("int")
            )
            for i in range(20)
        ]
        return spark.range(n).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
        )

    def train(n: int, merges: int) -> tuple[float, int]:
        t0 = time.perf_counter()
        got = bpe_learn_merges(docs_frame(n), n_merges=merges).count()
        return round(time.perf_counter() - t0, 2), got

    train(min(n_docs, 50_000), 3)  # untimed JVM/Arrow warmup
    base_sec, base_got = train(n_docs, 10)
    full_sec, full_got = train(n_docs, n_merges)
    quarter_sec, quarter_got = train(n_docs // 4, n_merges)
    quarter_base_sec, quarter_base_got = train(n_docs // 4, 10)
    marginal_full = round((full_sec - base_sec) / max(full_got - base_got, 1), 4)
    # mirror the full-size computation: the baseline may learn FEWER than
    # the 10 requested merges, so divide by the actually-learned delta
    marginal_quarter = round(
        (quarter_sec - quarter_base_sec) / max(quarter_got - quarter_base_got, 1), 4
    )
    print(json.dumps({
        "mode": "bpe", "n_docs": n_docs, "n_word_instances": n_docs * 20,
        "lexicon_forms": 10_000,
        "merges_requested": n_merges,
        "full": {"sec": full_sec, "merges_learned": full_got},
        "ten_merge_baseline": {"sec": base_sec, "merges_learned": base_got},
        "quarter_corpus": {
            "sec": quarter_sec, "merges_learned": quarter_got,
            "baseline_sec": quarter_base_sec,
            "baseline_merges_learned": quarter_base_got,
        },
        "marginal_sec_per_merge_full": marginal_full,
        "marginal_sec_per_merge_quarter": marginal_quarter,
    }))
    spark.stop()


def streaming_main() -> None:
    """Streaming delta-state volume probe (VERDICT r8 #7): drive the
    three sketch families' foreachBatch sinks with ``--batches`` (default
    100) generated micro-batches of ``--rows-per-batch`` (default 1M)
    events each, then measure what the r9 compaction fold buys: state
    files and merge-on-read wall BEFORE the fold vs AFTER, with the
    estimate asserted equal across the fold (read-after-fold ==
    read-before-fold is the compaction contract). Batches invoke the
    exact sink callables foreachBatch would (the sinks are the ingest
    path — the probe skips only the file-source plumbing the pytest tier
    already pins) and are generated in-plan, batch-seeded so replays are
    deterministic."""
    n_batches = _arg("--batches", 100)
    rows_per_batch = _arg("--rows-per-batch", 1_000_000)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("bfdl-streaming-probe")
    from binance_futures_data_lake_spark.streaming.pipeline import (
        compact_state,
        init_sketch_state,
        read_sketch_state,
        sketch_delta_sink,
    )

    def batch_frame(bid: int):
        # ~100k distinct users across all batches, skewed; event ids unique
        hot = F.pmod(F.xxhash64(F.col("id"), F.lit("hot")), F.lit(10)) < 3
        uid = (
            F.when(hot, F.pmod(F.xxhash64(F.col("id"), F.lit(bid)), F.lit(100)))
            .otherwise(F.pmod(F.xxhash64(F.col("id"), F.lit(bid + 7)), F.lit(100_000)))
        )
        return spark.range(rows_per_batch).select(
            (F.col("id") + bid * rows_per_batch).alias("event_id"),
            F.concat(F.lit("u"), uid.cast("string")).alias("user_id"),
            F.concat(
                F.lit("t"),
                F.pmod(F.xxhash64(F.col("id"), F.lit("ty")), F.lit(4)).cast("string"),
            ).alias("event_type"),
        )

    root = tempfile.mkdtemp(prefix="bfdl_stream_probe_")
    out: dict = {
        "mode": "streaming", "n_batches": n_batches,
        "rows_per_batch": rows_per_batch,
    }
    try:
        empty = spark.range(0).select(
            F.col("id").alias("event_id"),
            F.lit("u").alias("user_id"),
            F.lit("t0").alias("event_type"),
        )
        params = {
            "cms": {"depth": 3, "width": 32},
            "hll": {"by": ["event_type"], "m": 64},
            "kmv": {"by": ["event_type"], "k": 1024},
        }
        for fam, p in params.items():
            init_sketch_state(fam, empty, root, **p)
        sinks = [sketch_delta_sink(fam, root, **p) for fam, p in params.items()]
        t0 = time.perf_counter()
        for bid in range(n_batches):
            b = batch_frame(bid)
            for s in sinks:
                s(b, bid)
        ingest_sec = round(time.perf_counter() - t0, 2)
        out["ingest_sec_all_families"] = ingest_sec
        out["ingest_rows_per_sec"] = int(n_batches * rows_per_batch / ingest_sec)

        def reads() -> dict:
            t = {}
            t0 = time.perf_counter()
            cms = {
                (r.seed, r.bucket): r.cnt
                for r in read_sketch_state("cms", spark, root).collect()
            }
            t["cms_read_sec"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            hll = {
                (r.event_type, r.bucket): r.mx
                for r in read_sketch_state("hll", spark, root).collect()
            }
            t["hll_read_sec"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            kmv = sorted(
                (r.event_type, r.hv)
                for r in read_sketch_state("kmv", spark, root, k=1024).collect()
            )
            t["kmv_read_sec"] = round(time.perf_counter() - t0, 2)
            return {"walls": t, "cms": cms, "hll": hll, "kmv": kmv}

    except Exception:
        shutil.rmtree(root, ignore_errors=True)
        raise
    try:
        before = reads()
        out["state_parquet_files_before_fold"] = du_mb_and_files(root)[1]
        out["merge_on_read_before_fold"] = before["walls"]
        t0 = time.perf_counter()
        folded = compact_state(spark, root, kmv_k=1024)
        out["fold_sec"] = round(time.perf_counter() - t0, 2)
        out["folded_families"] = sorted(folded)
        after = reads()
        out["state_parquet_files_after_fold"] = du_mb_and_files(root)[1]
        out["merge_on_read_after_fold"] = after["walls"]
        assert before["cms"] == after["cms"], "CMS fold changed the sketch"
        assert before["hll"] == after["hll"], "HLL fold changed the registers"
        assert before["kmv"] == after["kmv"], "KMV fold changed the k-min set"
        out["read_equality_after_fold"] = True
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


def streaming_dedup_main() -> None:
    """Dedup-family compaction probe (companion to ``--streaming``): the
    three ROW-SIZED state families (corpus / sig / exact) under a real
    incremental-dedup ingest — ``--batches`` (default 30) micro-batches
    of ``--rows-per-batch`` (default 100k) docs through the actual
    ``incremental_dedup_sink`` (per batch: within-batch exact rule,
    md5 + MinHash-band classification against the GROWING persisted
    state, batch-addressed state appends), then the fold: state files
    and merge-on-read walls before vs after ``compact_state``, with
    row-set equality asserted per family (identity-union monoid — fold
    must change nothing but the file layout). Docs are ~10% exact dups
    of earlier docs, so the classifier path does real work."""
    n_batches = _arg("--batches", 30)
    rows_per_batch = _arg("--rows-per-batch", 100_000)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("bfdl-streaming-dedup-probe")
    from binance_futures_data_lake_spark.streaming.pipeline import (
        _read_state,
        compact_state,
        incremental_dedup_sink,
        init_dedup_state,
    )

    def batch_frame(bid: int):
        # 90% unique docs, 10% exact duplicates of doc (id % earlier)
        gid = F.col("id") + bid * rows_per_batch
        dup = F.pmod(F.xxhash64(gid, F.lit("d")), F.lit(10)) == 0
        src = F.when(
            dup & (gid > 0), F.pmod(F.xxhash64(gid, F.lit("s")), gid)
        ).otherwise(gid)
        words = [
            F.md5(F.concat(src.cast("string"), F.lit(f"w{i}"))) for i in range(8)
        ]
        return spark.range(rows_per_batch).select(
            gid.alias("doc_id"), F.concat_ws(" ", *words).alias("text")
        )

    root = tempfile.mkdtemp(prefix="bfdl_dedup_probe_")
    out_dir = tempfile.mkdtemp(prefix="bfdl_dedup_out_")
    out: dict = {
        "mode": "streaming_dedup", "n_batches": n_batches,
        "rows_per_batch": rows_per_batch,
    }
    try:
        empty = spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("text")
        )
        init_dedup_state(empty, root)
        sink = incremental_dedup_sink(root, out_dir)
        t0 = time.perf_counter()
        for bid in range(n_batches):
            sink(batch_frame(bid), bid)
        ingest_sec = round(time.perf_counter() - t0, 2)
        out["ingest_sec"] = ingest_sec
        out["ingest_docs_per_sec"] = int(n_batches * rows_per_batch / ingest_sec)

        def reads() -> dict:
            # count + order-insensitive content checksum per family:
            # sum(xxhash64(*cols)) wraps deterministically (non-ANSI),
            # so equal multisets => equal (count, checksum) pairs without
            # collecting 48M sig rows to the driver
            walls, counts, sums = {}, {}, {}
            for fam in ("corpus", "sig", "exact"):
                t0 = time.perf_counter()
                st = _read_state(spark, os.path.join(root, fam))
                row = st.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*st.columns)).alias("cs"),
                ).collect()[0]
                counts[fam], sums[fam] = row["n"], row["cs"]
                walls[fam] = round(time.perf_counter() - t0, 2)
            return {"walls": walls, "counts": counts, "checksums": sums}

        before = reads()
        out["state_parquet_files_before_fold"] = du_mb_and_files(root)[1]
        out["merge_on_read_before_fold"] = {
            k: before[k] for k in ("walls", "counts")
        }
        t0 = time.perf_counter()
        folded = compact_state(spark, root)
        out["fold_sec"] = round(time.perf_counter() - t0, 2)
        out["folded_families"] = sorted(folded)
        after = reads()
        out["state_parquet_files_after_fold"] = du_mb_and_files(root)[1]
        out["merge_on_read_after_fold"] = {
            k: after[k] for k in ("walls", "counts")
        }
        assert before["counts"] == after["counts"], "fold changed row counts"
        assert before["checksums"] == after["checksums"], "fold changed content"
        assert all(before["counts"].values()), "a state family is empty"
        out["read_equality_after_fold"] = True
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()


def main() -> None:
    if "--flagship" in sys.argv:
        flagship_main()
        return
    if "--pq-recipe" in sys.argv:
        pq_recipe_main()
        return
    if "--pq-build" in sys.argv:
        pq_build_main()
        return
    if "--pq-cells" in sys.argv:
        pq_cells_main()
        return
    if "--pq-ivf-scan" in sys.argv:
        pq_ivf_scan_main()
        return
    if "--pq-recall" in sys.argv:
        pq_recall_main()
        return
    if "--cc-scattered" in sys.argv:
        cc_scattered_main()
        return
    if "--ambient" in sys.argv:
        ambient_main()
        return
    if "--cc" in sys.argv:
        cc_main()
        return
    if "--bpe" in sys.argv:
        bpe_main()
        return
    if "--streaming-dedup" in sys.argv:
        streaming_dedup_main()
        return
    if "--streaming" in sys.argv:
        streaming_main()
        return
    total_rows = int(sys.argv[sys.argv.index("--rows") + 1]) if "--rows" in sys.argv else 10_000_000
    n_symbols = 100
    n_minutes = max(1440, total_rows // n_symbols)
    # the 10M-row run caches several full-width frames while window sorts
    # run; the repo-wide 8g default driver heap can exhaust the unified
    # pool mid-probe (observed r4: UNABLE_TO_ACQUIRE_MEMORY in the sweep's
    # window sort). The probe sizes its own heap like any scale job would.
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", "64g" if total_rows > 20_000_000 else "32g"
    )
    spark = get_spark("bfdl-scale")
    stages: dict[str, dict] = {}

    def stage(name: str, thunk):
        """Time ``thunk`` (plan build + force) with its shuffle/spill
        totals — per-stage numbers name super-linear walls (sort spill vs
        plan change) instead of hypotheses. Returns the built frame."""
        built = {}

        def build():
            built["df"] = thunk()
            return built["df"]

        rec = obs.run(spark, name, build)
        dt = rec["best_s"]
        n = built["df"].count()  # outside the timer; pruned count is cheap
        stages[name] = {
            "sec": round(dt, 2),
            "rows_per_sec": int(n / dt) if dt else None,
            "rows": n,
            **gb(rec),
        }
        return built["df"]

    symbols = tuple(f"SYM{i:03d}" for i in range(n_symbols))
    m1 = synthetic_klines_m1(spark, symbols=symbols, n_minutes=n_minutes, trend_amp=0.05)

    stage("generate_m1", lambda: m1)
    n = stages["generate_m1"]["rows"]
    m1c = m1.cache()
    m1c.count()

    by, order = ["symbol"], ["ts"]
    stage("resample_m5_complete", lambda: resample_bars(m1c, 5, by))

    stage("window_features", lambda: window_features(m1c, by, order).withColumn(
        "vwap_d",
        W.anchored_vwap("close", "volume_base", by, order, anchor=F.to_date("ts")),
    ))
    stage(
        "ewm_bucketed",
        lambda: ewm_apply(m1c.select("symbol", "ts", "close"),
                          {"ema20": ("close", span_to_alpha(20.0))}, by, order),
    )

    h1 = resample_bars(m1c, 60, by).select(
        "symbol", "ts", F.col("close").alias("close_h1")
    )

    def asof():
        j = asof_join_backward(
            m1c.select("symbol", "ts", "close"), h1, on="ts", by=by,
        )
        return j

    stage("asof_m1_from_h1", asof)
    stage(
        "dedup_keep_last",
        lambda: dedup_keep_last(
            m1c.unionByName(m1c.limit(100_000)), ["symbol", "open_time_ms"], ["ts"]
        ),
    )

    # --trading-only (VERDICT r9 #3): stop after the reference's own
    # flagship path — generate -> resample-complete -> window_features ->
    # EWM -> asof -> dedup — so the bars family gets a 100M-row scaling
    # row without dragging the 10M-calibrated llm/media stages along
    if "--trading-only" in sys.argv:
        print(json.dumps({
            "mode": "trading_only", "rows": total_rows,
            "n_symbols": n_symbols, "stages": stages,
        }))
        spark.stop()
        return

    # rollup cascade: h1 and d1 each derive from the PREVIOUS level's
    # partials — the raw 10M rows are scanned once (for m5), then each
    # level's input shrinks 5x/12x/24x
    from binance_futures_data_lake_spark.operators.gaps import missing_ranges
    from binance_futures_data_lake_spark.operators.rangejoin import interval_join
    from binance_futures_data_lake_spark.operators.sketch import kmv_distinct

    m5_bars = resample_bars(m1c, 5, by, complete_only=False).cache()
    m5_bars.count()

    def cascade():
        h1b = resample_bars(m5_bars, 60, by, complete_only=False, base_minutes=5)
        d1b = resample_bars(h1b, 1440, by, complete_only=False, base_minutes=60)
        return d1b

    stage("rollup_cascade_m5_to_d1", cascade)

    def gaps():
        holey = m1c.filter(((F.col("open_time_ms") / 60000).cast("long")) % 97 != 0)
        return missing_ranges(holey.select("symbol", "ts"), 1, by)

    stage("gap_ranges_lag_based", gaps)

    def rjoin():
        # ~2 day-long maintenance windows per symbol-week x all M1 points
        iv = (
            m5_bars.filter(((F.col("open_time_ms") / 300000).cast("long")) % 672 < 6)
            .select(
                "symbol",
                F.col("ts").alias("w_start"),
                (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("w_end"),
            )
        )
        j = interval_join(
            m1c.select("symbol", "ts", "close"), iv, "ts", "w_start", "w_end",
            by=["symbol"], bucket="1 days",
        )
        return j

    stage("interval_join_bucketed", rjoin)

    stage(
        "kmv_distinct_sketch",
        lambda: kmv_distinct(
            m1c.select("symbol", (F.col("open_time_ms") % 1_000_003).alias("v")),
            "v", by=["symbol"], k=256,
        ),
    )

    # multimodal kernel probe: media rows scale with --rows (default 100k
    # images ~ 500 MB of decoded pixels) through the batch-vectorized
    # image_features kernel — decode per item, stats/aHash one numpy pass
    # per Arrow batch
    from binance_futures_data_lake_spark.operators.multimodal import image_features, synthetic_media

    n_media = max(10_000, total_rows // 100)
    docs = (
        spark.range(n_media)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("synthetic media payload "), F.md5(F.col("id").cast("string"))).alias("text"),
        )
    )
    media = synthetic_media(docs, kind="image").cache()
    media.count()
    stage("image_features_vectorized", lambda: image_features(media))

    # audio kernel probe (r4): same media-row count through the WAV
    # encode -> decode -> reduceat clip-stats path
    from binance_futures_data_lake_spark.operators.multimodal import audio_features

    amedia = synthetic_media(docs, kind="audio").cache()
    amedia.count()
    stage("audio_features_vectorized", lambda: audio_features(amedia))
    amedia.unpersist()
    media.unpersist()

    # text-curation probe (r4): packing + exact-substring scrubbing on a
    # corpus of n_media docs x ~20 tokens. A third of the docs share an
    # 8-token boilerplate prefix, so the scrubber's shared-span machinery
    # (span agg -> owner -> coverage window -> rebuild) does real work
    # rather than passing unique text through.
    from binance_futures_data_lake_spark.operators.curation import (
        pack_sequences,
        pack_sequences_nextfit,
    )
    from binance_futures_data_lake_spark.operators.textquality import (
        scrub_cross_doc_spans,
    )

    corpus = (
        spark.range(n_media)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 50).cast("string").alias("source"),
            F.concat(
                F.when(
                    F.col("id") % 3 == 0,
                    F.lit("shared header boilerplate repeated across many docs here "),
                ).otherwise(F.lit("")),
                F.concat_ws(
                    " ",
                    *[F.md5((F.col("id") * 31 + i).cast("string")) for i in range(12)],
                ),
            ).alias("text"),
        )
        .cache()
    )
    corpus.count()
    stage("pack_sequences_chunk", lambda: pack_sequences(corpus, 2048))
    stage("pack_sequences_nextfit", lambda: pack_sequences_nextfit(corpus, 2048))
    stage(
        "scrub_cross_doc_spans",
        lambda: scrub_cross_doc_spans(corpus, span_tokens=8, min_docs=2),
    )
    corpus.unpersist()

    # corpus-selection probe (r6): DSIR importance scoring and Bloom
    # decontamination at 1M docs (~25M gram instances). Both scoring
    # passes are ZERO-exchange map-only plans (λ table / bitset as plan
    # literals); the stage records the exchange counts to prove it.
    from binance_futures_data_lake_spark.operators.curation import (
        dsir_fit,
        dsir_logweights,
    )
    from binance_futures_data_lake_spark.operators.textdedup import (
        bloom_bitset,
        bloom_decontam,
    )

    n_sel = max(100_000, total_rows // 10)
    sel = (
        spark.range(n_sel)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 50).cast("string").alias("source"),
            F.concat_ws(
                " ",
                *[F.md5((F.col("id") * 17 + i).cast("string")) for i in range(12)],
            ).alias("text"),
        )
        .cache()
    )
    sel.count()
    t0 = time.perf_counter()
    lam = dsir_fit(sel, F.col("source") < "2", n_buckets=8192)
    dsir_fit_sec = round(time.perf_counter() - t0, 2)
    dsir_scored = dsir_logweights(sel, lam)
    stage("dsir_score_1m_docs", lambda: dsir_scored)
    stages["dsir_score_1m_docs"].update(
        n_buckets=8192,
        fit_sec=dsir_fit_sec,
        scoring_shuffle_exchanges=obs.exchange_count(dsir_scored),
    )
    t0 = time.perf_counter()
    bloom_words = bloom_bitset(
        sel.filter(F.col("doc_id") % 97 == 0), m_bits=1 << 19, k=4
    )
    bloom_build_sec = round(time.perf_counter() - t0, 2)
    bl = bloom_decontam(
        sel.filter(F.col("doc_id") % 97 != 0), bloom_words, m_bits=1 << 19, k=4
    )
    stage("bloom_decontam_1m_docs", lambda: bl)
    stages["bloom_decontam_1m_docs"].update(
        m_bits=1 << 19,
        bitset_build_sec=bloom_build_sec,
        scoring_shuffle_exchanges=obs.exchange_count(bl),
    )
    sel.unpersist()

    # ANN probe (r5, VERDICT next-steps #5): the similarity tier at probe
    # scale — 1M x 64d clustered corpus, 100 queries, k=10. Brute force is
    # the exact baseline AND the ground truth for the approximate tiers'
    # recall.
    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    dim, n_latent, ann_k = 64, 32, 10
    n_vecs = max(100_000, total_rows // 10)
    ann = clustered_vectors(spark, n_vecs, dim, n_latent).cache()
    stage("ann_synthetic_corpus", lambda: ann)
    annq = probe_queries(ann, n_vecs, n_latent)

    bf = brute_force_topk(ann, annq, k=ann_k)
    stage("ann_brute_topk_100q", lambda: bf)
    truth = topk_pairs(bf)

    def _recall(df):
        found = topk_pairs(df)
        return round(len(found & truth) / len(truth), 4)

    # 64 planes / 8 bands = 8 bits per band (256 buckets): at probe scale
    # the 2-bit bands the sf-scale demo uses flood every bucket with a
    # quarter of the corpus — bucket capacity must grow with |corpus|
    lsh = lsh_topk(ann, annq, dim=dim, k=ann_k, n_planes=64, bands=8)
    stage("ann_lsh_topk_100q", lambda: lsh)
    stages["ann_lsh_topk_100q"]["recall_at_10"] = _recall(lsh)
    stages["ann_lsh_topk_100q"]["shuffle_exchanges"] = obs.exchange_count(lsh)

    # PQ-ADC probe (r7): the compressed-ANN tier at 1M vectors, the
    # PRODUCTION configuration — flat PQ (IVFADC over one zero cell) with
    # per-subspace Lloyd-trained codebooks (pq_residual_codebooks_lloyd;
    # seeded books collapse onto cluster identity on clustered data and
    # measured recall ≈ 0 here), 16 subspaces ×
    # 256 codewords → 16 one-byte codes/vector (32× compression vs
    # float64), ADC scan in one zero-shuffle kernel pass, shortlist-1000
    # exact re-rank on top. Recall claims live in the dedicated
    # ``--pq-recall`` mode (seeded-vs-trained + shortlist sweep at 1M);
    # this stage's claim is the wall/exchange shape.
    from binance_futures_data_lake_spark.operators.similarity import (
        pq_ivf_adc_topk,
        pq_ivf_rerank_topk,
        pq_residual_codebooks_lloyd,
    )

    flat = [(0, [0] * dim)]
    t0 = time.perf_counter()
    books = pq_residual_codebooks_lloyd(ann, flat, n_sub=16, ks=256, iters=2)
    pq_train_sec = round(time.perf_counter() - t0, 2)
    pq = pq_ivf_adc_topk(ann, annq, flat, books, k=ann_k, nprobe=1)
    stage("pq_adc_topk_100q", lambda: pq)
    stages["pq_adc_topk_100q"].update(
        codebook_sec=pq_train_sec,
        recall_at_10=_recall(pq),
        shuffle_exchanges=obs.exchange_count(pq),
    )
    pqr = pq_ivf_rerank_topk(ann, annq, flat, books, k=ann_k, shortlist=1000,
                             nprobe=1)
    stage("pq_rerank_topk_100q", lambda: pqr)
    stages["pq_rerank_topk_100q"]["recall_at_10"] = _recall(pqr)
    stages["pq_rerank_topk_100q"]["shuffle_exchanges"] = obs.exchange_count(pqr)

    # mutual-kNN graph + components probe (r7): cell-scoped grouped-GEMM
    # top-kk lists over the 512-cell index, mutual filter, then
    # connected components — the edge list at this scale exceeds the
    # driver short-circuit, so this exercises the DISTRIBUTED
    # contraction loop (per-partition union-find -> relabel -> shrink)
    # end to end. Three late-r7 fixes took this stage 1253 s -> 55 s:
    # contraction CC (propagation+path-halving cost 1013 s at 1M nodes;
    # contraction measured 18.5 s forced-distributed on 800k edges with
    # 10k-long chains), the shared assign_cells_arrow kernel (the
    # _nearest_cells_int expression folded a 512-cell literal tree per
    # row - 35.6 s per 200k rows), and a lazy checkpoint on the mutual
    # edge list (the plan tree referenced the GEMM stage ~5 times).
    from binance_futures_data_lake_spark.operators.similarity import (
        ivf_lloyd_centroids,
        knn_graph_components,
    )

    # 512 deterministic Lloyd cells ≈ 2k-row cells at 1M vectors, so the
    # per-cell cosine block stays ~30 MB
    kg_cents = ivf_lloyd_centroids(ann, num_cells=512, iters=2)
    # build INSIDE the timed thunk: the operator runs eager work while
    # constructing (checkpoint materialization + CC jobs), so timing
    # only the final force would claim 2 s for a ~90 s stage
    kg = stage(
        "knn_graph_components_1m",
        lambda: knn_graph_components(ann, kg_cents, kk=2, threshold=0.92),
    )
    stages["knn_graph_components_1m"].update(
        n_clustered=kg.filter(F.col("component") != F.col("vec_id")).count(),
    )
    # PQ encode+ADC probe over --rows (10M) vectors (r8, VERDICT r7 #7): the
    # compressed scan one order above the 1M tier. Codebooks train on a 1M sample
    # (standard PQ practice — books are plan literals either way); the
    # timed stage is the full-corpus encode + ADC + partial-top-k, ONE
    # zero-shuffle pass. Recall is gauged at the 1M tier above (same
    # generator); this stage's claim is the flat-exchange scan slope.
    big_n = total_rows
    big_ann = clustered_vectors(spark, big_n, dim, n_latent)
    t0 = time.perf_counter()
    train_step = max(1, big_n // 1_000_000)
    big_books = pq_residual_codebooks_lloyd(
        big_ann.filter(F.col("vec_id") % F.lit(train_step) == 0), flat,
        n_sub=16, ks=256, iters=2,
    )
    big_train_sec = round(time.perf_counter() - t0, 2)
    big_pq = pq_ivf_adc_topk(big_ann, annq, flat, big_books, k=ann_k, nprobe=1)
    stage("pq_adc_scan_10m", lambda: big_pq)
    stages["pq_adc_scan_10m"].update(
        n_vectors=big_n,
        codebook_train_on=-(-big_n // train_step),  # actual sample size
        codebook_sec=big_train_sec,
        shuffle_exchanges=obs.exchange_count(big_pq),
    )
    ann.unpersist()

    # contraction-CC probe over --rows (10M) nodes (r8, VERDICT r7 #7): 10k-long chains
    # — the adversarial depth case for label propagation — with an edge
    # list (~10M) far above DRIVER_MAX_EDGES for the early rounds, so the
    # DISTRIBUTED contraction loop does the work; the claim under test is
    # geometric edge shrink (wall grows ~linearly in |E|, not in chain
    # depth). Generation is in-plan; correctness is exact (every node's
    # component must be its chain head).
    from binance_futures_data_lake_spark.operators.graph import (
        connected_components,
    )

    n_cc = total_rows
    chain = 10_000
    cc_edges = chain_edges(spark, n_cc, chain)
    # eager loop inside the operator — time the build, not just the force
    cc = stage(
        "contraction_cc_10m_chains",
        lambda: connected_components(cc_edges),
    )
    mislabeled = chain_mislabels(cc, chain)
    stages["contraction_cc_10m_chains"].update(
        n_nodes=n_cc, chain_len=chain, mislabeled=mislabeled,
    )

    # banded-hamming near-dup probe (r5): --rows (10M) 64-bit fingerprints through
    # the shared text/image/audio near-dup engine at its web-scale config
    # (4x16-bit bands, hamming<=3). Planted truth: ids < 100k form 10k
    # groups of 10 (5 identical + 5 one-distinct-bit members -> all 45
    # pairs within hamming 2), the rest are unique xxhash64 values.
    # Candidate volume is the honest cost: 10M rows / 65536 buckets ~ 153
    # deep, ~0.8G joined rows per band dying in codegen (no exchange) —
    # the knob a 10^10-doc deployment turns is MORE bucket bits, not a
    # different algorithm. Generation is in-plan (range + xxhash64), so
    # both join sides regenerate deterministically instead of caching.
    from binance_futures_data_lake_spark.operators.textdedup import (
        hamming_near_pairs,
    )

    fps = planted_fingerprints(spark, total_rows)
    ham_pairs = hamming_near_pairs(
        fps, "fp", max_hamming=3, bits=64, n_bands=4
    ).persist()
    stage("hamming_band_join_10m", lambda: ham_pairs)
    stages["hamming_band_join_10m"]["shuffle_exchanges"] = obs.exchange_count(ham_pairs)
    ham_pairs.unpersist()

    # backtest kernel probe (r4): the full research pipeline -> 4-config
    # sweep over every symbol. Exercises bars x cfg cross, vectorized
    # signals, and the per-(symbol, cfg) applyInPandas position loop —
    # 4 x n_symbols independent groups, the B3 scale story.
    from binance_futures_data_lake_spark.operators.backtest import Cfg, run_sweep, sweep_stats
    from binance_futures_data_lake_spark.operators.regime import VolRegimeParams
    from binance_futures_data_lake_spark.plans.pipeline import joined_research_frame

    frame = joined_research_frame(m1c, vol_params=VolRegimeParams(lookback=48)).cache()
    frame.count()
    all_hours = ",".join(str(h) for h in range(24))
    # MR thresholds sized to the SYNTHETIC price path so entries actually
    # fire (the production defaults need range_rel >= 1.2; the generator's
    # p99 is ~0.73, which left the r4 probe's kernel walking bars with
    # zero positions — machinery exercised, trade path not). With these,
    # ~12k trades/M rows/cfg drive the full 11-state entry/TP1/BE/TP2
    # machine; the router never enters TREND mode on this data, so the
    # trend_enabled variant only proves the gate evaluates.
    loose = dict(
        session_hours=all_hours, minute_guard=0, mr_rr=0.3, mr_d=0.1,
        mr_cp_low=0.45, mr_cp_high=0.55, mr_mean_dist=0.0,
        mr_atr_pctl_max=1.0, vol_filter_high=False,
    )
    cfgs = [
        Cfg(name="base", **loose),
        Cfg(name="tight", **{**loose, "mr_sl_atr": 1.2}),
        Cfg(name="cooldown", **{**loose, "cooldown_after_loss": 5,
                                "cost_r_per_trade": 0.02}),
        Cfg(name="no_trend", **{**loose, "trend_enabled": False}),
    ]
    stage(
        "config_sweep_4cfg",
        lambda: sweep_stats(run_sweep(frame, cfgs)),
    )
    frame.unpersist()

    print(json.dumps({"rows": n, "n_symbols": n_symbols, "stages": stages}))
    spark.stop()


if __name__ == "__main__":
    main()
