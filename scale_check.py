#!/usr/bin/env python
"""Scale probe: run operators on generated data far larger than the driver
testdata, and print one JSON line of per-stage walls and shuffle bytes.

Generation is ``spark.range``-based and in-plan, and nothing collects more
than aggregate scalars or top-k lists, so a dataset that breaks a
driver-side design has no place to hide. Every timed region (plan build
plus force) runs through ``obs.run``. One mode per run; each names the
ROADMAP item it serves:

- default, ``--rows N`` (10M M1 bars over 100 symbols): the operator
  pipeline — resample, window features, EWM, as-of join, dedup, rollup
  cascade, gaps, interval join, KMV, media kernels, packing, scrubbing,
  DSIR, Bloom, the ANN section (brute force, LSH, flat PQ ADC and
  re-rank, kNN-graph components) and the banded-hamming join and
  backtest sweep. The ANN section is the before/after for any similarity
  change (item 8). ``--trading-only`` stops after dedup.
- ``--cc --rows N``: connected components on 10k-long chains with
  per-round shuffle and spill deltas (item 2, driver finish for small
  iterations).
- ``--bpe --docs N --merges M``: BPE merge learning and its marginal cost
  per merge (item 2, the BPE merge loop).
- ``--streaming`` / ``--streaming-dedup``, with ``--batches`` and
  ``--rows-per-batch``: sketch and dedup delta state driven through the
  real sinks, then the state fold with read equality asserted across it
  (item 6, the streaming state protocol).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

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


def _arg(flag: str, default: int) -> int:
    return int(sys.argv[sys.argv.index(flag) + 1]) if flag in sys.argv else default


def timed(spark, label: str, thunk):
    """``thunk()`` run once under ``obs.run`` (a returned DataFrame is
    forced inside the timer): its value, wall seconds and run record."""
    box = {}
    rec = obs.run(spark, label, lambda: box.setdefault("v", thunk()))
    return box["v"], round(rec["best_s"], 2), rec


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

    df, wall, _ = timed(
        spark, "cc", lambda: connected_components(cc_edges, on_round=on_round)
    )
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
        learned, sec, _ = timed(
            spark, "bpe", lambda: bpe_learn_merges(docs_frame(n), n_merges=merges)
        )
        return sec, learned.count()

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

    def ingest() -> None:
        for bid in range(n_batches):
            b = batch_frame(bid)
            for s in sinks:
                s(b, bid)

    def reads() -> dict:
        t = {}
        cms, t["cms_read_sec"], _ = timed(spark, "cms_read", lambda: {
            (r.seed, r.bucket): r.cnt
            for r in read_sketch_state("cms", spark, root).collect()
        })
        hll, t["hll_read_sec"], _ = timed(spark, "hll_read", lambda: {
            (r.event_type, r.bucket): r.mx
            for r in read_sketch_state("hll", spark, root).collect()
        })
        kmv, t["kmv_read_sec"], _ = timed(spark, "kmv_read", lambda: sorted(
            (r.event_type, r.hv)
            for r in read_sketch_state("kmv", spark, root, k=1024).collect()
        ))
        return {"walls": t, "cms": cms, "hll": hll, "kmv": kmv}

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
        _, ingest_sec, _ = timed(spark, "ingest", ingest)
        out["ingest_sec_all_families"] = ingest_sec
        out["ingest_rows_per_sec"] = int(n_batches * rows_per_batch / ingest_sec)
        before = reads()
        out["state_parquet_files_before_fold"] = du_mb_and_files(root)[1]
        out["merge_on_read_before_fold"] = before["walls"]
        folded, out["fold_sec"], _ = timed(
            spark, "fold", lambda: compact_state(spark, root, kmv_k=1024)
        )
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

        def ingest() -> None:
            for bid in range(n_batches):
                sink(batch_frame(bid), bid)

        _, ingest_sec, _ = timed(spark, "ingest", ingest)
        out["ingest_sec"] = ingest_sec
        out["ingest_docs_per_sec"] = int(n_batches * rows_per_batch / ingest_sec)

        def reads() -> dict:
            # count + order-insensitive content checksum per family:
            # sum(xxhash64(*cols)) wraps deterministically (non-ANSI),
            # so equal multisets => equal (count, checksum) pairs without
            # collecting 48M sig rows to the driver
            walls, counts, sums = {}, {}, {}
            for fam in ("corpus", "sig", "exact"):
                def read(fam=fam):
                    st = _read_state(spark, os.path.join(root, fam))
                    return st.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.xxhash64(*st.columns)).alias("cs"),
                    ).collect()[0]

                row, walls[fam], _ = timed(spark, f"{fam}_read", read)
                counts[fam], sums[fam] = row["n"], row["cs"]
            return {"walls": walls, "counts": counts, "checksums": sums}

        before = reads()
        out["state_parquet_files_before_fold"] = du_mb_and_files(root)[1]
        out["merge_on_read_before_fold"] = {
            k: before[k] for k in ("walls", "counts")
        }
        folded, out["fold_sec"], _ = timed(
            spark, "fold", lambda: compact_state(spark, root)
        )
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
    total_rows = _arg("--rows", 10_000_000)
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
        df, dt, rec = timed(spark, name, thunk)
        n = df.count()  # outside the timer; pruned count is cheap
        stages[name] = {
            "sec": dt,
            "rows_per_sec": int(n / dt) if dt else None,
            "rows": n,
            **gb(rec),
        }
        return df

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
    lam, dsir_fit_sec, _ = timed(
        spark, "dsir_fit", lambda: dsir_fit(sel, F.col("source") < "2", n_buckets=8192)
    )
    dsir_scored = dsir_logweights(sel, lam)
    stage("dsir_score_1m_docs", lambda: dsir_scored)
    stages["dsir_score_1m_docs"].update(
        n_buckets=8192,
        fit_sec=dsir_fit_sec,
        scoring_shuffle_exchanges=obs.exchange_count(dsir_scored),
    )
    bloom_words, bloom_build_sec, _ = timed(spark, "bloom_bitset", lambda: bloom_bitset(
        sel.filter(F.col("doc_id") % 97 == 0), m_bits=1 << 19, k=4
    ))
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
    # exact re-rank on top. The seeded-vs-trained recall and shortlist
    # sweep at 1M are committed in SCALE_PROBE_r9.json and _r10.json.
    from binance_futures_data_lake_spark.operators.similarity import (
        pq_ivf_adc_topk,
        pq_ivf_rerank_topk,
        pq_residual_codebooks_lloyd,
    )

    flat = [(0, [0] * dim)]
    books, pq_train_sec, _ = timed(
        spark, "pq_codebooks",
        lambda: pq_residual_codebooks_lloyd(ann, flat, n_sub=16, ks=256, iters=2),
    )
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
    ann.unpersist()

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
