"""Structured Streaming semantics vs their batch equivalents.

The contract (SURVEY §2.10): a streaming windowed-OHLCV bar, once the
watermark closes its window, must be IDENTICAL to the batch tick_ohlcv bar
over the same events; dedup-within-watermark must drop replayed keys; the
persisted dedup and sketch states must equal their batch results under
restart and replay.
"""

import glob
import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.resample import tick_ohlcv
from binance_futures_data_lake_spark.sources.testdata import load_events
from binance_futures_data_lake_spark.streaming.pipeline import run_ohlcv_ingest

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def source_dir(spark, tmp_path):
    """events split into 3 time-ordered files so availableNow processes
    multiple micro-batches and the watermark actually advances (append-mode
    bars only emit in a batch AFTER the one that moved the watermark)."""
    ev = load_events(spark, SF).orderBy("ts", "event_id").toPandas()
    n = len(ev)
    src = tmp_path / "src"
    src.mkdir()
    cuts = [0, int(n * 0.4), int(n * 0.8), n]
    for i in range(3):
        part = ev.iloc[cuts[i]:cuts[i + 1]].copy()
        # streaming source schema expects ts as nanos-long (EVENTS_SCHEMA)
        part["ts"] = part["ts"].astype("int64")
        p = src / f"chunk-{i}.parquet"
        part.to_parquet(p, index=False)
        mtime = time.time() - (3 - i) * 60
        os.utime(p, (mtime, mtime))
    return str(src)


def test_stream_batch_bar_parity(spark, source_dir, tmp_path):
    sink = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    q = run_ohlcv_ingest(
        spark, source_dir, sink, ckpt, minutes=60,
        key_cols=("event_type",), watermark="30 minutes",
    )
    q.awaitTermination(300)

    got = spark.read.parquet(sink).select(
        "event_type", "bucket_ts", "open", "high", "low", "close", "volume", "n_ticks"
    ).toPandas().sort_values(["event_type", "bucket_ts"]).reset_index(drop=True)
    assert len(got) > 0

    ev = load_events(spark, SF)
    # batch reference: event_id tiebreak is unavailable in window() order —
    # at sf0.001 no two events of one type share a timestamp, so plain
    # ts-ordered first/last agree (asserted below)
    dup = (
        ev.groupBy("event_type", "ts").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0, "tiebreak assumption violated — pick different test data"
    exp_all = tick_ohlcv(ev, 60, ["event_type"]).select(
        "event_type", "bucket_ts", "open", "high", "low", "close", "volume", "n_ticks"
    ).toPandas()

    # every emitted bar must equal its batch counterpart exactly
    merged = got.merge(
        exp_all, on=["event_type", "bucket_ts"], how="left", suffixes=("", "_exp")
    )
    assert merged["open_exp"].notna().all(), "stream emitted a bar batch doesn't have"
    for c in ["open", "high", "low", "close", "n_ticks"]:
        pd.testing.assert_series_equal(
            merged[c], merged[f"{c}_exp"], check_names=False, check_dtype=False
        )
    assert (merged["volume"] - merged["volume_exp"]).abs().max() < 1e-6

    # coverage: the watermark after the 2nd chunk must have closed at least
    # every window ending before (max ts of chunks 1-2) - 30min
    ev_pd = load_events(spark, SF).orderBy("ts", "event_id").toPandas()
    wm = ev_pd.iloc[: int(len(ev_pd) * 0.8)]["ts"].max() - pd.Timedelta(minutes=30)
    must_have = exp_all[
        (pd.to_datetime(exp_all["bucket_ts"]) + pd.Timedelta(hours=1)) <= wm
    ]
    have = set(zip(got["event_type"], pd.to_datetime(got["bucket_ts"])))
    missing = [
        k for k in zip(must_have["event_type"], pd.to_datetime(must_have["bucket_ts"]))
        if k not in have
    ]
    assert not missing, f"watermark-closed windows not emitted: {missing[:5]}"


def test_ingest_restart_is_idempotent(spark, source_dir, tmp_path):
    """Re-running the same availableNow query against the same checkpoint
    must not duplicate bars (exactly-once into the upsert sink)."""
    sink = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        q = run_ohlcv_ingest(
            spark, source_dir, sink, ckpt, minutes=60,
            key_cols=("event_type",), watermark="30 minutes",
        )
        q.awaitTermination(300)
    got = spark.read.parquet(sink)
    n = got.count()
    assert got.select("event_type", "bucket_ts").distinct().count() == n


def test_failed_stream_leaves_no_work_dir(spark, tmp_path, monkeypatch):
    """A registered streaming query whose stream fails must still remove
    the temp dir it staged its chunks, state and checkpoint in."""
    import tempfile

    from binance_futures_data_lake_spark.plans.driver_queries import QUERIES
    from binance_futures_data_lake_spark.streaming import pipeline

    def fail(*args, **kwargs):
        raise RuntimeError("injected stream failure")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(pipeline, "run_ohlcv_ingest", fail)
    monkeypatch.setattr(pipeline, "run_session_ingest", fail)
    for name in ("streaming_ohlcv_bars", "streaming_sessionization"):
        with pytest.raises(RuntimeError, match="injected stream failure"):
            QUERIES[name](spark, SF)
        assert os.listdir(tmp_path) == [], name


def test_doc_quality_stream_dedups_and_matches_batch(spark, tmp_path):
    """The corpus-telemetry stream must (a) collapse re-delivered docs via
    dropDuplicatesWithinWatermark and (b) emit exactly the batch
    aggregate for every closed window."""
    from binance_futures_data_lake_spark.sources.testdata import load_table
    from binance_futures_data_lake_spark.streaming.pipeline import (
        run_doc_quality_ingest,
    )

    docs = load_table(spark, "documents", SF).select(
        "doc_id",
        F.timestamp_micros(
            F.lit(1704067200000000) + F.col("doc_id") * F.lit(60_000_000)
        ).alias("ts"),
        "text", "lang", "source",
    )
    src = str(tmp_path / "src"); os.makedirs(src)
    dup = docs.unionByName(docs.filter(F.col("doc_id") % 7 == 0))  # re-delivery
    dup.coalesce(1).write.parquet(str(tmp_path / "stage"))
    part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    shutil.move(part, os.path.join(src, "chunk-0.parquet"))

    sink = str(tmp_path / "lake")
    q = run_doc_quality_ingest(spark, src, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(600)
    got = {
        (r.lang, r.bucket_ts): (r.n_docs, r.n_keep, r.sum_tok)
        for r in spark.read.parquet(sink).collect()
    }
    assert got, "stream emitted no closed windows"

    # batch reference over UNIQUE docs (duplicates must not count)
    from binance_futures_data_lake_spark.operators.textdedup import words

    toks = words(F.col("text"))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(
        toks, lambda t: t.isin("the", "a", "of", "and", "to", "in", "is", "on")
    ))
    keep = ((n_tok >= 10) & (n_tok <= 200)
            & (n_stop.cast("double") / n_tok >= 0.02)).cast("int")
    wm = docs.agg(F.max("ts")).first()[0]
    batch = (
        docs.select("lang", F.date_trunc("hour", "ts").alias("bucket_ts"),
                    n_tok.cast("long").alias("n_tok"), keep.alias("keep"))
        .groupBy("lang", "bucket_ts")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("keep").alias("n_keep"),
             F.sum("n_tok").alias("sum_tok"))
    )
    import datetime as dt
    want = {
        (r.lang, r.bucket_ts): (r.n_docs, r.n_keep, r.sum_tok)
        for r in batch.collect()
        if r.bucket_ts + dt.timedelta(hours=1) <= wm - dt.timedelta(minutes=30)
    }
    assert got == want


def test_incremental_dedup_stream_state_and_restart(spark, tmp_path):
    """Cross-batch state growth + restart idempotency for the streaming
    incremental dedup: a doc KEPT in drop 0 and re-delivered in drop 1
    must classify exact_dup OF ITSELF (only possible if drop 0's index
    upsert reached drop 1), and re-running the finished stream against
    the same checkpoint must not duplicate or change decisions."""
    from binance_futures_data_lake_spark.streaming.pipeline import (
        init_dedup_state,
        run_incremental_dedup_stream,
    )

    base_ts = pd.Timestamp("2024-01-01").tz_localize("UTC")
    corpus = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2],
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "one two three four five six seven",
            ],
        })
    )
    state = str(tmp_path / "state")
    init_dedup_state(corpus, state)

    def drop(i, rows):
        df = pd.DataFrame(rows, columns=["doc_id", "text"])
        df["ts"] = base_ts
        df["lang"], df["source"] = "en", "t"
        p = tmp_path / f"chunk-{i}.parquet"
        df[["doc_id", "ts", "text", "lang", "source"]].to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    src = tmp_path
    drop(0, [
        (10, "totally novel content with many fresh words here"),   # kept
        (11, "alpha beta gamma delta epsilon zeta"),                # exact of base 1
        (12, "one two three four five six EIGHT"),                  # near of base 2
        (13, "totally novel content with many fresh words here"),   # within-batch exact of 10
    ])
    drop(1, [
        (10, "totally novel content with many fresh words here"),   # redelivered: exact of ITSELF
        (20, "entirely different payload nothing shared at all"),   # kept
    ])

    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second run = restart against committed checkpoint
        q = run_incremental_dedup_stream(
            spark, str(src), state, out_root, ckpt, threshold=0.5,
        )
        assert q.awaitTermination(300)
    got = (
        spark.read.option("recursiveFileLookup", "true").parquet(out_root)
        .toPandas().set_index(["batch", "doc_id"]).sort_index()
    )
    assert len(got) == 6  # no duplication across the restart
    assert got.loc[(0, 10), "status"] == "kept"
    assert got.loc[(0, 11), "status"] == "exact_dup"
    assert got.loc[(0, 11), "match_id"] == 1
    assert got.loc[(0, 12), "status"] == "near_dup"
    assert got.loc[(0, 12), "match_id"] == 2
    assert got.loc[(0, 13), "status"] == "exact_dup"
    assert got.loc[(0, 13), "match_id"] == 10  # within-batch rep
    assert got.loc[(1, 10), "status"] == "exact_dup"
    assert got.loc[(1, 10), "match_id"] == 10  # the GROWN index: itself
    assert got.loc[(1, 20), "status"] == "kept"


def test_incremental_dedup_sink_replay_after_state_write(spark, tmp_path):
    """ADVICE r5 (medium): a crash BETWEEN the sink's state-store writes
    and the checkpoint commit replays the micro-batch with its own
    ``b-{batch}`` state dirs already on disk. The replay must classify
    against the state the FIRST attempt saw (state reads filter to tags
    < batch_id) — without that filter the batch's kept reps find their
    own md5 in the exact index, reclassify as exact_dup of themselves,
    and the replay overwrites the state paths with empty frames."""
    from binance_futures_data_lake_spark.streaming.pipeline import (
        incremental_dedup_sink,
        init_dedup_state,
    )

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1],
        "text": ["alpha beta gamma delta epsilon zeta"],
    }))
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    init_dedup_state(corpus, state)
    sink = incremental_dedup_sink(state, out, threshold=0.5)
    batch = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11],
        "text": [
            "totally novel content with many fresh words here",
            "alpha beta gamma delta epsilon zeta",
        ],
    }))

    def decisions():
        return (
            spark.read.option("recursiveFileLookup", "true").parquet(out)
            .toPandas().set_index("doc_id").sort_index()
        )

    def corpus_ids():
        return set(
            spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(state, "corpus"))
            .toPandas()["doc_id"]
        )

    sink(batch, 0)  # first attempt: decisions + state b-00000 written
    first = decisions()
    assert first.loc[10, "status"] == "kept"
    assert first.loc[11, "status"] == "exact_dup"
    assert corpus_ids() == {1, 10}

    sink(batch, 0)  # replay: crash landed before the checkpoint commit
    second = decisions()
    pd.testing.assert_frame_equal(first, second)
    assert corpus_ids() == {1, 10}  # kept doc NOT erased by the replay

    # and the grown state still decides the NEXT batch
    sink(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": [20],
            "text": ["totally novel content with many fresh words here"],
        })),
        1,
    )
    assert decisions().loc[20, "status"] == "exact_dup"
    assert decisions().loc[20, "match_id"] == 10


def test_incremental_dedup_sink_chains_match_through_near_dup_rep(spark, tmp_path):
    """ADVICE r5 (low): a within-batch exact twin of a rep that is itself
    a NEAR dup must point at the rep's near-dup match (a kept, persisted
    doc) — not at the rep id, which never entered the corpus store."""
    from binance_futures_data_lake_spark.streaming.pipeline import (
        incremental_dedup_sink,
        init_dedup_state,
    )

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1],
        "text": ["one two three four five six seven"],
    }))
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    init_dedup_state(corpus, state)
    sink = incremental_dedup_sink(state, out, threshold=0.5)
    near_text = "one two three four five six EIGHT"
    sink(
        spark.createDataFrame(pd.DataFrame({
            "doc_id": [10, 11], "text": [near_text, near_text],
        })),
        0,
    )
    got = (
        spark.read.option("recursiveFileLookup", "true").parquet(out)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert got.loc[10, "status"] == "near_dup"
    assert got.loc[10, "match_id"] == 1
    assert got.loc[11, "status"] == "exact_dup"
    assert got.loc[11, "match_id"] == 1  # chained through the rep's match


def test_incremental_simhash_stream_state_restart_and_replay(spark, tmp_path):
    """SimHash streaming tier (r6): cross-batch index growth + restart
    idempotency + replay-after-state-write convergence, the same contract
    as the md5/MinHash tiers. A doc KEPT in drop 0 and re-delivered in
    drop 1 must classify near_dup at hamming 0 OF ITSELF (only possible
    if drop 0's index upsert reached drop 1); a replayed batch must
    re-write identical decisions without erasing its own kept docs."""
    from binance_futures_data_lake_spark.streaming.pipeline import (
        incremental_simhash_sink,
        init_simhash_state,
        run_incremental_simhash_stream,
    )

    base_ts = pd.Timestamp("2024-01-01").tz_localize("UTC")
    corpus = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1],
            "text": ["alpha beta gamma delta epsilon zeta eta theta"],
        })
    )
    state = str(tmp_path / "state")
    init_simhash_state(corpus, state)

    def drop(i, rows):
        df = pd.DataFrame(rows, columns=["doc_id", "text"])
        df["ts"] = base_ts
        df["lang"], df["source"] = "en", "t"
        p = tmp_path / f"chunk-{i}.parquet"
        df[["doc_id", "ts", "text", "lang", "source"]].to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    novel = "totally different content with many unrelated fresh words here"
    near_of_base = "alpha beta gamma delta epsilon zeta eta iota"  # 1 token off
    drop(0, [(10, novel), (11, near_of_base), (12, novel)])
    drop(1, [(10, novel), (20, "entirely new payload nothing shared at all now")])

    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second run = restart against committed checkpoint
        q = run_incremental_simhash_stream(
            spark, str(tmp_path), state, out_root, ckpt, max_hamming=3, bits=32,
        )
        assert q.awaitTermination(300)
    got = (
        spark.read.option("recursiveFileLookup", "true").parquet(out_root)
        .toPandas().set_index(["batch", "doc_id"]).sort_index()
    )
    assert len(got) == 5  # no duplication across the restart
    assert got.loc[(0, 10), "status"] == "kept"
    # near_of_base differs from base doc 1 by one token; simhash may or
    # may not land within hamming<=3 — assert consistency, not the label
    assert got.loc[(0, 11), "status"] in ("kept", "near_dup")
    assert got.loc[(0, 12), "status"] == "near_dup"  # same fp as rep 10
    assert got.loc[(0, 12), "match_id"] == 10
    assert got.loc[(0, 12), "hamming"] == 0
    assert got.loc[(1, 10), "status"] == "near_dup"
    assert got.loc[(1, 10), "match_id"] == 10  # the GROWN index: itself
    assert got.loc[(1, 10), "hamming"] == 0
    assert got.loc[(1, 20), "status"] == "kept"

    # replay-after-state-write: call the sink again with an already-
    # persisted batch id — decisions identical, kept fp not erased
    sink = incremental_simhash_sink(state, out_root, max_hamming=3, bits=32)
    batch = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 20],
        "text": [novel, "entirely new payload nothing shared at all now"],
    }))
    before = got.loc[1].copy()
    sink(batch, 1)
    after = (
        spark.read.option("recursiveFileLookup", "true").parquet(out_root)
        .toPandas()
    )
    after1 = after[after["batch"] == 1].set_index("doc_id").sort_index()
    pd.testing.assert_frame_equal(
        before.sort_index(), after1[before.columns].sort_index()
    )
    idx = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(state, "sim")).toPandas()
    )
    assert 20 in set(idx["doc_id"])  # batch-1 kept doc still in the index


def test_cms_stream_merge_equals_batch_and_replay_idempotent(spark, tmp_path):
    import os

    from binance_futures_data_lake_spark.operators.sketch import cms_build
    from binance_futures_data_lake_spark.streaming.pipeline import (
        init_sketch_state,
        read_sketch_state,
        sketch_delta_sink,
    )

    rows = [(i, i % 7) for i in range(500)]
    all_df = spark.createDataFrame(rows, "event_id long, user_id long")
    state = str(tmp_path / "state")
    init_sketch_state(
        "cms", all_df.filter("event_id % 3 = 0"), state,
        value_col="user_id", depth=3, width=16,
    )
    sink = sketch_delta_sink("cms", state, "user_id", depth=3, width=16)
    b1 = all_df.filter("event_id % 3 = 1")
    b2 = all_df.filter("event_id % 3 = 2")
    sink(b1, 0)
    sink(b2, 1)
    merged = {
        (r.seed, r.bucket): r.cnt
        for r in read_sketch_state("cms", spark, state).collect()
    }
    direct = {
        (r.seed, r.bucket): r.cnt
        for r in cms_build(all_df, "user_id", 3, 16).collect()
    }
    # mergeability theorem: merged deltas == one build over the union
    assert merged == direct
    # crash-replay of a batch overwrites the same path with the same
    # delta -> merged counters unchanged (exactly-once by idempotence)
    sink(b2, 1)
    again = {
        (r.seed, r.bucket): r.cnt
        for r in read_sketch_state("cms", spark, state).collect()
    }
    assert again == direct
    # in-batch at-least-once redelivery collapses on event_id
    sink(b2.union(b2.limit(50)), 1)
    assert {
        (r.seed, r.bucket): r.cnt
        for r in read_sketch_state("cms", spark, state).collect()
    } == direct
    # batch dirs are addressed: b-base + one per batch id
    assert sorted(os.listdir(os.path.join(state, "cms"))) == [
        "b-00000", "b-00001", "b-base",
    ]


def test_hll_stream_merge_equals_batch_and_duplicate_insensitive(spark, tmp_path):
    import os

    from binance_futures_data_lake_spark.operators.sketch import (
        hll_distinct,
        hll_estimate_from_registers,
        hll_registers,
    )
    from binance_futures_data_lake_spark.streaming.pipeline import (
        init_sketch_state,
        read_sketch_state,
        sketch_delta_sink,
    )

    rows = [(i, i % 97, "a" if i % 2 == 0 else "b") for i in range(600)]
    all_df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    state = str(tmp_path / "state")
    init_sketch_state(
        "hll", all_df.filter("event_id % 3 = 0"), state,
        value_col="user_id", by=["event_type"], m=64,
    )
    sink = sketch_delta_sink("hll", state, "user_id", by=["event_type"], m=64)
    b1 = all_df.filter("event_id % 3 = 1")
    b2 = all_df.filter("event_id % 3 = 2")
    sink(b1, 0)
    sink(b2, 1)
    merged_df = read_sketch_state("hll", spark, state)
    merged = {
        (r.event_type, r.bucket): r.mx for r in merged_df.collect()
    }
    direct = {
        (r.event_type, r.bucket): r.mx
        for r in hll_registers(all_df, "user_id", ["event_type"], 64).collect()
    }
    # mergeability theorem: max-merged deltas == one build over the union
    assert merged == direct
    # ... and so the estimate equals the batch operator's estimate
    est_stream = {
        r.event_type: r.hll_estimate
        for r in hll_estimate_from_registers(
            merged_df, by=["event_type"], m=64
        ).collect()
    }
    est_batch = {
        r.event_type: r.hll_estimate
        for r in hll_distinct(
            all_df, "user_id", by=["event_type"], m=64, include_exact=False
        ).collect()
    }
    assert est_stream == est_batch
    # crash-replay overwrites the same path with the same delta
    sink(b2, 1)
    # at-least-once redelivery needs NO dedup: max of a max is a no-op
    sink(b2.union(b2.limit(50)), 1)
    assert {
        (r.event_type, r.bucket): r.mx
        for r in read_sketch_state("hll", spark, state).collect()
    } == direct
    assert sorted(os.listdir(os.path.join(state, "hll"))) == [
        "b-00000", "b-00001", "b-base",
    ]


def test_kmv_stream_merge_equals_batch_and_duplicate_insensitive(spark, tmp_path):
    import os

    from binance_futures_data_lake_spark.operators.sketch import (
        kmv_estimate_from_state,
        kmv_state,
    )
    from binance_futures_data_lake_spark.streaming.pipeline import (
        init_sketch_state,
        read_sketch_state,
        sketch_delta_sink,
    )

    rows = [(i, i % 211, "a" if i % 2 == 0 else "b") for i in range(600)]
    all_df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    state = str(tmp_path / "state")
    init_sketch_state(
        "kmv", all_df.filter("event_id % 3 = 0"), state,
        value_col="user_id", by=["event_type"], k=64,
    )
    sink = sketch_delta_sink("kmv", state, "user_id", by=["event_type"], k=64)
    b1 = all_df.filter("event_id % 3 = 1")
    b2 = all_df.filter("event_id % 3 = 2")
    sink(b1, 0)
    sink(b2, 1)
    merged_df = read_sketch_state("kmv", spark, state, k=64)
    merged = {(r.event_type, r.hv) for r in merged_df.collect()}
    direct = {
        (r.event_type, r.hv)
        for r in kmv_state(all_df, "user_id", ["event_type"], 64).collect()
    }
    # mergeability: k smallest of per-part k-smallest unions == k
    # smallest of the union
    assert merged == direct
    est_stream = {
        r.event_type: r.kmv_estimate
        for r in kmv_estimate_from_state(merged_df, by=["event_type"], k=64).collect()
    }
    # 211 distinct users per type > k=64 -> estimator path; vs true 211
    # within ~3 sigma of 1/sqrt(62)
    for et in ("a", "b"):
        assert abs(est_stream[et] - 211) / 211 < 0.4
    # crash replay + at-least-once redelivery need no dedup machinery
    sink(b2, 1)
    sink(b2.union(b2.limit(50)), 1)
    assert {
        (r.event_type, r.hv)
        for r in read_sketch_state("kmv", spark, state, k=64).collect()
    } == direct
    assert sorted(os.listdir(os.path.join(state, "kmv"))) == [
        "b-00000", "b-00001", "b-base",
    ]


def test_session_stream_out_of_grid_value_poisons_sum(spark):
    """|value| beyond the 1e-6 LONG grid (~9.2e12) must surface as a NULL
    sum_value, never a silently wrapped long (ADVICE r8); NULL values
    still pass through as skip-not-poison."""
    import datetime as dt

    from binance_futures_data_lake_spark.streaming.pipeline import session_stream

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("ok", t0, 1.5), ("ok", t0 + dt.timedelta(minutes=1), 2.5),
        ("oob", t0, 1.0), ("oob", t0 + dt.timedelta(minutes=1), 1e13),
        ("withnull", t0, 3.0), ("withnull", t0 + dt.timedelta(minutes=1), None),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    got = {r.user_id: r for r in session_stream(df).collect()}
    assert got["ok"].sum_value == 4.0
    assert got["oob"].sum_value is None
    assert got["withnull"].sum_value == 3.0
    assert got["withnull"].n_events == 2
