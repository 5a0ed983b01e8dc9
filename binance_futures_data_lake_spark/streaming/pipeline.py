"""Structured Streaming re-expression of the reference's batch-emulated
streaming semantics (SURVEY §2.10).

Reference → Spark mapping implemented here:

- safe-lag 2 min (klines_m1.py:28,58-63)          → ``withWatermark``
- tumbling bucket agg (aggregate_tf.py:85-102)    → ``window()`` groupBy
- emit-on-window-close (aggregate_tf.py:65-76)    → append output mode
- dedup keep-last on key within safe lag          → ``dropDuplicatesWithinWatermark``
- staged append + compaction + checkpoint
  (klines_m1.py:146-185, compact_staging.py)      → ``foreachBatch`` upsert +
                                                     streaming checkpointLocation

Every ``run_*`` entry point starts its query through one helper,
``_start_available_now`` (append mode, availableNow trigger, foreachBatch
sink, checkpointLocation). Persisted state that outlives a query — the
dedup/simhash indexes and the CMS/HLL/KMV sketches — is one protocol: a
``b-base`` dir plus one batch-addressed ``b-%05d`` delta per micro-batch,
merged on read and folded by :func:`compact_state` under a commit marker.
The three sketch families share one table (``_SKETCH_FAMILIES``: build,
merge, in-batch dedup key) and four functions over it:
:func:`init_sketch_state`, :func:`sketch_delta_sink`,
:func:`read_sketch_state` and :func:`run_sketch_stream`.

Batch/stream parity is the test contract: the streaming windowed bars must
equal the batch ``tick_ohlcv`` result for every window the watermark has
closed (tests/test_streaming.py).

Scale note: a streaming window agg shuffles on (keys, window) exactly like
the batch groupBy; state lives in the state store partitioned the same way,
so the 1000-executor story is unchanged — keys spread the state, watermark
bounds its size, and checkpointLocation makes restarts exactly-once into an
idempotent (upsert) sink.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from binance_futures_data_lake_spark.functions.scalars import round6
from binance_futures_data_lake_spark.operators.sketch import (
    cms_build,
    hll_registers,
    kmv_state,
)
from binance_futures_data_lake_spark.schemas import EVENTS_SCHEMA
from binance_futures_data_lake_spark.sources.lake import upsert_partitions


def _file_stream(
    spark: SparkSession, schema, path: str, max_files_per_trigger: int | None
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _start_available_now(stream_df: DataFrame, checkpoint_dir: str, sink):
    """Start ``stream_df`` in append mode into the foreachBatch ``sink``
    with the availableNow trigger (process everything pending, then stop
    — the cron-job shape of hourly_job.zsh); the checkpoint makes a
    restart resume after the last committed micro-batch."""
    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )


def stream_events(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over events parquet (the micro-batch stand-in for
    the reference's REST poll loop — each new file ≙ one poll response)."""
    df = _file_stream(spark, EVENTS_SCHEMA, path, max_files_per_trigger)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def windowed_ohlcv_stream(
    events: DataFrame,
    minutes: int,
    key_cols: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling OHLCV bars; append mode emits a bar only when
    its window is closed — the complete-buckets-only rule (A2) for free.

    first/last are time-ordered via ``min_by/max_by`` on the event time, the
    same determinism rule as batch ``tick_ohlcv``.
    """
    v = F.col(value_col)
    order = F.col(ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, F.window(ts_col, f"{minutes} minutes").alias("win"))
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.sum(v).alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            *key_cols,
            F.col("win.start").alias("bucket_ts"),
            "open", "high", "low", "close", "volume", "n_ticks",
        )
    )


def parquet_upsert(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    keys: Sequence[str],
    part_ts_col: str = "bucket_ts",
) -> int:
    """Keyed new-wins upsert into a parquet table partitioned by the day of
    ``part_ts_col`` (``p_day``) — ``lake.upsert_partitions``, the same
    merge the lake's staging compaction runs, told the days the batch
    touches by one count over them. ``part_ts_col`` must be in ``keys`` (or
    a function of them), so each key lands in one day. Returns the rows
    upserted."""
    df = new_df.withColumn("p_day", F.to_date(part_ts_col))
    days = df.groupBy("p_day").count().collect()
    n_new = sum(r["count"] for r in days)
    if n_new:
        upsert_partitions(spark, path, df, keys, ["p_day"], [(r["p_day"],) for r in days])
    return n_new


def foreach_batch_upsert(
    root: str,
    keys: Sequence[str],
    part_ts_col: str = "bucket_ts",
):
    """foreachBatch sink: keyed upsert per micro-batch — the collector's
    append/compact/checkpoint trio with the manual _checkpoint.json replaced
    by the stream's checkpointLocation. ``keys`` must contain
    ``part_ts_col`` (or determine it), as ``parquet_upsert`` requires.

    Idempotent on replay: a re-delivered micro-batch upserts the same keys
    to the same values, so at-least-once delivery + this sink = effectively
    exactly-once (the reference's dedup-keep-last guarantee).
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        parquet_upsert(batch_df.sparkSession, root, batch_df, keys, part_ts_col)

    return _sink


def run_ohlcv_ingest(
    spark: SparkSession,
    source_path: str,
    sink_root: str,
    checkpoint_dir: str,
    minutes: int = 5,
    key_cols: Sequence[str] = ("event_type",),
    watermark: str = "2 minutes",
):
    """End-to-end incremental pipeline: file stream → watermarked window agg
    → foreachBatch upsert into a parquet lake, availableNow trigger (process
    everything pending, then stop — the cron-job shape of hourly_job.zsh)."""
    bars = windowed_ohlcv_stream(
        stream_events(spark, source_path), minutes, key_cols, watermark=watermark
    )
    return _start_available_now(
        bars, checkpoint_dir,
        foreach_batch_upsert(sink_root, keys=[*key_cols, "bucket_ts"]),
    )


def session_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked session-window aggregation — the streaming twin of the
    batch ``user_sessions`` query (same native ``session_window``
    operator, so gap semantics are identical by construction: windows
    merge while inter-event gaps stay strictly under ``gap``). Append
    mode emits a session only once the watermark passes its gap-padded
    window end — emit-on-close for dynamically-sized windows. State per
    key is one open session; the watermark bounds how long it can stay
    open after the last event, so state size is (active keys), not
    history. Emitted bounds are min/max EVENT time (not the padded
    window end), matching the batch twin bit-for-bit.

    ``sum_value`` accumulates on the 1e-6 integer grid (scale each value
    to LONG micro-units, sum longs, divide once): a float sum is
    partition-order- and engine-dependent, so multi-event sessions could
    flicker against the batch oracle — the same fixed-point discipline as
    ``rrf_fuse`` / ``doremi_domain_weights``.

    Domain: |value| must stay ≤ ~9.2e12 (LONG range / 1e6 grid). Beyond
    that, non-ANSI Spark's ``cast('long')`` wraps silently while the
    DuckDB oracle's BIGINT cast errors — an engine-divergence edge, so
    it is guarded here: out-of-grid values poison ``sum_value`` to NULL
    via ``try_cast`` semantics rather than wrapping (the rrf_fuse-style
    documented-domain contract, made observable)."""
    in_grid = F.abs(F.col(value_col)) <= F.lit(9.2e12)
    v = F.when(in_grid, F.round(F.col(value_col) * F.lit(1_000_000.0)).cast("long"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col, F.session_window(ts_col, gap).alias("win"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(v).alias("_sum_micro"),
            # NULL values pass through (sum skips them, as before); a
            # PRESENT value outside the grid poisons the session's sum
            F.max(F.col(value_col).isNotNull() & ~in_grid).alias("_oob"),
        )
        .select(
            key_col,
            "session_start",
            "session_end",
            "n_events",
            round6(
                F.when(~F.col("_oob"), F.col("_sum_micro") / F.lit(1_000_000.0))
            ).alias("sum_value"),
        )
    )


def run_session_ingest(
    spark: SparkSession,
    source_path: str,
    sink_root: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
):
    """File stream → watermarked session windows → foreachBatch keyed
    upsert ((user_id, session_start) — a closed session emits once, and a
    replayed micro-batch upserts the same keys to the same values), with
    the availableNow cron-job trigger, mirroring run_ohlcv_ingest."""
    sess = session_stream(
        stream_events(spark, source_path), gap=gap, watermark=watermark
    )
    return _start_available_now(
        sess, checkpoint_dir,
        foreach_batch_upsert(
            sink_root, keys=("user_id", "session_start"), part_ts_col="session_start"
        ),
    )


def stream_docs(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over document parquet drops (each new file ≙ one
    crawl/ingest batch) — the LLM-corpus twin of :func:`stream_events`."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ])
    return _file_stream(spark, schema, path, max_files_per_trigger)


def doc_quality_stream(
    docs: DataFrame,
    watermark: str = "30 minutes",
    window_len: str = "1 hour",
) -> DataFrame:
    """Streaming corpus-quality monitor: dedup-within-watermark on doc_id
    (re-delivered crawl batches collapse exactly once), a columnar keep
    rule (token-count bounds + stopword floor — the Gopher-shape gate,
    deterministic so a batch oracle replays it), then a watermarked
    tumbling window per language: docs seen, docs kept, token volume.
    Append mode emits a window only when the watermark closes it — the
    same emit-on-close contract as the OHLCV stream, applied to corpus
    telemetry. State scale: keyed on (lang, window) + the dedup state
    keyed on doc_id, both bounded by the watermark."""
    from binance_futures_data_lake_spark.operators.text import CORE_STOPWORDS
    from binance_futures_data_lake_spark.operators.textdedup import words

    toks = words(F.col("text"))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*CORE_STOPWORDS)))
    keep = (
        (n_tok >= 10) & (n_tok <= 200)
        & (n_stop.cast("double") / n_tok >= 0.02)
    ).cast("int")
    d = (
        docs.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["doc_id"])
        .select("ts", "lang", n_tok.cast("long").alias("n_tok"), keep.alias("keep"))
    )
    agg = d.groupBy(F.window("ts", window_len), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_keep"),
        F.sum("n_tok").alias("sum_tok"),
    )
    return agg.select(
        "lang", F.col("window.start").alias("bucket_ts"),
        "n_docs", "n_keep", "sum_tok",
    )


def run_doc_quality_ingest(
    spark: SparkSession,
    source_path: str,
    sink_root: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
):
    """End-to-end incremental corpus monitor: document file stream →
    dedup-within-watermark → keep rule → per-(lang, hour) telemetry →
    foreachBatch keyed upsert, availableNow trigger (process pending,
    stop) — identical shape to :func:`run_ohlcv_ingest`."""
    bars = doc_quality_stream(stream_docs(spark, source_path), watermark)
    return _start_available_now(
        bars, checkpoint_dir, foreach_batch_upsert(sink_root, keys=["lang", "bucket_ts"])
    )


# ---------------------------------------------------------------------------
# Streaming incremental dedup: a document stream classified against a
# PERSISTED, GROWING dedup state — the production daily-crawl-ingest
# pattern (each micro-batch ≙ one crawl drop), composing §2.10 streaming
# with the LLM-dedup family's incremental snapshot classifier.
# ---------------------------------------------------------------------------


def _state_batch_dirs(
    spark: SparkSession, root: str, before_batch: int | None = None
) -> list[str]:
    """List the batch-addressed state dirs under ``root`` (``b-base`` plus
    ``b-%05d`` siblings), keeping only tags strictly before
    ``before_batch``. Uses the Hadoop FileSystem API so the listing works
    on any supported store, not just the local FS.

    A ``b-*`` name whose tag is neither ``base`` nor an integer is a
    corrupted or foreign directory: reading it could silently violate the
    crash-replay exclusion guarantee (a replayed batch must classify
    against exactly the state its first attempt saw), so it raises
    instead of being included."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not name.startswith("b-"):
            continue
        if name != "b-base":
            try:
                tag = int(name[2:])
            except ValueError:
                raise ValueError(
                    f"unrecognized state dir {name!r} under {root}: expected "
                    "'b-base' or 'b-<int>'; refusing to read state whose "
                    "batch tag cannot be ordered against a replay boundary"
                ) from None
            if before_batch is not None and tag >= before_batch:
                continue
        out.append(st.getPath().toString())
    return sorted(out)


def _read_state(
    spark: SparkSession, root: str, before_batch: int | None = None
) -> DataFrame:
    """Read the persisted dedup state. ``before_batch`` excludes the
    current batch's own batch-addressed dirs: a replayed micro-batch
    (crash AFTER the state writes but BEFORE the checkpoint commit) must
    classify against exactly the state its first attempt saw — otherwise
    the batch's kept reps find their own md5/signature in the index,
    reclassify as duplicates of themselves, and the replay overwrites
    the state paths with empty frames, erasing the persisted docs."""
    _finish_compaction(spark, root)
    dirs = _state_batch_dirs(spark, root, before_batch)
    if not dirs:
        return spark.read.option("recursiveFileLookup", "true").parquet(root)
    return spark.read.option("recursiveFileLookup", "true").parquet(*dirs)


# ---------------------------------------------------------------------------
# State compaction: fold the batch-addressed deltas into b-base. The
# delta dirs grow one per micro-batch forever and merge-on-read unions
# every delta ever written — fine for the bounded availableNow replay
# the tests pin, but a long-running deployment needs a periodic fold.
# Every family's merge is its own monoid (union for the dedup indexes,
# sum for CMS, max for HLL, k-smallest-union for KMV), and a sketch
# family's fold IS its reader's merge (``_SKETCH_FAMILIES``), so fold ==
# read: compaction writes exactly what merge-on-read would compute.
# ---------------------------------------------------------------------------

_COMPACT_TMP = "compact-tmp"  # no "b-" prefix: invisible to state listings
_COMPACT_MARKER = "compact-commit"


def _state_fs(spark: SparkSession, root: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _finish_compaction(spark: SparkSession, family_dir: str) -> bool:
    """Recover an interrupted :func:`compact_state_dir`: the commit
    marker names exactly the dirs whose content has been folded into
    ``compact-tmp``; if it survives, the swap crashed mid-flight and is
    completed here (every read path calls this first, so state reads are
    self-healing). Returns True when recovery ran."""
    import json

    fs, jvm = _state_fs(spark, family_dir)
    P = jvm.org.apache.hadoop.fs.Path
    marker = P(family_dir, _COMPACT_MARKER)
    if not fs.exists(marker):
        return False
    tmp = P(family_dir, _COMPACT_TMP)
    if fs.exists(tmp):
        # crashed during the delete phase or before the promote: the tmp
        # holds the complete fold, so finish deleting the folded dirs it
        # supersedes, then promote it
        inp = fs.open(marker)
        try:
            payload = jvm.org.apache.commons.io.IOUtils.toString(inp, "UTF-8")
        finally:
            inp.close()
        for name in json.loads(payload)["folded"]:
            d = P(family_dir, name)
            if fs.exists(d):
                fs.delete(d, True)
        fs.rename(tmp, P(family_dir, "b-base"))
    # tmp absent: the promote completed (rename is atomic; the folded
    # dirs were deleted before it) — only the marker cleanup remained.
    # Never touch b-base here: it is the NEW state.
    fs.delete(marker, False)
    return True


def compact_state_dir(
    spark: SparkSession,
    family_dir: str,
    fold=None,
    before_batch: int | None = None,
) -> dict:
    """Fold ``b-base`` + the batch-addressed deltas under ``family_dir``
    into a single new ``b-base``; ``fold`` (optional) canonicalizes the
    union with the family's monoid (sum/max/k-min), identity for the
    disjoint-row dedup indexes. Read-after-fold == read-before-fold by
    the mergeability theorem each family's reader already relies on.

    MUST run against a QUIESCED stream (availableNow query finished, or
    stream stopped with its last batch committed to the checkpoint):

    - the incremental dedup/simhash sinks exclude the current batch's
      own dirs on crash replay (:func:`_read_state` ``before_batch``) —
      folding an UNCOMMITTED batch into ``b-base`` would let a replay
      classify kept docs against their own first-attempt writes;
    - a replayed CMS batch rewrites its delta after the fold already
      absorbed it, double-counting a sum monoid (HLL/KMV shrug this off
      — max/min are idempotent — but the contract is uniform).

    ``before_batch`` folds only deltas with tags strictly below it (plus
    ``b-base``), for callers that can bound the committed frontier but
    not quiesce. Crash-safe via a commit-marker protocol: the fold is
    written to a tmp dir invisible to readers, the marker (naming every
    folded dir) is the commit point, and :func:`_finish_compaction`
    completes an interrupted swap on the next read or compact."""
    import json
    import os

    _finish_compaction(spark, family_dir)
    dirs = _state_batch_dirs(spark, family_dir, before_batch)
    if len(dirs) <= 1:
        return {"dir": family_dir, "folded": 0}
    df = spark.read.option("recursiveFileLookup", "true").parquet(*dirs)
    if fold is not None:
        df = fold(df)
    fs, jvm = _state_fs(spark, family_dir)
    P = jvm.org.apache.hadoop.fs.Path
    tmp = P(family_dir, _COMPACT_TMP)
    df.write.mode("overwrite").parquet(os.path.join(family_dir, _COMPACT_TMP))
    payload = json.dumps({"folded": [d.rsplit("/", 1)[-1] for d in dirs]})
    out = fs.create(P(family_dir, _COMPACT_MARKER), True)
    out.write(bytearray(payload.encode("utf-8")))
    out.close()
    # --- commit point: the marker + tmp are now authoritative ---
    for d in dirs:
        fs.delete(P(d), True)
    fs.rename(tmp, P(family_dir, "b-base"))
    fs.delete(P(family_dir, _COMPACT_MARKER), False)
    return {"dir": family_dir, "folded": len(dirs)}


def _merge_cms(df: DataFrame, k: int) -> DataFrame:
    by = [c for c in df.columns if c != "cnt"]
    return df.groupBy(*by).agg(F.sum("cnt").cast("long").alias("cnt"))


def _merge_hll(df: DataFrame, k: int) -> DataFrame:
    by = [c for c in df.columns if c != "mx"]
    return df.groupBy(*by).agg(F.max("mx").alias("mx"))


def _merge_kmv(df: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    by = [c for c in df.columns if c != "hv"]
    w = Window.partitionBy(*by).orderBy("hv")
    return (
        df.distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(*df.columns)
    )


#: sketch family → (build, merge, in-batch dedup key). ``build(df,
#: value_col, **params)`` is the batch sketch (operators/sketch.py);
#: ``merge(df, k)`` is its monoid over the union of ``b-*`` dirs — sum
#: per (seed, bucket) for CMS counters, max per (group, bucket) for HLL
#: registers, keep-k-smallest distinct hashes per group for KMV (``k``
#: is ignored by the unbounded sum/max monoids). The group columns come
#: from the state's own columns. The same ``merge`` is both the
#: merge-on-read (:func:`read_sketch_state`) and the compaction fold
#: (:func:`compact_state`), so fold == read by construction. Only CMS
#: dedups redelivered rows within a batch: counters are the one
#: duplicate-sensitive monoid (a repeated value cannot move a max or a
#: k-smallest hash set).
_SKETCH_FAMILIES = {
    "cms": (cms_build, _merge_cms, "event_id"),
    "hll": (hll_registers, _merge_hll, None),
    "kmv": (kmv_state, _merge_kmv, None),
}

#: the disjoint-row dedup/simhash index families fold by plain union
#: (rows are disjoint across deltas by the sinks' replay-exclusion and
#: rep-uniqueness discipline)
_UNION_FAMILIES = ("corpus", "sig", "exact", "sim")


def compact_state(
    spark: SparkSession,
    state_root: str,
    families: Sequence[str] | None = None,
    before_batch: int | None = None,
    kmv_k: int = 64,
) -> dict[str, dict]:
    """Compact every state family under ``state_root`` (the maintenance
    op of the streaming tier — VERDICT r8 missing #2): folds each known
    subdir's ``b-*`` deltas into one ``b-base`` with that family's
    monoid — the sketch families' ``merge`` from ``_SKETCH_FAMILIES``,
    plain union for the index families. ``families=None`` autodetects
    the known subdirs present (``corpus/sig/exact`` for dedup roots,
    ``sim``, ``cms``, ``hll``, ``kmv``). ``kmv_k`` must be ≥ the ingest
    k (folding tighter loses tail hashes a wider read would want; the
    reader re-ranks with its own k anyway). See
    :func:`compact_state_dir` for the quiesce contract and crash-safety
    protocol."""
    import os

    known = {*_UNION_FAMILIES, *_SKETCH_FAMILIES}
    if families is None:
        fs, jvm = _state_fs(spark, state_root)
        P = jvm.org.apache.hadoop.fs.Path
        root = P(state_root)
        if not fs.exists(root):
            return {}
        families = [
            st.getPath().getName()
            for st in fs.listStatus(root)
            if st.isDirectory() and st.getPath().getName() in known
        ]
    results = {}
    for fam in families:
        if fam not in known:
            raise ValueError(f"unknown state family {fam!r}; known: {sorted(known)}")
        fold = None
        if fam in _SKETCH_FAMILIES:
            fold = functools.partial(_SKETCH_FAMILIES[fam][1], k=kmv_k)
        results[fam] = compact_state_dir(
            spark, os.path.join(state_root, fam), fold, before_batch
        )
    return results


def init_dedup_state(
    corpus: DataFrame,
    state_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> None:
    """Seed the persistent dedup state from the existing corpus: the text
    store (kept docs — near-dup verification reads only band-collided
    ids from it via a semi-join), the long-format MinHash signature
    index, and the exact md5 index. Each lives under
    ``state_root/{corpus,sig,exact}/b-base``; ingest batches add
    batch-addressed siblings, so state reads are a recursive parquet
    scan and every write is an idempotent fixed-path overwrite."""
    import os

    from binance_futures_data_lake_spark.operators.textdedup import (
        minhash_signatures,
    )

    base = corpus.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    base.write.mode("overwrite").parquet(os.path.join(state_root, "corpus", "b-base"))
    minhash_signatures(base, "text", "doc_id", num_hashes, shingle_n).write.mode(
        "overwrite"
    ).parquet(os.path.join(state_root, "sig", "b-base"))
    base.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("exact_id")
    ).write.mode("overwrite").parquet(os.path.join(state_root, "exact", "b-base"))


def incremental_dedup_sink(
    state_root: str,
    out_root: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
):
    """foreachBatch sink for :func:`run_incremental_dedup_stream`.

    Per micro-batch (processed serially by the stream engine, so state
    written by batch N is visible to batch N+1):

    1. collapse at-least-once redelivery within the batch
       (``dropDuplicates(doc_id)``);
    2. within-batch EXACT rule: the min-id doc per md5(text) is the
       batch representative; the others are ``exact_dup`` matching the
       rep's own match when the rep is itself a duplicate (exact OR
       near — either way the rep is not kept), else the rep id.
       (Within-batch NEAR resolution is deliberately deferred to the
       periodic in-corpus pair run — the daily-snapshot discipline:
       classify-new-vs-corpus per ingest, full pair generation at
       compaction.)
    3. classify the representatives against the persisted state with
       :func:`~...textdedup.incremental_dedup` — md5 join against the
       exact index, MinHash band join against the signature index,
       Jaccard verify against band-collided corpus-store docs only.
       State reads EXCLUDE the current batch's own ``b-{batch_id}``
       dirs (see :func:`_read_state`): a replay after a crash between
       the state writes and the checkpoint commit classifies against
       exactly the state the first attempt saw, instead of finding its
       own md5/signatures and erasing itself;
    4. append the ``kept`` reps to all three state stores and write the
       batch's decision rows — every write an overwrite of a
       batch-addressed path, so a replayed micro-batch (restart before
       checkpoint commit) re-writes identical files: exactly-once
       downstream from an at-least-once trigger.
    """
    import os

    from pyspark.sql import Window

    from binance_futures_data_lake_spark.operators.textdedup import (
        incremental_dedup,
        minhash_signatures,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        b = batch_df.dropDuplicates(["doc_id"]).select("doc_id", "text")
        w = Window.partitionBy(F.md5("text"))
        b = b.withColumn("__rep", F.min("doc_id").over(w)).cache()
        reps = b.filter(F.col("doc_id") == F.col("__rep")).select("doc_id", "text")

        bid = int(batch_id)
        corpus = _read_state(spark, os.path.join(state_root, "corpus"), bid)
        sig = _read_state(spark, os.path.join(state_root, "sig"), bid)
        exact = _read_state(spark, os.path.join(state_root, "exact"), bid)

        dec = incremental_dedup(
            corpus, reps, threshold=threshold, num_hashes=num_hashes,
            bands=bands, shingle_n=shingle_n, existing_sig=sig,
            exact_tbl=exact,
        ).cache()

        rep_match = dec.select(
            F.col("doc_id").alias("__rep"),
            F.col("status").alias("__rep_status"),
            F.col("match_id").alias("__rep_match"),
        )
        within = (
            b.filter(F.col("doc_id") != F.col("__rep"))
            .join(rep_match, "__rep")
            .select(
                "doc_id",
                F.lit("exact_dup").alias("status"),
                # chain through the rep's own match for BOTH dup statuses:
                # a rep classified near_dup is not kept and never enters
                # the corpus store, so pointing its within-batch exact
                # twins at the rep id would leave a dangling match_id —
                # the rep's near-dup target is the id that exists
                F.when(
                    F.col("__rep_status").isin("exact_dup", "near_dup"),
                    F.col("__rep_match"),
                ).otherwise(F.col("__rep")).alias("match_id"),
                F.lit(None).cast("double").alias("jaccard"),
            )
        )
        decisions = (
            dec.select("doc_id", "status", "match_id", "jaccard")
            .unionByName(within)
            .withColumn("batch", F.lit(int(batch_id)))
        )
        decisions.write.mode("overwrite").parquet(
            os.path.join(out_root, f"b-{batch_id:05d}")
        )

        kept = reps.join(
            dec.filter(F.col("status") == "kept").select("doc_id"), "doc_id",
            "left_semi",
        )
        tag = f"b-{batch_id:05d}"
        kept.write.mode("overwrite").parquet(
            os.path.join(state_root, "corpus", tag)
        )
        minhash_signatures(kept, "text", "doc_id", num_hashes, shingle_n).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_root, "sig", tag))
        kept.select(
            F.md5("text").alias("text_md5"), F.col("doc_id").alias("exact_id")
        ).write.mode("overwrite").parquet(os.path.join(state_root, "exact", tag))
        dec.unpersist()
        b.unpersist()

    return _sink


def run_incremental_dedup_stream(
    spark: SparkSession,
    source_path: str,
    state_root: str,
    out_root: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_files_per_trigger: int | None = 1,
):
    """Document file stream → per-batch incremental dedup against the
    persisted index (see :func:`incremental_dedup_sink`), availableNow
    trigger. ``maxFilesPerTrigger=1`` makes each staged crawl drop its
    own micro-batch, so cross-drop redelivery exercises the GROWN index
    — the state written by batch N decides batch N+1."""
    return _start_available_now(
        stream_docs(spark, source_path, max_files_per_trigger),
        checkpoint_dir,
        incremental_dedup_sink(
            state_root, out_root, threshold, num_hashes, bands, shingle_n
        ),
    )


def init_simhash_state(
    corpus: DataFrame,
    state_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> None:
    """Seed the persistent SIMHASH dedup index from the existing corpus:
    one ``(doc_id, simhash)`` row per kept doc under
    ``state_root/sim/b-base``. Ingest batches add batch-addressed
    siblings (same layout discipline as :func:`init_dedup_state`), so
    state reads are a recursive parquet scan filtered to tags before the
    current batch."""
    import os

    from binance_futures_data_lake_spark.operators.textdedup import simhash

    simhash(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        bits=bits,
    ).write.mode("overwrite").parquet(os.path.join(state_root, "sim", "b-base"))


def incremental_simhash_sink(
    state_root: str,
    out_root: str,
    max_hamming: int = 3,
    bits: int = 32,
):
    """foreachBatch sink for :func:`run_incremental_simhash_stream` — the
    banded-hamming (SimHash) streaming twin of the md5/MinHash tiers in
    :func:`incremental_dedup_sink`, completing the three batch dedup
    tiers' streaming coverage.

    Per micro-batch:

    1. collapse at-least-once redelivery within the batch
       (``dropDuplicates(doc_id)``) and fingerprint the docs;
    2. within-batch rule: the min-id doc per fingerprint VALUE is the
       representative (identical fingerprint = hamming 0); the others
       are ``near_dup`` chaining through the rep's own match when the
       rep is itself a dup;
    3. classify the representatives against the persisted fingerprint
       index with :func:`~...textdedup.hamming_match_existing` — the
       pigeonhole band join, min-id match, that match's hamming. State
       reads EXCLUDE the current batch's own dirs (see
       :func:`_read_state`) so a replay after a crash between the state
       writes and the checkpoint commit converges to the first
       attempt's output instead of matching itself;
    4. append the ``kept`` reps' fingerprints to the index and write the
       batch's decision rows — every write an overwrite of a
       batch-addressed path: exactly-once downstream from an
       at-least-once trigger.
    """
    import os

    from pyspark.sql import Window

    from binance_futures_data_lake_spark.operators.textdedup import (
        hamming_match_existing,
        simhash,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        bid = int(batch_id)
        b = batch_df.dropDuplicates(["doc_id"]).select("doc_id", "text")
        fps = simhash(b, bits=bits)
        w = Window.partitionBy("simhash")
        fps = fps.withColumn("__rep", F.min("doc_id").over(w)).cache()
        reps = fps.filter(F.col("doc_id") == F.col("__rep")).select(
            "doc_id", "simhash"
        )

        idx = _read_state(spark, os.path.join(state_root, "sim"), bid)
        match = hamming_match_existing(
            idx, reps, max_hamming=max_hamming, bits=bits
        )
        dec = (
            reps.join(match, "doc_id", "left")
            .select(
                "doc_id",
                "simhash",
                F.when(F.col("match_id").isNotNull(), F.lit("near_dup"))
                .otherwise(F.lit("kept")).alias("status"),
                "match_id",
                F.col("hamming").cast("int").alias("hamming"),
            )
            .cache()
        )
        rep_match = dec.select(
            F.col("doc_id").alias("__rep"),
            F.col("status").alias("__rep_status"),
            F.col("match_id").alias("__rep_match"),
            F.col("hamming").alias("__rep_hamming"),
        )
        within = (
            fps.filter(F.col("doc_id") != F.col("__rep"))
            .join(rep_match, "__rep")
            .select(
                "doc_id",
                F.lit("near_dup").alias("status"),
                # identical fingerprint ⇒ same distance to the rep's
                # match; chain so match_id always names a persisted doc
                F.when(
                    F.col("__rep_status") == "near_dup", F.col("__rep_match")
                ).otherwise(F.col("__rep")).alias("match_id"),
                F.when(
                    F.col("__rep_status") == "near_dup", F.col("__rep_hamming")
                ).otherwise(F.lit(0)).cast("int").alias("hamming"),
            )
        )
        decisions = (
            dec.select("doc_id", "status", "match_id", "hamming")
            .unionByName(within)
            .withColumn("batch", F.lit(bid))
        )
        decisions.write.mode("overwrite").parquet(
            os.path.join(out_root, f"b-{bid:05d}")
        )
        dec.filter(F.col("status") == "kept").select("doc_id", "simhash").write.mode(
            "overwrite"
        ).parquet(os.path.join(state_root, "sim", f"b-{bid:05d}"))
        dec.unpersist()
        fps.unpersist()

    return _sink


def run_incremental_simhash_stream(
    spark: SparkSession,
    source_path: str,
    state_root: str,
    out_root: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    bits: int = 32,
    max_files_per_trigger: int | None = 1,
):
    """Document file stream → per-batch SimHash dedup against the persisted
    fingerprint index (see :func:`incremental_simhash_sink`), availableNow
    trigger. ``maxFilesPerTrigger=1`` makes each staged crawl drop its own
    micro-batch, so cross-drop redelivery exercises the GROWN index."""
    return _start_available_now(
        stream_docs(spark, source_path, max_files_per_trigger),
        checkpoint_dir,
        incremental_simhash_sink(state_root, out_root, max_hamming, bits),
    )


# ---------------------------------------------------------------------------
# Streaming sketch tier: seeded sketch state + one batch-addressed delta
# sketch per micro-batch, merged on read. Every family in
# ``_SKETCH_FAMILIES`` is a commutative monoid, so ingest never reads
# state and exactly-once is plain path idempotence.
# ---------------------------------------------------------------------------


def init_sketch_state(
    family: str,
    corpus: DataFrame,
    state_root: str,
    value_col: str = "user_id",
    **params,
) -> None:
    """Seed the persistent ``family`` sketch state from the existing
    stream history: ``build(corpus, value_col, **params)`` under
    ``state_root/<family>/b-base`` (``params``: ``depth, width`` for
    CMS, ``by, m`` for HLL, ``by, k`` for KMV). Ingest batches add
    batch-addressed delta sketches beside it (the dir discipline of
    :func:`init_dedup_state`)."""
    import os

    build = _SKETCH_FAMILIES[family][0]
    build(corpus, value_col, **params).write.mode("overwrite").parquet(
        os.path.join(state_root, family, "b-base")
    )


def sketch_delta_sink(
    family: str,
    state_root: str,
    value_col: str = "user_id",
    **params,
):
    """foreachBatch sink for :func:`run_sketch_stream` — the streaming
    twin of the batch sketch build: each micro-batch writes its OWN delta
    sketch to ``<family>/b-%05d`` and nothing ever reads prior state
    during ingest. A crash-replayed batch recomputes the identical delta
    and overwrites the same path — idempotent by construction, with no
    replay-exclusion machinery (contrast :func:`incremental_dedup_sink`,
    whose state reads must exclude the current batch). In-batch
    at-least-once redelivery collapses on the family's dedup key (CMS:
    ``event_id``); HLL and KMV need none. Cross-file delivery is
    exactly-once from the file source itself."""
    import os

    build, _, dedup_key = _SKETCH_FAMILIES[family]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if dedup_key is not None:
            batch_df = batch_df.dropDuplicates([dedup_key])
        build(batch_df, value_col, **params).write.mode("overwrite").parquet(
            os.path.join(state_root, family, f"b-{int(batch_id):05d}")
        )

    return _sink


def read_sketch_state(
    family: str,
    spark: SparkSession,
    state_root: str,
    k: int = 64,
) -> DataFrame:
    """Merge-on-read of the persisted ``family`` sketch: the family's
    monoid over ``b-base`` and every batch delta (``k``: the KMV keep
    size). Because the sketch is a monoid, the merged state == ONE batch
    build over base ∪ all delivered rows — the mergeability theorem IS
    the stream/batch parity contract (asserted exactly in tests and by
    the streaming queries' DuckDB oracles)."""
    import os

    merge = _SKETCH_FAMILIES[family][1]
    return merge(_read_state(spark, os.path.join(state_root, family)), k)


def run_sketch_stream(
    family: str,
    spark: SparkSession,
    source_path: str,
    state_root: str,
    checkpoint_dir: str,
    value_col: str = "user_id",
    max_files_per_trigger: int | None = 1,
    **params,
):
    """Event file stream → per-batch ``family`` delta sketches under
    ``state_root/<family>`` (see :func:`sketch_delta_sink`), availableNow
    trigger: constant state per batch, merge-on-read, no stateful
    operator and no watermark, because the sketch is order-insensitive."""
    return _start_available_now(
        stream_events(spark, source_path, max_files_per_trigger),
        checkpoint_dir,
        sketch_delta_sink(family, state_root, value_col, **params),
    )
