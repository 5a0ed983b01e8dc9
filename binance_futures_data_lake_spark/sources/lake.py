"""Partitioned parquet lake: layout, staged append, compaction, partition
upsert, checkpoints (SURVEY §2.1 S3-S14).

Reference physical model (src/bfdl/collectors/klines_m1.py:35,146-199;
src/bfdl/transforms/compact_staging.py, aggregate_tf.py:122-179):

    <root>/symbol=S/year=YYYY/month=MM/part-*.parquet     (canonical)
    <root>/_staging/...                                    (append-only)
    <root>/_checkpoint.json                                (high-watermark)

Spark-first redesign rather than translation:

- canonical data is ONE Hive-partitioned dataset written with
  ``partitionBy("symbol","year","month")`` — partition pruning and footer
  min/max skipping are free;
- the reference's per-file staged append + dedup-keep-last + tmp-rename
  trio is an ACID upsert; without Delta we implement it as staging-append
  + ``upsert_partitions``, a merge using **dynamic partition overwrite**
  (only partitions that received new keys are rewritten — at 100 TB a
  daily merge touches current-month partitions only). The streaming sink
  (``streaming.pipeline.parquet_upsert``) shares the same upsert;
- the merge runs one exchange: it repartitions on the partition columns
  and dedups within them, which is sound because every caller's partition
  columns are a function of its key. The caller names the partitions it
  touches: ``compact_staging`` reads them, and the staged row count, off
  the staged files it lists (Hive paths and parquet footers, on the
  driver), so nothing before the merge runs a Spark job. That file list is
  the add-file set a Delta-style log would record;
- "keep last" precedence is explicit (``__precedence`` column), fixing the
  reference's order-dependent ``keep="last"`` (SURVEY §7.2);
- kline tables (canonical, staging and the derived timeframes) are read
  with the declared ``schemas.KLINES_M1_SCHEMA``, never inferred, so a read
  runs no Spark job; ``year``/``month`` come from partition discovery. The
  one inferred read is ``upsert_partitions``' re-read of the table it
  merges into, so a column mismatch there fails the union loudly;
- checkpoints stay sidecar JSON for parity (a Delta table would subsume).
"""

from __future__ import annotations

import functools
import json
import operator
import os
from collections.abc import Iterable, Sequence
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.dedup import dedup_keep_last
from binance_futures_data_lake_spark.schemas import KLINES_M1_SCHEMA

PARTITION_COLS = ("symbol", "year", "month")


def with_partition_cols(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive year/month partition columns (klines_m1.py:148-149)."""
    return df.withColumn("year", F.year(ts_col)).withColumn("month", F.month(ts_col))


def canonical_path(root: str) -> str:
    return os.path.join(root, "canonical")


def staging_path(root: str) -> str:
    return os.path.join(root, "_staging")


def write_canonical(df: DataFrame, root: str) -> None:
    """Hive-partitioned canonical write (S9 + layout of §1.2).

    Replaces only the (symbol, year, month) partitions ``df`` covers
    (dynamic partition overwrite, as a writer option): re-aggregating some
    symbols leaves the others in place, and a table can be rewritten from a
    read of itself."""
    (
        with_partition_cols(df)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(canonical_path(root))
    )


def stage_append(df: DataFrame, root: str) -> None:
    """Append-only staged write (S3; klines_m1.py:146-168). File-name
    uniqueness (the reference's utc-ms + nonce) is Spark's task-UUID part
    files — collision-free by construction."""
    (
        with_partition_cols(df)
        .write.mode("append")
        .partitionBy(*PARTITION_COLS)
        .parquet(staging_path(root))
    )


def read_lake(spark: SparkSession, root: str) -> DataFrame:
    """Recursive scan of the canonical table with partition discovery (S4),
    read with the declared ``KLINES_M1_SCHEMA``: no inference job, and
    ``year``/``month`` appended from the partition directories. Raises
    ``FileNotFoundError`` when the table is missing or holds no data
    files."""
    df = _read_klines(spark, canonical_path(root))
    if df is None:
        raise FileNotFoundError(f"empty lake at {root}")
    return df


def _read_klines(spark: SparkSession, path: str) -> DataFrame | None:
    """The kline table at ``path`` with the declared schema, or None when it
    holds no data files (staging keeps its directories after a compaction
    deletes the files). Listing the files runs no Spark job."""
    if not _exists(spark, path):
        return None
    df = spark.read.schema(KLINES_M1_SCHEMA).parquet(path)
    return df if df.inputFiles() else None


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def upsert_partitions(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    keys: Sequence[str],
    partition_cols: Sequence[str],
    touched: Iterable[Sequence],
) -> None:
    """Keyed upsert into a Hive-partitioned parquet table (S12/S13): the
    table's ``touched`` partitions are unioned with ``new_df``, deduped
    new-wins (an explicit ``__precedence``, not union order), and replaced
    by dynamic partition overwrite, one file per partition. The merge cost
    is proportional to the new rows' partition span, not the table size.

    ``touched`` comes from the caller: the value tuples, in
    ``partition_cols`` order, of every partition ``new_df`` has rows in.
    Every partition column must be a function of ``keys`` (kline
    ``year``/``month`` of ``ts``, which equals ``open_time_ms``; streaming
    ``p_day = to_date(bucket_ts)`` with ``bucket_ts`` in the key). Then the
    dedup groups on ``partition_cols + keys`` are the groups on ``keys``,
    and one exchange on the partition columns serves both the dedup and the
    one-file-per-partition write.

    The overwrite mode is a writer option, so the session conf is left as
    it was.
    """
    merged = new_df.withColumn("__precedence", F.lit(1))
    if _exists(spark, path):
        in_touched = F.lit(False)
        for values in touched:
            in_touched = in_touched | functools.reduce(
                operator.and_, (F.col(c).eqNullSafe(v) for c, v in zip(partition_cols, values))
            )
        existing = spark.read.parquet(path).filter(in_touched)
        merged = existing.withColumn("__precedence", F.lit(0)).unionByName(merged)
    clustered = merged.repartition(*[F.col(c) for c in partition_cols])
    (
        dedup_keep_last(clustered, [*partition_cols, *keys], ["__precedence"])
        .drop("__precedence")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_staging(
    spark: SparkSession,
    root: str,
    keys: Sequence[str] = ("symbol", "open_time_ms"),
) -> int:
    """Fold staging into canonical with staging-wins dedup
    (compact_staging.py:44-111; S14, one file per (symbol, year, month) as
    in compact_months.py:13-75). Returns the number of staged rows folded.

    The touched partitions come from the staged files' Hive paths and the
    row count from their parquet footers, both read on the driver, so the
    merge is the fold's only Spark work. Only the staged files the fold
    read are deleted afterwards, so a page staged while the fold runs waits
    for the next compaction instead of being lost. A crash between the
    canonical write and the delete leaves staging in place; the next
    compaction folds it again to the same rows.
    """
    staged = _read_klines(spark, staging_path(root))
    if staged is None:
        return 0
    files = staged.inputFiles()
    local = [unquote(urlparse(f).path) for f in files]
    n_staged = sum(pq.read_metadata(p).num_rows for p in local)
    if n_staged:
        touched = dict.fromkeys(_staged_partition(p) for p in local)
        upsert_partitions(spark, canonical_path(root), staged, keys, PARTITION_COLS, touched)
    _delete(spark, files)
    return n_staged


def _staged_partition(local_path: str) -> tuple:
    """(symbol, year, month) of a staged file from its Hive directory
    names, whose values are ``%XX``-escaped and null as Hive's default
    partition name."""
    dirs = dict(d.split("=", 1) for d in local_path.split("/")[-4:-1])

    def value(c: str, cast):
        v = dirs[c]
        return None if v == "__HIVE_DEFAULT_PARTITION__" else cast(unquote(v))

    return value("symbol", str), value("year", int), value("month", int)


def _delete(spark: SparkSession, uris: Sequence[str]) -> None:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for uri in uris:
        p = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(uri))
        p.getFileSystem(conf).delete(p, False)


# --- sidecar metadata / checkpoints (S2, S11) ------------------------------

def write_meta(root: str, meta: dict) -> None:
    """_meta.json sidecar (klines_m1.py:187-199, aggregate_tf.py:147-161)."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_meta.json"), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)


def read_meta(root: str) -> dict | None:
    p = os.path.join(root, "_meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_checkpoint(root: str, next_start_ms: int, key: str = "next_start_time_ms") -> None:
    """High-watermark checkpoint (klines_m1.py:170-185). Written atomically
    via tmp+rename — the reference's own publish idiom (aggregate_tf.py:177).
    Other keys in the sidecar are preserved (several symbols may share one
    dataset root, each under its own key)."""
    os.makedirs(root, exist_ok=True)
    p = os.path.join(root, "_checkpoint.json")
    state: dict = {}
    if os.path.exists(p):
        with open(p) as f:
            state = json.load(f)
    state[key] = int(next_start_ms)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, p)


def read_checkpoint(root: str, key: str = "next_start_time_ms") -> int | None:
    p = os.path.join(root, "_checkpoint.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f).get(key)
