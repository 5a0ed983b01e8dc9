"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``.

The only special case is ``events``: its ``ts`` is parquet TIMESTAMP(NANOS).
With ``spark.sql.legacy.parquet.nanosAsLong`` set (``session.RUNTIME_CONFS``
sets it) Spark reads it as a long; without it, Spark 4 reads it as
TIMESTAMP_NTZ. ``load_events`` takes the session as it finds it, changes
none of its confs, and normalizes either form to microsecond timestamps
(identical truncation to DuckDB's ns→µs read, so oracle comparisons agree),
with an explicit-schema fallback for readers that reject the column.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.schemas import EVENTS_SCHEMA

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_events(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """events with ``ts`` as a proper (µs) TimestampType column."""
    path = os.path.join(sf_dir, "events.parquet")
    try:
        df = spark.read.parquet(path)
    except Exception:
        df = spark.read.schema(EVENTS_SCHEMA).parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer division — ns epochs (~1.7e18) overflow double precision,
        # so `col / 1000` would be off by ±1µs on some rows
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # newer readers ingest TIMESTAMP(NANOS) natively as NTZ (µs
        # truncation, same as DuckDB); normalize to TIMESTAMP so downstream
        # epoch math (unix_micros rejects NTZ) sees one type. A bare cast
        # reinterprets wall-clock in the SESSION timezone — the file's
        # wall-clocks are UTC instants, so on a hosting session running in
        # any other zone the cast would silently shift every event. Rather
        # than repinning the session to UTC (a permanent side effect on
        # everything else the hosting session runs — r3 ADVICE), make the
        # conversion timezone-independent in-plan: shift the UTC wall-clock
        # to the session zone's wall-clock first, so the session-zoned cast
        # lands on the original UTC instant whatever the zone is. Both
        # convert_timezone and the cast read current_timezone() at
        # EXECUTION time, so the pair stays consistent even if the session
        # zone changes between plan build and run.
        df = df.withColumn(
            "ts",
            F.expr(
                "cast(convert_timezone('UTC', current_timezone(), ts) as timestamp)"
            ),
        )
    return df


# Analyzed-plan cache: ``spark.read.parquet`` lists the path and reads the
# footer to infer schema on EVERY call (~50-100 ms). Plans are immutable, so
# the same (table, dir) DataFrame is safely reusable within a session —
# without this, plan construction rivals execution time for sub-second
# queries. Keyed weakly on the session so dead sessions drop their entries.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (name, os.path.normpath(sf_dir))
    df = per_session.get(key)
    if df is None:
        if name == "events":
            df = load_events(spark, sf_dir)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        per_session[key] = df
    return df
