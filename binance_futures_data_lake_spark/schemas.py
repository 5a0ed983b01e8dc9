"""Canonical schemas at the lake boundary.

The reference declares its 15-column M1 kline schema twice (construction:
src/bfdl/collectors/klines_m1.py:108-134; validation contract:
src/bfdl/transforms/verify_all.py:38-54). We declare it once as a Spark
``StructType``: ``KLINES_M1_SCHEMA`` is the one declaration of the kline
path. ``poll.page_to_df`` builds pages with it, and ``lake.read_lake`` and
``lake.compact_staging`` read with it instead of inferring it from the
files.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- canonical raw M1 kline schema (ref verify_all.py:38-54) ---------------
KLINES_M1_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),  # bucket OPEN time (UTC)
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume_base", T.DoubleType()),
        T.StructField("volume_quote", T.DoubleType()),
        T.StructField("n_trades", T.LongType()),
        T.StructField("taker_buy_base", T.DoubleType()),
        T.StructField("taker_buy_quote", T.DoubleType()),
        T.StructField("open_time_ms", T.LongType()),
        T.StructField("close_time_ms", T.LongType()),
        T.StructField("exchange", T.StringType()),
        T.StructField("market", T.StringType()),
        T.StructField("symbol", T.StringType()),
    ]
)

# --- driver testdata schemas (TESTDATA.md) ---------------------------------
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
