"""``sources.testdata.load_events`` reads the events table on whatever
session it is given and changes none of that session's confs."""

from pyspark.sql import functions as F

from binance_futures_data_lake_spark.sources.testdata import load_events

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _ts_range(df):
    return tuple(df.agg(F.min("ts"), F.max("ts")).first())


def test_load_events_leaves_nanos_conf_unset(spark):
    """Without nanosAsLong the reader yields TIMESTAMP_NTZ; the loader
    must normalize that to the same µs instants as the long read, and
    must not set the conf on the caller's session to get there."""
    saved = spark.conf.get(NANOS_AS_LONG, None)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        want = _ts_range(load_events(spark))
        spark.conf.unset(NANOS_AS_LONG)
        got = _ts_range(load_events(spark))
        assert spark.conf.get(NANOS_AS_LONG, None) is None
        assert got == want
    finally:
        if saved is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, saved)
