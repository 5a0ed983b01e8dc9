"""resample_bars parity vs pandas resample (the reference's semantics:
aggregate_tf.py:70-110, build_m5_from_m1.py:57-91) including completeness
filtering and anti-lookahead availability columns."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.resample import (
    resample_bars,
    with_availability,
)
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1


@pytest.fixture(scope="module")
def m1(spark):
    return synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=1440).cache()


def _pandas_resample(pdf: pd.DataFrame, n_min: int) -> pd.DataFrame:
    pdf = pdf.sort_values("open_time_ms")
    pdf = pdf.set_index(pd.to_datetime(pdf["open_time_ms"], unit="ms"))
    agg = pdf.resample(f"{n_min}min").agg(
        open=("open", "first"),
        high=("high", "max"),
        low=("low", "min"),
        close=("close", "last"),
        volume_base=("volume_base", "sum"),
        n=("open_time_ms", "count"),
    )
    return agg[agg["n"] == n_min]


@pytest.mark.parametrize("n_min", [5, 60, 240])
def test_resample_matches_pandas(spark, m1, n_min):
    out = resample_bars(m1, n_min).filter(F.col("symbol") == "AAA").toPandas()
    out = out.sort_values("open_time_ms").reset_index(drop=True)
    ref = _pandas_resample(
        m1.filter(F.col("symbol") == "AAA").toPandas(), n_min
    ).reset_index(drop=True)
    assert len(out) == len(ref) == 1440 // n_min
    for col in ("open", "high", "low", "close", "volume_base"):
        assert (out[col] - ref[col]).abs().max() < 1e-9, col


@pytest.fixture(scope="module")
def m1_3d(spark):
    return synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=3 * 1440).cache()


@pytest.mark.parametrize("n_min", [5, 240, 1440])
def test_completeness_filter_drops_partial_buckets(spark, m1_3d, n_min):
    from binance_futures_data_lake_spark.obs import exchange_count

    t0 = m1_3d.agg(F.min("open_time_ms")).first()[0]
    b1, b2 = t0 + n_min * 60_000, t0 + 2 * n_min * 60_000
    aaa = F.col("symbol") == "AAA"
    # bucket 1 misses one minute; bucket 2 repeats one minute and misses
    # another, so its row count and span both pass
    holed = m1_3d.filter(
        ~(aaa & F.col("open_time_ms").isin(b1 + 2 * 60_000, b2 + 3 * 60_000))
    ).unionByName(m1_3d.filter(aaa & (F.col("open_time_ms") == b2 + 60_000)))
    strict = resample_bars(holed, n_min).filter(aaa)
    loose = resample_bars(holed, n_min, complete_only=False).filter(aaa)
    n_buckets = 3 * 1440 // n_min
    assert strict.count() == n_buckets - 2
    assert loose.count() == n_buckets
    # the dropped buckets are exactly the defective ones
    missing = set(r[0] for r in loose.select("open_time_ms").collect()) - set(
        r[0] for r in strict.select("open_time_ms").collect()
    )
    assert missing == {b1, b2}
    assert exchange_count(resample_bars(m1_3d, n_min)) == 1


def test_availability_columns_anti_lookahead(spark, m1):
    m5 = with_availability(resample_bars(m1, 5), 5, lag_minutes=2)
    bad = m5.filter(F.col("available_from") < F.col("bucket_end")).count()
    assert bad == 0
    row = m5.orderBy("open_time_ms").first()
    assert (row["bucket_end"] - row["bucket_start"]).total_seconds() == 300
    assert (row["available_from"] - row["bucket_end"]).total_seconds() == 120


def test_resample_keeps_symbol_separation(spark, m1):
    out = resample_bars(m1, 60)
    counts = {r["symbol"]: r["count"] for r in out.groupBy("symbol").count().collect()}
    assert counts == {"AAA": 24, "BBB": 24}


def test_rollup_cascade_equals_direct(spark):
    """ticks -> 5m -> 1h -> 1d must equal ticks -> 1d directly: open/close
    pick identical rows, max/min/sum associate; volume compared to 1e-9
    (sum-of-sums regroups double addition)."""
    from binance_futures_data_lake_spark.operators.resample import rollup_bars, tick_ohlcv
    from binance_futures_data_lake_spark.sources.testdata import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    m5 = tick_ohlcv(ev, 5, ["event_type"], tiebreak_col="event_id")
    d_cascade = rollup_bars(rollup_bars(m5, 60, ["event_type"]), 1440, ["event_type"])
    d_direct = tick_ohlcv(ev, 1440, ["event_type"], tiebreak_col="event_id")
    a = {(r.event_type, r.bucket_ts): r for r in d_cascade.collect()}
    b = {(r.event_type, r.bucket_ts): r for r in d_direct.collect()}
    assert a.keys() == b.keys()
    for k in a:
        for col in ("open", "high", "low", "close", "n_ticks", "first_ts", "last_ts"):
            assert getattr(a[k], col) == getattr(b[k], col), (k, col)
        assert abs(a[k].volume - b[k].volume) < 1e-9 * max(1.0, abs(b[k].volume))


def test_rollup_respects_keys(spark):
    from binance_futures_data_lake_spark.operators.resample import rollup_bars, tick_ohlcv
    from binance_futures_data_lake_spark.sources.testdata import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    m5 = tick_ohlcv(ev, 5, ["event_type"], tiebreak_col="event_id")
    h1 = rollup_bars(m5, 60, ["event_type"])
    # every h1 bar's tick count equals the sum of its five-minute children
    child = (
        m5.withColumn("h", F.date_trunc("hour", "bucket_ts"))
        .groupBy("event_type", "h").agg(F.sum("n_ticks").alias("n"))
    )
    joined = h1.join(
        child, (h1.event_type == child.event_type) & (h1.bucket_ts == child.h)
    )
    assert joined.filter(F.col("n_ticks") != F.col("n")).count() == 0
    assert h1.count() == child.count()


def test_cascade_one_shuffle_and_equals_chained(spark):
    """tick_ohlcv_cascade: every level identical to the chained
    tick_ohlcv/rollup_bars form, with exactly ONE shuffle Exchange for the
    whole cascade (hash placement on (key, coarsest_bucket); finer
    group-bys satisfied by the subset rule)."""
    from binance_futures_data_lake_spark.operators.resample import (
        rollup_bars,
        tick_ohlcv,
        tick_ohlcv_cascade,
    )
    from binance_futures_data_lake_spark.obs import exchange_count
    from binance_futures_data_lake_spark.sources.testdata import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    m5c, h1c, d1c = tick_ohlcv_cascade(
        ev, [5, 60, 1440], ["event_type"], tiebreak_col="event_id"
    )
    assert exchange_count(d1c) == 1
    assert exchange_count(m5c) == 1

    m5 = tick_ohlcv(ev, 5, ["event_type"], tiebreak_col="event_id")
    h1 = rollup_bars(m5, 60, ["event_type"])
    d1 = rollup_bars(h1, 1440, ["event_type"])
    for got, want in ((m5c, m5), (h1c, h1), (d1c, d1)):
        a = {(r.event_type, r.bucket_ts): r for r in got.collect()}
        b = {(r.event_type, r.bucket_ts): r for r in want.collect()}
        assert a.keys() == b.keys()
        for k in a:
            for col in ("open", "high", "low", "close", "n_ticks", "first_ts", "last_ts"):
                assert getattr(a[k], col) == getattr(b[k], col), (k, col)
            assert abs(a[k].volume - b[k].volume) < 1e-9 * max(1.0, abs(b[k].volume))


def test_cascade_rejects_non_nesting_levels(spark):
    import pytest as _pytest

    from binance_futures_data_lake_spark.operators.resample import tick_ohlcv_cascade
    from binance_futures_data_lake_spark.sources.testdata import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    with _pytest.raises(ValueError, match="nest"):
        tick_ohlcv_cascade(ev, [5, 7], ["event_type"])
    with _pytest.raises(ValueError, match="two levels"):
        tick_ohlcv_cascade(ev, [5], ["event_type"])
