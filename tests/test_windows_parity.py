"""Window-function library parity vs pandas on synthetic klines —
min_periods gating, ddof=0, exclude-current swing frames, EWM recursion."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.functions import windows as W
from binance_futures_data_lake_spark.functions.ewm import ewm_apply, span_to_alpha
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1

BY, ORDER = ["symbol"], ["ts"]


@pytest.fixture(scope="module")
def m1(spark):
    return synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=500).cache()


@pytest.fixture(scope="module")
def pdf(m1):
    return (
        m1.select("symbol", "ts", "open", "high", "low", "close", "volume_base")
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )


def _one(df, col_expr, name="x"):
    return (
        df.select("symbol", "ts", col_expr.alias(name))
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)[name]
    )


def _close(a, b, tol=1e-9):
    a, b = np.asarray(a, float), np.asarray(b, float)
    mask = np.isnan(a) | np.isnan(b)
    assert (np.isnan(a) == np.isnan(b)).all(), "null pattern differs"
    assert np.nanmax(np.where(mask, 0, np.abs(a - b)), initial=0) < tol


def test_rolling_mean_min_periods(m1, pdf):
    got = _one(m1, W.rolling_mean("close", 10, BY, ORDER))
    want = pdf.groupby("symbol")["close"].transform(lambda s: s.rolling(10, min_periods=10).mean())
    _close(got, want)


def test_rolling_std_ddof0(m1, pdf):
    got = _one(m1, W.rolling_std("close", 14, BY, ORDER, ddof=0))
    want = pdf.groupby("symbol")["close"].transform(lambda s: s.rolling(14, min_periods=14).std(ddof=0))
    _close(got, want, 1e-8)


def test_swing_high_excludes_current(m1, pdf):
    got = _one(m1, W.rolling_max("high", 20, BY, ORDER, exclude_current=True))
    want = pdf.groupby("symbol")["high"].transform(
        lambda s: s.shift(1).rolling(20, min_periods=20).max()
    )
    _close(got, want)


def test_true_range_matches_pandas(m1, pdf):
    got = _one(m1, W.true_range(BY, ORDER))
    def tr(g):
        prev_c = g["close"].shift(1)
        raw = np.maximum.reduce(
            [g["high"] - g["low"], (g["high"] - prev_c).abs(), (g["low"] - prev_c).abs()]
        )
        return pd.Series(np.where(prev_c.isna(), g["high"] - g["low"], raw), index=g.index)
    want = pdf.groupby("symbol", group_keys=False).apply(tr, include_groups=False)
    _close(got, want)


def test_efficiency_ratio(m1, pdf):
    got = _one(m1, W.efficiency_ratio("close", 14, BY, ORDER))
    def er(s):
        net = (s - s.shift(14)).abs()
        gross = s.diff().abs().rolling(14, min_periods=14).sum()
        return net / gross.replace(0.0, np.nan)
    want = pdf.groupby("symbol")["close"].transform(er)
    _close(got, want, 1e-9)


def test_ewm_apply_matches_pandas(spark, m1, pdf):
    out = ewm_apply(
        m1.select("symbol", "ts", "close"),
        {"ema20": ("close", span_to_alpha(20)), "rma14": ("close", 1 / 14)},
        BY, ORDER,
    ).toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True)
    want20 = pdf.groupby("symbol")["close"].transform(lambda s: s.ewm(span=20, adjust=False).mean())
    want14 = pdf.groupby("symbol")["close"].transform(lambda s: s.ewm(alpha=1 / 14, adjust=False).mean())
    _close(out["ema20"], want20, 1e-9)
    _close(out["rma14"], want14, 1e-9)


def test_rolling_pctl_of_last(m1, pdf):
    got = _one(m1, W.rolling_pctl_of_last("close", 50, BY, ORDER))
    want = pdf.groupby("symbol")["close"].transform(
        lambda s: s.rolling(50, min_periods=50).apply(lambda w: (w <= w[-1]).mean(), raw=True)
    )
    _close(got, want, 1e-12)


def test_anchored_vwap_daily(m1, pdf):
    got = _one(
        m1,
        W.anchored_vwap("close", "volume_base", BY, ORDER, anchor=F.to_date("ts")),
    )
    pdf2 = pdf.assign(d=pdf["ts"].dt.date, pv=pdf["close"] * pdf["volume_base"])
    g = pdf2.groupby(["symbol", "d"])
    want = g["pv"].cumsum() / g["volume_base"].cumsum().replace(0.0, np.nan)
    _close(got, want, 1e-8)


def test_ichimoku_warmup_and_values(m1, pdf):
    cols = W.ichimoku_cols(BY, ORDER)
    out = (
        m1.select("symbol", "ts", *[c.alias(k) for k, c in cols.items()])
        .filter(F.col("symbol") == "AAA")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    g = pdf[pdf["symbol"] == "AAA"].reset_index(drop=True)
    tenkan = (g["high"].rolling(9).max() + g["low"].rolling(9).min()) / 2
    kijun = (g["high"].rolling(26).max() + g["low"].rolling(26).min()) / 2
    senkou_a = ((tenkan + kijun) / 2).shift(26)
    _close(out["tenkan"], tenkan)
    _close(out["kijun"], kijun)
    _close(out["senkou_a"], senkou_a)
    # warmup rows are null, not garbage
    assert out["senkou_a"].isna().sum() == 26 + 25
