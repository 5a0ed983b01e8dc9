"""Window-function library (SURVEY §2.5, W1-W16).

Every analytic in the reference is per-symbol, time-ordered pandas
(``shift``/``rolling``/``ewm``/``cummax``). Spark mapping rules applied
throughout:

- every window is ``Window.partitionBy(keys).orderBy(ts [, tiebreak])`` —
  never a global order (the one Spark-specific design rule from SURVEY §4:
  a keyless window collapses 100 TB onto one task);
- pandas ``rolling(n, min_periods=n)`` → bounded row frame + null-out when
  the in-frame count is short (pandas sites use ``ddof=0`` → stddev_pop);
- pandas ``shift(1).rolling(n).max`` (swing levels that exclude the current
  row, feature_builder_m1_structure_v1.py:69-79) → frame (-n, -1);
- EWM recursion is the one op that is not a bounded-frame aggregate — see
  ``ewm.py`` for the applyInPandas kernel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def w_ordered(by: Sequence[str], order: Sequence[str | Column]) -> WindowSpec:
    """Base per-key, time-ordered window."""
    return Window.partitionBy(*by).orderBy(*order)


# --- lag / lead family (W1-W3) ---------------------------------------------

def lag_col(col: str | Column, n: int, by: Sequence[str], order: Sequence[str | Column]) -> Column:
    """pandas ``shift(n)`` (ref build_mtf_context_h4_v1.py:217-220)."""
    return F.lag(col, n).over(w_ordered(by, order))


def lead_col(col: str | Column, n: int, by: Sequence[str], order: Sequence[str | Column]) -> Column:
    """pandas ``shift(-n)`` forward labels (ref run_ml_m15_v1.py:157-159)."""
    return F.lead(col, n).over(w_ordered(by, order))


def diff_col(col: str | Column, by: Sequence[str], order: Sequence[str | Column], n: int = 1) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c - F.lag(c, n).over(w_ordered(by, order))


def pct_change(col: str | Column, by: Sequence[str], order: Sequence[str | Column], n: int = 1) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c / F.lag(c, n).over(w_ordered(by, order)) - F.lit(1.0)


def log_return(col: str | Column, by: Sequence[str], order: Sequence[str | Column], n: int = 1) -> Column:
    """``np.log(c / c.shift(n))`` (ref build_m15_direction_regime.py:388-389)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.log(c / F.lag(c, n).over(w_ordered(by, order)))


# --- bounded rolling aggregates (W4) ---------------------------------------

def _min_periods_gate(frame: WindowSpec, min_periods: int, probe: Column) -> Column:
    """Null-out short warmup frames: pandas ``min_periods`` semantics."""
    return F.count(probe).over(frame) >= min_periods


def rolling_agg(
    fn: str,
    col: str | Column,
    n: int,
    by: Sequence[str],
    order: Sequence[str | Column],
    min_periods: int | None = None,
    exclude_current: bool = False,
) -> Column:
    """Rolling {avg,sum,max,min,stddev_pop,stddev_samp,count} over the last
    ``n`` rows, with pandas ``min_periods`` null-gating.

    ``exclude_current=True`` gives the ``shift(1).rolling(n)`` swing-level
    frame (-n, -1) of feature_builder_m1_structure_v1.py:69-79.
    """
    c = F.col(col) if isinstance(col, str) else col
    min_periods = n if min_periods is None else min_periods
    lo, hi = (-n, -1) if exclude_current else (-n + 1, 0)
    frame = w_ordered(by, order).rowsBetween(lo, hi)
    agg = {
        "avg": F.avg,
        "sum": F.sum,
        "max": F.max,
        "min": F.min,
        "stddev_pop": F.stddev_pop,
        "stddev_samp": F.stddev_samp,
        "count": F.count,
    }[fn](c)
    return F.when(_min_periods_gate(frame, min_periods, c), agg.over(frame))


def rolling_mean(col, n, by, order, min_periods=None, exclude_current=False) -> Column:
    return rolling_agg("avg", col, n, by, order, min_periods, exclude_current)


def rolling_max(col, n, by, order, min_periods=None, exclude_current=False) -> Column:
    return rolling_agg("max", col, n, by, order, min_periods, exclude_current)


def rolling_min(col, n, by, order, min_periods=None, exclude_current=False) -> Column:
    return rolling_agg("min", col, n, by, order, min_periods, exclude_current)


def rolling_std(col, n, by, order, min_periods=None, ddof: int = 0) -> Column:
    """Reference sites use ``ddof=0`` → stddev_pop (SURVEY §7.2)."""
    fn = "stddev_pop" if ddof == 0 else "stddev_samp"
    return rolling_agg(fn, col, n, by, order, min_periods)


def rolling_zscore(col, n, by, order, min_periods=None, ddof: int = 0) -> Column:
    """``(x - mean_n) / std_n`` (ref build_mtf_context_h4_v1.py:104-106)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c - rolling_mean(col, n, by, order, min_periods)) / F.nullif(
        rolling_std(col, n, by, order, min_periods, ddof), F.lit(0.0)
    )


# --- cumulative family (W7-W9) ---------------------------------------------

def cumsum(col, by, order) -> Column:
    """Running sum: CVD, equity curves (ref build_mtf_context_h4_v1.py:98-103)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).over(w_ordered(by, order).rowsBetween(Window.unboundedPreceding, 0))


def running_max(col, by, order) -> Column:
    """pandas ``cummax`` — drawdown base (trade_backtest_router_short.py:23-27)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.max(c).over(w_ordered(by, order).rowsBetween(Window.unboundedPreceding, 0))


def ffill(col, by, order) -> Column:
    """Forward-fill: ``last(ignoreNulls)`` (ref build_mtf_context_h4_v1.py:134)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.last(c, ignorenulls=True).over(
        w_ordered(by, order).rowsBetween(Window.unboundedPreceding, 0)
    )


def anchored_vwap(
    price: str | Column,
    volume: str | Column,
    by: Sequence[str],
    order: Sequence[str | Column],
    anchor: Column | None = None,
) -> Column:
    """Anchored VWAP: cumsum(p·v)/cumsum(v), optionally re-anchored per day.

    Daily anchor = grouped cumsum of feature_builder_m1_structure_v1.py:56-66
    (``pv.groupby(day).cumsum()``); pass ``anchor=F.to_date("ts")``.
    """
    p = F.col(price) if isinstance(price, str) else price
    v = F.col(volume) if isinstance(volume, str) else volume
    keys = [F.col(b) for b in by] + ([anchor] if anchor is not None else [])
    frame = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return F.sum(p * v).over(frame) / F.nullif(F.sum(v).over(frame), F.lit(0.0))


# --- price-action primitives (W10-W14) -------------------------------------

def true_range(by: Sequence[str], order: Sequence[str | Column],
               high: str = "high", low: str = "low", close: str = "close") -> Column:
    """``greatest(h-l, |h-prev_c|, |l-prev_c|)`` (build_h1_regime_router_v2.py:30-34).

    First row per key: pandas yields ``h-l`` (NaN prev_close propagates out
    of abs via fmax skipping) — we coalesce prev_close to NaN-safe h-l.
    """
    h, l, c = F.col(high), F.col(low), F.col(close)
    prev_c = F.lag(c).over(w_ordered(by, order))
    return F.when(prev_c.isNull(), h - l).otherwise(
        F.greatest(h - l, F.abs(h - prev_c), F.abs(l - prev_c))
    )


def atr_sma(n: int, by: Sequence[str], order: Sequence[str | Column], **tr_cols) -> Column:
    """SMA-of-true-range ATR, null first n-1 rows (build_m1_features.py:70)."""
    tr = true_range(by, order, **tr_cols)
    frame = w_ordered(by, order).rowsBetween(-n + 1, 0)
    return F.when(F.count(tr).over(frame) >= n, F.avg(tr).over(frame))


def efficiency_ratio(col, n: int, by, order) -> Column:
    """``|c - c.shift(n)| / rolling_sum(|diff(c)|, n)``
    (build_h1_regime_router_v2.py:51-56)."""
    c = F.col(col) if isinstance(col, str) else col
    net = F.abs(c - F.lag(c, n).over(w_ordered(by, order)))
    step = F.abs(c - F.lag(c, 1).over(w_ordered(by, order)))
    gross = F.sum(step).over(w_ordered(by, order).rowsBetween(-n + 1, 0))
    return net / F.nullif(gross, F.lit(0.0))


def slope_per_bar(col, n: int, by, order) -> Column:
    """``(x - x.shift(n)) / n`` (build_h1_regime_router_v2.py:58-60)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c - F.lag(c, n).over(w_ordered(by, order))) / F.lit(float(n))


# --- rolling percentile-of-last (W5) ---------------------------------------

def rolling_pctl_of_last(
    col: str | Column,
    n: int,
    by: Sequence[str],
    order: Sequence[str | Column],
    min_periods: int | None = None,
) -> Column:
    """Empirical-CDF position of the current value within its trailing
    window: ``mean(window <= last)`` (build_m5_vol_regime.py:143-168).

    Exact form via a bounded collect_list + higher-order filter — O(n) state
    per row, fine for research n (the reference itself flags the exact
    version as research-only and suggests a sketch for prod,
    build_m5_vol_regime.py:31-34; at 100 TB swap in percentile_approx).
    """
    c = F.col(col) if isinstance(col, str) else col
    min_periods = n if min_periods is None else min_periods
    frame = w_ordered(by, order).rowsBetween(-n + 1, 0)
    lst = F.collect_list(c).over(frame)
    cur = c
    pct = F.size(F.filter(lst, lambda v: v <= cur)) / F.size(lst)
    return F.when(F.size(lst) >= min_periods, pct.cast("double"))


# --- Ichimoku (W11) ---------------------------------------------------------

def ichimoku_cols(
    by: Sequence[str],
    order: Sequence[str | Column],
    high: str = "high",
    low: str = "low",
    close: str = "close",
    tenkan_n: int = 9,
    kijun_n: int = 26,
    senkou_b_n: int = 52,
    displacement: int = 26,
) -> dict[str, Column]:
    """Ichimoku component columns (compute_ichimoku_mtf_trend_v1.py:99-148).

    Senkou A/B are displaced *forward* in the reference via shift(disp) of
    the midline — as lag(·, disp) here. Chikou compares close to the cloud
    ``disp`` bars ago. Warmup rows are nulled by min_periods gating.
    """
    def mid(n: int) -> Column:
        hh = rolling_max(high, n, by, order)
        ll = rolling_min(low, n, by, order)
        return (hh + ll) / 2

    w = w_ordered(by, order)
    tenkan = mid(tenkan_n)
    kijun = mid(kijun_n)
    senkou_a = F.lag((tenkan + kijun) / 2, displacement).over(w)
    senkou_b = F.lag(mid(senkou_b_n), displacement).over(w)
    c = F.col(close)
    cloud_top = F.greatest(senkou_a, senkou_b)
    cloud_bot = F.least(senkou_a, senkou_b)
    bull = (
        (c > cloud_top).cast("int")
        + (tenkan > kijun).cast("int")
        + (c > kijun).cast("int")
        + (senkou_a > senkou_b).cast("int")
    )
    bear = (
        (c < cloud_bot).cast("int")
        + (tenkan < kijun).cast("int")
        + (c < kijun).cast("int")
        + (senkou_a < senkou_b).cast("int")
    )
    return {
        "tenkan": tenkan,
        "kijun": kijun,
        "senkou_a": senkou_a,
        "senkou_b": senkou_b,
        "cloud_top": cloud_top,
        "cloud_bot": cloud_bot,
        "bull_score": bull,
        "bear_score": bear,
    }


# --- structure / segments (W15, W18) ---------------------------------------

def k_consecutive_true(cond: Column, k: int, by, order) -> Column:
    """True when the last k rows (incl. current) all satisfy ``cond``
    (build_range_boxes_from_flats_v2.py:93-101 ``_first_confirmed_idx``)."""
    frame = w_ordered(by, order).rowsBetween(-k + 1, 0)
    return (F.sum(cond.cast("int")).over(frame) == k) & (
        F.count(F.lit(1)).over(frame) == k
    )


def island_id(change_cond: Column, by, order) -> Column:
    """Gaps-and-islands segment id: cumulative count of boundary events
    (flat-plateau detection, find_ichimoku_flat_levels_v1.py:95-150)."""
    return F.sum(change_cond.cast("long")).over(
        w_ordered(by, order).rowsBetween(Window.unboundedPreceding, 0)
    )
