"""Backtest engine (SURVEY §2.8 B1-B5): vectorized signals, event-driven
position kernel, config-grid sweep, trade statistics.

Reference: scripts/backtest/run_sweep_router_v2.py — signal masks :246-330,
position loop ``run_bt`` :361-643, config grid :646-736; same kernel family
in backtest_router_event_v1_1.py and trade_backtest_router_short*.py.

Spark decomposition (the part of the reference that is NOT declarative):

- B1 signals are pure boolean column algebra → computed JVM-side AFTER the
  bars×configs cross join, so one codegen stage evaluates every config's
  masks (config constants become columns);
- B2 the position loop carries position state bar-to-bar → per-(key, cfg)
  ``applyInPandas`` kernel. Groups are independent ⇒ a 100-config sweep on
  50 symbols is 5000-way parallel — the reference runs these serially;
- B3 the sweep materializes bars×configs once (a single shuffle on
  (key, cfg)); stats (A12) are plain aggregations on the trades output.
"""

from __future__ import annotations

from dataclasses import dataclass, fields as dc_fields
from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# module-level policy constants (run_sweep_router_v2.py:27-46)
ONE_POSITION_MAX = True
ALLOW_LONGS = True
ALLOW_SHORTS = True
VOL_EXCLUDE_NA = True
TREND_VOL_OK = ("MID", "HIGH")
TREND_TIME_STOP = 60
TREND_SL_ATR = 1.6
TREND_TP_R = 1.8


@dataclass(frozen=True)
class Cfg:
    """Sweep configuration (run_sweep_router_v2.py:111-133)."""

    name: str = "base"
    mr_tp1_cp: float = 0.50
    mr_be_offset_r: float = 0.05
    tp_cp: float = 0.60
    tp1_fraction: float = 0.50
    mr_sl_atr: float = 1.8
    vol_filter_high: bool = True
    mr_time_stop: int = 20
    priority: str = "TREND_FIRST"
    mr_d: float = 0.45
    mr_rr: float = 1.20
    mr_cp_low: float = 0.25
    mr_cp_high: float = 0.75
    mr_mean_dist: float = 0.15
    mr_atr_pctl_max: float = 0.85
    trend_enabled: bool = True
    trend_d: float = 0.20
    trend_p: float = 0.65
    trend_rr: float = 0.80
    session_name: str = "US_15_16"
    session_hours: str = "15,16"
    minute_guard: int = 15
    # event-simulator extras (backtest_router_event_v1_1.py) — defaults OFF
    # so the sweep kernel's r1-r3 semantics (and hashes) are unchanged:
    # cooldown_after_loss > 0 blocks entries for that many bars after a
    # losing close (:64-66,:264-270,:368-369); cost_r_per_trade nets a
    # per-roundtrip cost out of each trade's pnl_r (:59-61,:272-275).
    cooldown_after_loss: int = 0
    cost_r_per_trade: float = 0.0


BASE_COLS = [
    "ts", "high", "low", "close", "atr14", "close_pos", "delta_norm",
    "range_rel", "router_mode_h1", "dir_state", "vol_state", "dir_ready",
    "tradable_final", "atr_pct_pctl_h1", "hour_utc", "minute_utc",
    "gate_allow_long", "gate_allow_short",
    "gate_size_mult_long", "gate_size_mult_short",
]

def _gate_defaults():
    # built lazily: Column construction needs an active SparkContext
    return {
        "gate_allow_long": F.lit(True),
        "gate_allow_short": F.lit(True),
        "gate_size_mult_long": F.lit(1.0),
        "gate_size_mult_short": F.lit(1.0),
    }


_CFG_DDL_TYPES = {"str": "string", "float": "double", "bool": "boolean", "int": "int"}


def configs_df(spark: SparkSession, cfgs: Sequence[Cfg]) -> DataFrame:
    rows = [tuple(getattr(c, f.name) for f in dc_fields(Cfg)) for c in cfgs]
    # field annotations are strings under `from __future__ import annotations`
    schema = ", ".join(f"{f.name} {_CFG_DDL_TYPES[str(f.type)]}" for f in dc_fields(Cfg))
    return spark.createDataFrame(rows, schema)


def with_signals(bars_x_cfg: DataFrame, by: Sequence[str], order: Sequence[str]) -> DataFrame:
    """B1 vectorized signal masks (run_sweep_router_v2.py:246-330) over the
    bars×configs frame — config fields are columns, so every comparison is
    one whole-stage-codegen pass for all configs at once."""
    from pyspark.sql import Window

    d = bars_x_cfg
    col = F.col
    vol_ok = col("vol_state") != "NA" if VOL_EXCLUDE_NA else F.lit(True)
    base_gate = col("tradable_final") & col("dir_ready") & vol_ok
    is_trend = F.when(
        col("trend_enabled"),
        base_gate & (col("router_mode_h1") == "TREND") & col("vol_state").isin(*TREND_VOL_OK),
    ).otherwise(F.lit(False))
    session_mask = F.array_contains(
        F.transform(F.split(col("session_hours"), ","), lambda x: x.cast("int")),
        col("hour_utc"),
    )
    minute_mask = F.when(
        col("minute_guard") <= 0, F.lit(True)
    ).otherwise(
        (col("minute_utc") >= col("minute_guard"))
        & (col("minute_utc") <= (59 - col("minute_guard")))
    )
    is_range = base_gate & (col("router_mode_h1") == "RANGE") & session_mask & minute_mask
    is_range = F.when(
        col("vol_filter_high"), is_range & col("vol_state").isin("LOW", "MID")
    ).otherwise(is_range)

    impulse_long = (
        (col("delta_norm") > col("trend_d"))
        & (col("close_pos") > col("trend_p"))
        & (col("range_rel") > col("trend_rr"))
    )
    impulse_short = (
        (col("delta_norm") < -col("trend_d"))
        & (col("close_pos") < (1.0 - col("trend_p")))
        & (col("range_rel") > col("trend_rr"))
    )
    d = d.withColumn(
        "trend_long_signal",
        F.coalesce(is_trend & (col("dir_state") == "BULL") & impulse_long, F.lit(False)),
    ).withColumn(
        "trend_short_signal",
        F.coalesce(is_trend & (col("dir_state") == "BEAR") & impulse_short, F.lit(False)),
    )

    # ATR-percentile cap with auto 0-1 vs 0-100 scale detection
    # (run_sweep_router_v2.py:286-293): global max over finite values per
    # cfg. NOT a Window.partitionBy("name") — that funnels the whole
    # bars×cfg frame into |cfgs| data-proportional partitions (measured:
    # the dominant cost of a 4M-row sweep probe, r4). A grouped aggregate
    # gets map-side partial max and the |cfgs|-row result broadcasts back.
    finite = F.when(
        ~F.isnan(F.coalesce(col("atr_pct_pctl_h1"), F.lit(float("nan")))),
        col("atr_pct_pctl_h1"),
    )
    scale_tbl = d.groupBy("name").agg(F.max(finite).alias("__scale_max"))
    d = d.join(F.broadcast(scale_tbl), "name")
    atr_cap = F.when(F.col("__scale_max") > 1.5, col("mr_atr_pctl_max") * 100.0).otherwise(
        col("mr_atr_pctl_max")
    )
    atr_pctl_ok = finite.isNull() | (col("atr_pct_pctl_h1") <= atr_cap)

    mean_dist_ok = F.abs(col("close_pos") - 0.5) >= col("mr_mean_dist")
    mr_long_setup = (
        is_range & mean_dist_ok & atr_pctl_ok
        & (col("close_pos") <= col("mr_cp_low"))
        & (col("delta_norm") <= -col("mr_d"))
        & (col("range_rel") >= col("mr_rr"))
        & (col("dir_state") == "BULL")
    )
    mr_short_setup = (
        is_range & mean_dist_ok & atr_pctl_ok
        & (col("close_pos") >= col("mr_cp_high"))
        & (col("delta_norm") >= col("mr_d"))
        & (col("range_rel") >= col("mr_rr"))
        & (col("dir_state") == "BEAR")
    )
    w = Window.partitionBy(*by, "name").orderBy(*order)
    conf_long = (col("delta_norm") > 0) | (col("close_pos") > 0.50)
    conf_short = (col("delta_norm") < 0) | (col("close_pos") < 0.50)
    d = d.withColumn(
        "mr_long_signal",
        F.coalesce(
            F.lag(mr_long_setup, 1, False).over(w) & is_range & conf_long, F.lit(False)
        ),
    ).withColumn(
        "mr_short_signal",
        F.coalesce(
            F.lag(mr_short_setup, 1, False).over(w) & is_range & conf_short, F.lit(False)
        ),
    )
    return d.drop("__scale_max")


TRADE_SCHEMA = T.StructType(
    [
        T.StructField("cfg", T.StringType()),
        T.StructField("engine", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("entry_ts", T.TimestampType()),
        T.StructField("exit_ts", T.TimestampType()),
        T.StructField("entry_price", T.DoubleType()),
        T.StructField("exit_price", T.DoubleType()),
        T.StructField("r_mult", T.DoubleType()),
        # net R after the per-roundtrip cost (== r_mult when
        # cost_r_per_trade is 0; backtest_router_event_v1_1.py:272-275
        # charges the cost against equity at entry — per-trade that is
        # gross R minus one roundtrip cost)
        T.StructField("pnl_r", T.DoubleType()),
        T.StructField("exit_reason", T.StringType()),
        T.StructField("bars_in_trade", T.LongType()),
    ]
)


# every column _position_loop reads (data series + the cfg constants it
# pulls off row 0); run_sweep prunes its shuffle/Arrow payload to these
_KERNEL_COLS = [
    "ts", "high", "low", "close", "atr14", "close_pos", "router_mode_h1",
    "vol_state", "trend_long_signal", "trend_short_signal",
    "mr_long_signal", "mr_short_signal", "gate_allow_long",
    "gate_allow_short", "gate_size_mult_long", "gate_size_mult_short",
    "name", "priority", "vol_filter_high", "mr_sl_atr", "mr_tp1_cp",
    "mr_be_offset_r", "tp_cp", "tp1_fraction", "mr_time_stop",
    "cooldown_after_loss", "cost_r_per_trade",
]


def _r_mult(side: str, entry: float, exit_p: float, risk: float) -> float:
    if risk <= 0 or not np.isfinite(risk):
        return 0.0
    return (exit_p - entry) / risk if side == "LONG" else (entry - exit_p) / risk


def _position_loop(pdf: pd.DataFrame, order: list[str], key_cols: list[str]) -> pd.DataFrame:
    """B2 kernel — exact exit semantics of run_bt (run_sweep_router_v2.py:
    361-643): MR partial TP1 + break-even runner to TP2, router-flip,
    vol-kill, time-stop; TREND SL/TP with same-bar SL priority."""
    pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
    cfg = pdf.iloc[0]
    g = lambda c: pdf[c].to_numpy()  # noqa: E731
    ts, high, low, close = pdf["ts"].to_numpy(), g("high"), g("low"), g("close")
    atr, close_pos = g("atr14"), g("close_pos")
    router, vol = g("router_mode_h1"), g("vol_state")
    tl, tsg = g("trend_long_signal"), g("trend_short_signal")
    ml, ms = g("mr_long_signal"), g("mr_short_signal")
    gal, gas = g("gate_allow_long"), g("gate_allow_short")
    gml, gms = g("gate_size_mult_long"), g("gate_size_mult_short")

    cooldown_bars = int(cfg.get("cooldown_after_loss", 0) or 0)
    cost_r = float(cfg.get("cost_r_per_trade", 0.0) or 0.0)

    pos = None
    rows = []
    cooldown_until = -1  # backtest_router_event_v1_1.py:262

    def close_out(i, rr, reason):
        nonlocal cooldown_until
        rows.append(
            (
                cfg["name"], pos["engine"], pos["side"],
                ts[pos["entry_i"]], ts[i],
                float(pos["entry"]), float(close[i]), float(rr),
                float(rr - cost_r), reason,
                int(i - pos["entry_i"]),
            )
        )
        # cooldown triggers on the GROSS trade result, matching the event
        # simulator (its pnl_r excludes costs; :368-369)
        if cooldown_bars > 0 and rr < 0:
            cooldown_until = i + cooldown_bars

    # Flat-span skip (vectorized): a bar can OPEN a position only where a
    # raw signal and its gate line up, so precompute those indices once and
    # let the scalar walk jump straight between them while flat — numpy
    # searchsorted over the candidate index list replaces per-bar Python
    # stepping across the no-position no-signal stretches that dominate
    # production data (entry rejection for size/ATR/risk still happens at
    # the candidate bar itself, identical to the per-bar walk).
    def _bmask(a):
        return pd.Series(a).fillna(False).to_numpy(dtype=bool)

    bgal, bgas = _bmask(gal), _bmask(gas)
    any_cand = ((_bmask(ml) | _bmask(tl)) & ALLOW_LONGS & bgal) | (
        (_bmask(ms) | _bmask(tsg)) & ALLOW_SHORTS & bgas
    )
    cand_idx = np.flatnonzero(any_cand)

    n = len(pdf)
    i = 0
    while i < n:
        if pos is not None:
            bars = i - pos["entry_i"]
            flip = str(router[i]) != pos["router_need"]
            vol_kill = (
                pos["engine"] == "RANGE" and cfg["vol_filter_high"] and str(vol[i]) == "HIGH"
            )
            time_exit = bars >= (
                TREND_TIME_STOP if pos["engine"] == "TREND" else cfg["mr_time_stop"]
            )
            if pos["side"] == "LONG":
                sl_hit = low[i] <= pos["sl"]
                trend_tp_hit = high[i] >= pos["tp"]
                mr_tp1_hit = close_pos[i] >= cfg["mr_tp1_cp"]
                mr_tp2_hit = close_pos[i] >= cfg["tp_cp"]
            else:
                sl_hit = high[i] >= pos["sl"]
                trend_tp_hit = low[i] <= pos["tp"]
                mr_tp1_hit = close_pos[i] <= (1.0 - cfg["mr_tp1_cp"])
                mr_tp2_hit = close_pos[i] <= (1.0 - cfg["tp_cp"])

            if pos["engine"] == "RANGE":
                if sl_hit:
                    rr = pos["rr_accum"] + pos["qty"] * _r_mult(
                        pos["side"], pos["entry"], float(pos["sl"]), pos["risk"]
                    )
                    close_out(i, rr, "SL")
                    pos = None
                else:
                    if not pos["tp1_done"] and mr_tp1_hit:
                        qty_exit = min(float(cfg["tp1_fraction"]), pos["qty"])
                        pos["rr_accum"] += qty_exit * _r_mult(
                            pos["side"], pos["entry"], float(close[i]), pos["risk"]
                        )
                        pos["qty"] -= qty_exit
                        pos["tp1_done"] = True
                        off = pos["risk"] * cfg["mr_be_offset_r"]
                        pos["sl"] = (
                            pos["entry"] + off if pos["side"] == "LONG" else pos["entry"] - off
                        )
                        if pos["qty"] <= 1e-12:
                            close_out(i, pos["rr_accum"], "TP_CP")
                            pos = None
                    if pos is not None:
                        for hit, reason in (
                            (mr_tp2_hit, "TP2_CP"),
                            (flip, "FLIP_ROUTER"),
                            (vol_kill, "VOL_HIGH_KILL"),
                            (time_exit, "TIME_STOP"),
                        ):
                            if hit:
                                rr = pos["rr_accum"] + pos["qty"] * _r_mult(
                                    pos["side"], pos["entry"], float(close[i]), pos["risk"]
                                )
                                close_out(i, rr, reason)
                                pos = None
                                break
            else:
                reason = exit_price = None
                if sl_hit and trend_tp_hit:
                    reason, exit_price = "SL_and_TP_same_bar", pos["sl"]
                elif sl_hit:
                    reason, exit_price = "SL", pos["sl"]
                elif trend_tp_hit:
                    reason, exit_price = "TP_TREND", pos["tp"]
                elif flip:
                    reason, exit_price = "FLIP_ROUTER", close[i]
                elif time_exit:
                    reason, exit_price = "TIME_STOP", close[i]
                if reason is not None:
                    rr = _r_mult(pos["side"], pos["entry"], float(exit_price), pos["risk"])
                    close_out(i, rr, reason)
                    pos = None

        if ONE_POSITION_MAX and pos is not None:
            i += 1
            continue
        if pos is not None:
            # holding with ONE_POSITION_MAX off: exits must be evaluated
            # every bar, so no skip-ahead — step only past non-entry bars.
            # A losing close at THIS bar already set cooldown_until >= i,
            # so same-bar re-entry after a loss is blocked (:268-269 `i <=`)
            if i <= cooldown_until or not any_cand[i]:
                i += 1
                continue
        else:
            # flat: jump to the next candidate bar at/after max(i,
            # cooldown_until + 1) — same-bar re-entry after a non-loss
            # close is preserved because the search starts at i itself
            j = int(np.searchsorted(cand_idx, max(i, cooldown_until + 1)))
            if j >= len(cand_idx):
                break
            i = int(cand_idx[j])

        cand = [
            ("RANGE", "LONG", bool(ml[i]) and ALLOW_LONGS and bool(gal[i])),
            ("RANGE", "SHORT", bool(ms[i]) and ALLOW_SHORTS and bool(gas[i])),
            ("TREND", "LONG", bool(tl[i]) and ALLOW_LONGS and bool(gal[i])),
            ("TREND", "SHORT", bool(tsg[i]) and ALLOW_SHORTS and bool(gas[i])),
        ]
        if cfg["priority"] != "MR_FIRST":
            cand = cand[2:] + cand[:2]
        chosen = next(((e, s) for e, s, ok in cand if ok), None)
        if chosen is None:
            i += 1
            continue
        eng, side = chosen
        size_mult = float(gml[i] if side == "LONG" else gms[i])
        if not np.isfinite(size_mult) or size_mult <= 0:
            i += 1
            continue
        entry, a = float(close[i]), float(atr[i])
        if not np.isfinite(a) or a <= 0:
            i += 1
            continue
        if eng == "TREND":
            sl_dist, tp_r, need = TREND_SL_ATR * a, TREND_TP_R, "TREND"
        else:
            sl_dist, tp_r, need = float(cfg["mr_sl_atr"]) * a, 0.0, "RANGE"
        if side == "LONG":
            sl = entry - sl_dist
            risk = entry - sl
            tp = entry + tp_r * risk
        else:
            sl = entry + sl_dist
            risk = sl - entry
            tp = entry - tp_r * risk
        if risk <= 0 or not np.isfinite(risk):
            i += 1
            continue
        pos = {
            "engine": eng, "side": side, "entry_i": i, "entry": entry,
            "sl": sl, "tp": tp, "risk": risk, "router_need": need,
            "qty": size_mult, "rr_accum": 0.0, "tp1_done": False,
        }
        i += 1

    return pd.DataFrame(
        rows,
        columns=[
            "cfg", "engine", "side", "entry_ts", "exit_ts", "entry_price",
            "exit_price", "r_mult", "pnl_r", "exit_reason", "bars_in_trade",
        ],
    )


def run_sweep(
    bars: DataFrame,
    cfgs: Sequence[Cfg],
    by: Sequence[str] = ("symbol",),
    order: Sequence[str] = ("ts",),
) -> DataFrame:
    """B3: cross bars×configs → vectorized signals → per-(key,cfg) position
    kernel. Returns the per-trade DataFrame (key cols + TRADE_SCHEMA)."""
    by, order = list(by), list(order)
    spark = bars.sparkSession
    # fail fast on missing inputs (the reference's required-column contract,
    # run_sweep_router_v2.py:793-812) instead of a deep worker KeyError
    optional = set(_gate_defaults()) | {"hour_utc", "minute_utc"}
    missing = [c for c in BASE_COLS if c not in bars.columns and c not in optional]
    if missing:
        raise ValueError(f"run_sweep input is missing required columns: {missing}")
    for c, default in _gate_defaults().items():
        if c not in bars.columns:
            bars = bars.withColumn(c, default)
    if "hour_utc" not in bars.columns:
        bars = bars.withColumn("hour_utc", F.hour("ts")).withColumn(
            "minute_utc", F.minute("ts")
        )
    crossed = bars.crossJoin(F.broadcast(configs_df(spark, cfgs)))
    sig = with_signals(crossed, by, order)

    out_schema = T.StructType(
        [f for f in sig.schema.fields if f.name in by] + list(TRADE_SCHEMA.fields)
    )
    key_cols = by

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        trades = _position_loop(pdf, order, key_cols)
        for i, c in enumerate(key_cols):
            trades.insert(i, c, key[i])
        return trades

    # ship ONLY what the kernel reads through the (key, cfg) shuffle and
    # the Arrow boundary: with_signals' intermediates (delta_norm,
    # range_rel, dir_state, session_hours, ...) are consumed by the mask
    # algebra and dead past this point — ~45 → ~28 columns of shuffle
    # write + Arrow transfer on the bars×cfg frame
    keep = list(dict.fromkeys([*by, *order, "name", *_KERNEL_COLS]))
    return (
        sig.select(*keep)
        .repartition(*by, "name")
        .groupBy(*by, "name")
        .applyInPandas(kernel, schema=out_schema)
    )


def sweep_stats(trades: DataFrame, by: Sequence[str] = ("cfg",)) -> DataFrame:
    """A12 trade statistics per config: winrate, avg/sum R, profit factor,
    R percentiles, exit-reason rates (run_sweep_router_v2.py:603-641)."""
    r = F.col("r_mult")
    gains = F.sum(F.when(r > 0, r).otherwise(0.0))
    losses = -F.sum(F.when(r < 0, r).otherwise(0.0))
    pf = F.when(losses <= 0, F.when(gains > 0, float("inf")).otherwise(0.0)).otherwise(
        gains / losses
    )
    n = F.count(F.lit(1))
    rate = lambda cond: F.sum(F.when(cond, 1).otherwise(0)) / n  # noqa: E731
    return trades.groupBy(*by).agg(
        n.alias("n_trades"),
        F.sum(F.when(F.col("engine") == "TREND", 1).otherwise(0)).alias("n_trend"),
        F.sum(F.when(F.col("engine") == "RANGE", 1).otherwise(0)).alias("n_range"),
        (F.sum(F.when(r > 0, 1).otherwise(0)) / n).alias("winrate"),
        F.avg(r).alias("avg_r"),
        F.sum(r).alias("sum_r"),
        pf.alias("pf"),
        F.expr("percentile(r_mult, 0.1)").alias("r_p10"),
        F.expr("percentile(r_mult, 0.5)").alias("r_p50"),
        F.expr("percentile(r_mult, 0.9)").alias("r_p90"),
        rate(F.col("exit_reason").isin("SL", "SL_and_TP_same_bar")).alias("SL_rate"),
        rate(F.col("exit_reason").isin("TP_CP", "TP2_CP", "TP_TREND")).alias("TP_rate"),
        rate(F.col("exit_reason").isin("FLIP_ROUTER", "VOL_HIGH_KILL")).alias("FLIP_rate"),
        rate(F.col("exit_reason") == "TIME_STOP").alias("TIME_rate"),
    )


@dataclass(frozen=True)
class EventParams:
    """Event-simulator configuration (backtest_router_event_v1_1.py:28-65)
    — the EVENT kernel differs from the sweep kernel (``Cfg``) in its MR
    management: price-based TP (no partial TP1/TP2-by-close-pos),
    break-even armed by UNREALIZED R (checked before the bar's SL/TP),
    and per-engine SL/TP/time constants."""

    trend_d: float = 0.20
    trend_p: float = 0.65
    trend_rr: float = 0.80
    mr_d: float = 0.20
    mr_rr: float = 0.80
    mr_cp_low: float = 0.20
    mr_cp_high: float = 0.80
    trend_sl_atr: float = 1.00
    trend_tp_r: float = 2.00
    trend_time_stop: int = 60
    mr_sl_atr: float = 0.80
    mr_tp_r: float = 1.20
    mr_time_stop: int = 30
    mr_break_even_at_r: float | None = 0.60
    mr_be_offset_r: float = 0.00
    cost_r_per_trade: float = 0.0
    cooldown_after_loss: int = 5
    allow_longs: bool = True
    allow_shorts: bool = True


EVENT_TRADE_SCHEMA = T.StructType(
    [
        T.StructField("engine", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("entry_ts", T.TimestampType()),
        T.StructField("exit_ts", T.TimestampType()),
        T.StructField("entry_price", T.DoubleType()),
        T.StructField("exit_price", T.DoubleType()),
        T.StructField("sl_price", T.DoubleType()),
        T.StructField("tp_price", T.DoubleType()),
        T.StructField("r_mult", T.DoubleType()),
        T.StructField("pnl_r", T.DoubleType()),
        T.StructField("exit_reason", T.StringType()),
        T.StructField("bars_in_trade", T.LongType()),
    ]
)


def event_signals(
    df: DataFrame, by: Sequence[str], order: Sequence[str], p: EventParams
) -> DataFrame:
    """compute_regimes_and_signals (backtest_router_event_v1_1.py:219-249)
    as one codegen pass of column algebra."""
    from pyspark.sql import Window

    col = F.col
    tradable = col("tradable_final") & col("dir_ready") & (col("vol_state") != "NA")
    is_trend = (
        tradable & (col("router_mode_h1") == "TREND")
        & col("vol_state").isin("MID", "HIGH")
    )
    is_range = tradable & (col("router_mode_h1") == "RANGE")
    impulse_long = (
        (col("delta_norm") > p.trend_d)
        & (col("close_pos") > p.trend_p)
        & (col("range_rel") > p.trend_rr)
    )
    impulse_short = (
        (col("delta_norm") < -p.trend_d)
        & (col("close_pos") < (1.0 - p.trend_p))
        & (col("range_rel") > p.trend_rr)
    )
    mr_long_setup = (
        (col("close_pos") <= p.mr_cp_low)
        & (col("delta_norm") <= -p.mr_d)
        & (col("range_rel") >= p.mr_rr)
        & (col("dir_state") == "BULL")
    )
    mr_short_setup = (
        (col("close_pos") >= p.mr_cp_high)
        & (col("delta_norm") >= p.mr_d)
        & (col("range_rel") >= p.mr_rr)
        & (col("dir_state") == "BEAR")
    )
    w = Window.partitionBy(*list(by)).orderBy(*list(order))
    conf_long = (col("delta_norm") > 0) | (col("close_pos") > 0.50)
    conf_short = (col("delta_norm") < 0) | (col("close_pos") < 0.50)
    return (
        df.withColumn(
            "trend_long_signal",
            F.coalesce(is_trend & (col("dir_state") == "BULL") & impulse_long, F.lit(False)),
        )
        .withColumn(
            "trend_short_signal",
            F.coalesce(is_trend & (col("dir_state") == "BEAR") & impulse_short, F.lit(False)),
        )
        .withColumn(
            "mr_long_signal",
            F.coalesce(
                F.lag(F.coalesce(is_range & mr_long_setup, F.lit(False)), 1, False).over(w)
                & is_range & conf_long,
                F.lit(False),
            ),
        )
        .withColumn(
            "mr_short_signal",
            F.coalesce(
                F.lag(F.coalesce(is_range & mr_short_setup, F.lit(False)), 1, False).over(w)
                & is_range & conf_short,
                F.lit(False),
            ),
        )
    )


def _event_loop(pdf: pd.DataFrame, order: list[str], p: EventParams) -> pd.DataFrame:
    """The event simulator's run_backtest position loop, faithful
    (backtest_router_event_v1_1.py:255-434): BE arming (unrealized R ≥
    threshold, checked BEFORE the bar's SL/TP using the possibly-moved
    stop), price-based SL/TP with same-bar SL priority for both engines,
    router-flip before time-stop, per-engine constants, cooldown after a
    gross loss, per-roundtrip cost netted into pnl_r."""
    pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
    g = lambda c: pdf[c].to_numpy()  # noqa: E731
    ts = pdf["ts"].to_numpy()
    high, low, close, atr = g("high"), g("low"), g("close"), g("atr14")
    router = g("router_mode_h1")
    tl, tsg = g("trend_long_signal"), g("trend_short_signal")
    ml, ms = g("mr_long_signal"), g("mr_short_signal")

    pos = None
    cooldown_until = -1
    rows = []
    for i in range(len(pdf)):
        if pos is not None:
            bars = i - pos["entry_i"]
            flip = str(router[i]) != pos["need"]
            time_exit = bars >= (
                p.trend_time_stop if pos["engine"] == "TREND" else p.mr_time_stop
            )
            # BE for MR — BEFORE this bar's SL/TP checks (:305-312)
            if (
                pos["engine"] == "RANGE"
                and p.mr_break_even_at_r is not None
                and not pos["be_armed"]
            ):
                unreal = _r_mult(pos["side"], pos["entry"], float(close[i]), pos["risk"])
                if unreal >= float(p.mr_break_even_at_r):
                    off = pos["risk"] * float(p.mr_be_offset_r)
                    pos["sl"] = (
                        pos["entry"] + off if pos["side"] == "LONG" else pos["entry"] - off
                    )
                    pos["be_armed"] = True
            if pos["side"] == "LONG":
                sl_hit = low[i] <= pos["sl"]
                tp_hit = high[i] >= pos["tp"]
            else:
                sl_hit = high[i] >= pos["sl"]
                tp_hit = low[i] <= pos["tp"]
            reason = exit_price = None
            if sl_hit and tp_hit:
                reason, exit_price = "SL_and_TP_same_bar", pos["sl"]
            elif sl_hit:
                reason, exit_price = "SL", pos["sl"]
            elif tp_hit:
                reason, exit_price = "TP", pos["tp"]
            elif flip:
                reason, exit_price = "FLIP_ROUTER", close[i]
            elif time_exit:
                reason, exit_price = "TIME_STOP", close[i]
            if reason is not None:
                r = _r_mult(pos["side"], pos["entry"], float(exit_price), pos["risk"])
                rows.append(
                    (
                        pos["engine"], pos["side"], ts[pos["entry_i"]], ts[i],
                        float(pos["entry"]), float(exit_price),
                        float(pos["sl"]), float(pos["tp"]),
                        float(r), float(r - p.cost_r_per_trade), reason, int(bars),
                    )
                )
                if p.cooldown_after_loss > 0 and r < 0:
                    cooldown_until = i + p.cooldown_after_loss
                pos = None

        if pos is not None or i <= cooldown_until:
            continue
        engine = side = None
        if (p.allow_longs and tl[i]) or (p.allow_shorts and tsg[i]):
            engine, side = "TREND", ("LONG" if p.allow_longs and tl[i] else "SHORT")
        elif (p.allow_longs and ml[i]) or (p.allow_shorts and ms[i]):
            engine, side = "RANGE", ("LONG" if p.allow_longs and ml[i] else "SHORT")
        if engine is None:
            continue
        entry, a = float(close[i]), float(atr[i])
        if not np.isfinite(a) or a <= 0:
            continue
        sl_dist = (p.trend_sl_atr if engine == "TREND" else p.mr_sl_atr) * a
        tp_r = p.trend_tp_r if engine == "TREND" else p.mr_tp_r
        if side == "LONG":
            sl = entry - sl_dist
            risk = entry - sl
            tp = entry + tp_r * risk
        else:
            sl = entry + sl_dist
            risk = sl - entry
            tp = entry - tp_r * risk
        if not np.isfinite(risk) or risk <= 0:
            continue
        pos = {
            "engine": engine, "side": side, "entry_i": i, "entry": entry,
            "sl": sl, "tp": tp, "risk": risk,
            "need": "TREND" if engine == "TREND" else "RANGE",
            "be_armed": False,
        }
    return pd.DataFrame(
        rows,
        columns=[
            "engine", "side", "entry_ts", "exit_ts", "entry_price", "exit_price",
            "sl_price", "tp_price", "r_mult", "pnl_r", "exit_reason", "bars_in_trade",
        ],
    )


def run_event_backtest(
    bars: DataFrame,
    params: EventParams = EventParams(),
    by: Sequence[str] = ("symbol",),
    order: Sequence[str] = ("ts",),
) -> DataFrame:
    """Full event-simulator replay: vectorized signals → per-key faithful
    position loop. One shuffle on the key; keys run in parallel (the
    reference is a single-symbol serial script)."""
    by, order = list(by), list(order)
    sig = event_signals(bars, by, order, params)
    out_schema = T.StructType(
        [f for f in sig.schema.fields if f.name in by] + list(EVENT_TRADE_SCHEMA.fields)
    )

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        trades = _event_loop(pdf, order, params)
        for i, c in enumerate(by):
            trades.insert(i, c, key[i])
        return trades

    return sig.repartition(*by).groupBy(*by).applyInPandas(kernel, schema=out_schema)


def with_router_gate(
    bars: DataFrame,
    gate: DataFrame,
    by: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
    gate_ts_col: str = "ts",
) -> DataFrame:
    """As-of join a derived router gate (structure.router_gate_from_cases)
    onto the bar stream, surfacing the four ``gate_*`` columns the sweep
    kernel consumes — the derivation that replaces ``_gate_defaults``
    with real allow/size values (the reference writes the gate CSV and
    the event backtest as-of merges it; build_router_gate_from_audit_v1
    → backtest input). Backward as-of: each bar sees the latest gate row
    at or before it, so a coarser-TF gate rides onto finer bars without a
    grid join."""
    from binance_futures_data_lake_spark.operators.asof import asof_join_backward

    g = gate.select(
        *list(by),
        F.col(gate_ts_col).alias(ts_col),
        (F.col("allow_long") == 1).alias("gate_allow_long"),
        (F.col("allow_short") == 1).alias("gate_allow_short"),
        F.col("size_mult_long").alias("gate_size_mult_long"),
        F.col("size_mult_short").alias("gate_size_mult_short"),
    )
    return asof_join_backward(bars, g, on=ts_col, by=list(by))


def equity_curve(
    bars: DataFrame,
    trades: DataFrame,
    by: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
    initial: float = 1.0,
    cost_r_per_trade: float = 0.0,
    r_col: str = "r_mult",
) -> DataFrame:
    """Per-bar equity curve in R-units (backtest_router_event_v1_1.py:
    256-280,436): ``equity_r`` at each bar is the equity BEFORE that
    bar's events — the simulator records ``equity_curve[i] = equity`` at
    the top of the loop, then applies exits (+gross R, :344-345) and
    entry costs (−cost, :272-275) for bar i.

    Spark-first: the in-loop accounting is re-expressed as two grouped
    delta tables (gross R summed per exit bar; −cost per entry) joined
    onto the bars and a single strictly-before running sum per key — one
    window pass, no kernel, so the curve for a 5000-group sweep stays
    declarative. Derived from CLOSED trades: a position still open at the
    data edge contributes its entry cost only once it closes (the in-loop
    simulator charges it immediately — a ≤1-trade tail difference).
    """
    from pyspark.sql import Window

    by = list(by)
    exits = trades.groupBy(*by, F.col("exit_ts").alias(ts_col)).agg(
        F.sum(r_col).alias("__d_exit")
    )
    entries = trades.groupBy(*by, F.col("entry_ts").alias(ts_col)).agg(
        (-F.lit(float(cost_r_per_trade)) * F.count(F.lit(1))).alias("__d_entry")
    )
    keys = by + [ts_col]
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    delta = F.coalesce(F.col("__d_exit"), F.lit(0.0)) + F.coalesce(
        F.col("__d_entry"), F.lit(0.0)
    )
    return (
        bars.select(*keys)
        .join(exits, keys, "left")
        .join(entries, keys, "left")
        .withColumn(
            "equity_r", F.lit(float(initial)) + F.coalesce(F.sum(delta).over(w), F.lit(0.0))
        )
        .select(*keys, "equity_r")
    )


def with_drawdown(
    equity: DataFrame,
    by: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
    eq_col: str = "equity_r",
) -> DataFrame:
    """Running peak-to-trough drawdown over an equity curve
    (backtest_router_event_v1_1.py:133-142 ``_max_drawdown``, as a
    windowed runmax instead of the reference's per-element loop):
    ``drawdown_r = runmax(equity) − equity`` per key, so
    ``max(drawdown_r)`` is the simulator's ``max_drawdown_r``."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*list(by))
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return equity.withColumn("drawdown_r", F.max(eq_col).over(w) - F.col(eq_col))


def mae_mfe(
    bars: DataFrame,
    horizon: int,
    by: Sequence[str] = ("symbol",),
    order: Sequence[str] = ("ts",),
) -> DataFrame:
    """B4/W20: forward-window MAE/MFE per bar — max favorable / adverse
    excursion over the next ``horizon`` bars relative to this bar's close
    (trade_diagnostics_mae_mfe_short.py:175-266, vectorizable part)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy(*order).rowsBetween(1, horizon)
    cnt = F.count("close").over(w)
    return (
        bars.withColumn("fwd_max_high", F.when(cnt >= horizon, F.max("high").over(w)))
        .withColumn("fwd_min_low", F.when(cnt >= horizon, F.min("low").over(w)))
        .withColumn("mfe_long", F.col("fwd_max_high") - F.col("close"))
        .withColumn("mae_long", F.col("close") - F.col("fwd_min_low"))
    )
