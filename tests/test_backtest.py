"""Backtest kernel golden tests: hand-constructed bar scenarios with known
trade outcomes (exact R multiples and exit reasons), plus the full §3.3
pipeline → sweep integration smoke."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.backtest import (
    Cfg,
    mae_mfe,
    run_sweep,
    sweep_stats,
)
from binance_futures_data_lake_spark.plans.pipeline import joined_research_frame
from binance_futures_data_lake_spark.operators.regime import VolRegimeParams
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1


def _bars(spark, rows):
    cols = [
        "ts", "high", "low", "close", "atr14", "close_pos", "delta_norm",
        "range_rel", "router_mode_h1", "dir_state", "vol_state", "dir_ready",
        "tradable_final", "atr_pct_pctl_h1", "hour_utc", "minute_utc",
    ]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["symbol"] = "AAA"
    return spark.createDataFrame(pdf)


def _quiet(i):
    """A bar that generates no signal and triggers no exit."""
    ts = pd.Timestamp("2024-01-05 15:30:00") + pd.Timedelta(minutes=i)
    return (ts, 100.5, 99.5, 100.0, 1.0, 0.5, 0.0, 0.5,
            "RANGE", "NEUTRAL", "MID", True, True, 0.5, 15, 30)


def test_trend_trade_tp_exact(spark):
    rows = [list(_quiet(i)) for i in range(6)]
    # bar1: TREND long signal → entry close=100, atr=1 → sl 98.4, tp 102.88
    rows[1][8:13] = ["TREND", "BULL", "MID", True, True]
    rows[1][5:8] = [0.8, 0.5, 1.0]  # close_pos, delta_norm, range_rel
    # bar2: TP hit (high ≥ 102.88), stays TREND so no flip
    rows[2][1] = 103.0
    rows[2][8] = "TREND"
    rows[3][8] = "TREND"
    cfg = Cfg(name="t", trend_enabled=True)
    trades = run_sweep(_bars(spark, rows), [cfg]).toPandas()
    assert len(trades) == 1
    t = trades.iloc[0]
    assert t["engine"] == "TREND" and t["side"] == "LONG"
    assert t["exit_reason"] == "TP_TREND"
    assert abs(t["r_mult"] - 1.8) < 1e-9
    assert t["bars_in_trade"] == 1


def test_mr_partial_tp1_then_tp2_exact(spark):
    rows = [list(_quiet(i)) for i in range(8)]
    # bar2: MR long setup (close_pos ≤ 0.25, delta ≤ -0.45, rr ≥ 1.2, BULL)
    rows[2][5:8] = [0.2, -0.5, 1.3]
    rows[2][9] = "BULL"
    # bar3: confirm (delta>0) → entry at close=100, risk = 1.8
    rows[3][5:8] = [0.6, 0.1, 0.5]
    rows[3][9] = "BULL"
    # bar4: TP1 (close_pos 0.55 ≥ 0.5) at close=101 → piece 0.5·(1/1.8)
    rows[4][2:6] = [99.9, 101.0, 1.0, 0.55]
    rows[4][1] = 101.5
    # bar5: TP2 (close_pos 0.65 ≥ 0.6) at close=102 → piece 0.5·(2/1.8)
    rows[5][2:6] = [100.5, 102.0, 1.0, 0.65]
    rows[5][1] = 102.5
    cfg = Cfg(name="m", trend_enabled=False)
    trades = run_sweep(_bars(spark, rows), [cfg]).toPandas()
    assert len(trades) == 1
    t = trades.iloc[0]
    assert t["engine"] == "RANGE" and t["exit_reason"] == "TP2_CP"
    want = 0.5 * (101 - 100) / 1.8 + 0.5 * (102 - 100) / 1.8
    assert abs(t["r_mult"] - want) < 1e-9
    # after TP1 the stop moved to break-even+offset: 100 + 1.8·0.05 = 100.09
    # bar5 low 100.5 > 100.09 so no BE stop-out — covered by reaching TP2


def test_mr_stop_loss_and_flip(spark):
    rows = [list(_quiet(i)) for i in range(8)]
    rows[1][5:8] = [0.2, -0.5, 1.3]
    rows[1][9] = "BULL"
    rows[2][5:8] = [0.6, 0.1, 0.5]
    rows[2][9] = "BULL"
    # bar3: low breaches SL (100 - 1.8 = 98.2)
    rows[3][2] = 98.0
    # second trade: setup at 5, confirm 6, router flips at 7
    rows[5][5:8] = [0.2, -0.5, 1.3]
    rows[5][9] = "BULL"
    rows[6][5:8] = [0.6, 0.1, 0.5]
    rows[6][9] = "BULL"
    rows[7][8] = "TREND"
    cfg = Cfg(name="m", trend_enabled=False)
    trades = run_sweep(_bars(spark, rows), [cfg]).toPandas().sort_values("entry_ts")
    assert list(trades["exit_reason"]) == ["SL", "FLIP_ROUTER"]
    assert abs(trades.iloc[0]["r_mult"] - (-1.0)) < 1e-9


def test_sweep_multi_config_and_stats(spark):
    rows = [list(_quiet(i)) for i in range(6)]
    rows[1][8:13] = ["TREND", "BULL", "MID", True, True]
    rows[1][5:8] = [0.8, 0.5, 1.0]
    rows[2][1] = 103.0
    rows[2][8] = "TREND"
    rows[3][8] = "TREND"
    cfgs = [Cfg(name="with_trend", trend_enabled=True), Cfg(name="no_trend", trend_enabled=False)]
    trades = run_sweep(_bars(spark, rows), cfgs)
    stats = sweep_stats(trades).toPandas().set_index("cfg")
    assert stats.loc["with_trend", "n_trades"] == 1
    assert "no_trend" not in stats.index or stats.loc["no_trend", "n_trades"] == 0
    assert abs(stats.loc["with_trend", "TP_rate"] - 1.0) < 1e-9
    assert stats.loc["with_trend", "pf"] == np.inf


def test_mae_mfe_forward_window(spark):
    rows = [list(_quiet(i)) for i in range(10)]
    for i, (h, l) in enumerate([(101, 99), (105, 98), (102, 97), (103, 96), (101, 99)], start=1):
        rows[i][1], rows[i][2] = float(h), float(l)
    out = (
        mae_mfe(_bars(spark, rows), horizon=3)
        .orderBy("ts")
        .select("fwd_max_high", "fwd_min_low")
        .toPandas()
    )
    assert out["fwd_max_high"].iloc[0] == 105.0  # max high of bars 1-3
    assert out["fwd_min_low"].iloc[0] == 97.0
    assert out["fwd_max_high"].iloc[1] == 105.0  # bars 2-4
    # last 3 bars lack a full horizon → null
    assert out["fwd_max_high"].iloc[-3:].isna().all()


def test_full_pipeline_to_sweep_smoke(spark):
    m1 = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=3 * 1440)
    frame = joined_research_frame(m1, vol_params=VolRegimeParams(lookback=48))
    cols = set(frame.columns)
    need = {
        "ts", "close", "atr14", "close_pos", "delta_norm", "range_rel",
        "dir_state", "dir_score", "dir_ready", "vol_state", "range_pctl",
        "router_mode_h1", "atr_pct_pctl_h1", "tradable_final", "hour_utc",
    }
    assert need <= cols, need - cols
    n = frame.count()
    assert n == 2 * 3 * 1440
    # anti-lookahead: every joined decision column readable without error;
    # run a 2-config sweep end-to-end (trade count may legitimately be 0)
    trades = run_sweep(
        frame, [Cfg(name="a"), Cfg(name="b", session_hours="0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20,21,22,23", minute_guard=0)]
    )
    stats = sweep_stats(trades)
    stats.collect()
    assert set(trades.columns) >= {"cfg", "engine", "side", "r_mult", "exit_reason", "symbol"}


def test_cooldown_after_loss_blocks_reentry(spark):
    """backtest_router_event_v1_1.py:64-66,264-270: after a LOSING close at
    bar i, entries are blocked while i <= cooldown_until (= loss bar +
    cooldown_after_loss); a winning close sets no cooldown."""
    rows = [list(_quiet(i)) for i in range(12)]
    # bar1: TREND long entry (close=100, atr=1 -> sl 98.4)
    rows[1][8:13] = ["TREND", "BULL", "MID", True, True]
    rows[1][5:8] = [0.8, 0.5, 1.0]
    # bar2: SL hit (low <= 98.4) -> loss, r = -1
    rows[2][2] = 98.0
    rows[2][8] = "TREND"
    # bars 3..6: fresh TREND long signals every bar — all inside cooldown 4
    for j in range(3, 7):
        rows[j][8:13] = ["TREND", "BULL", "MID", True, True]
        rows[j][5:8] = [0.8, 0.5, 1.0]
    # bar 7: signal AFTER cooldown expiry (2 + 4 = 6 -> entry ok at 7)
    rows[7][8:13] = ["TREND", "BULL", "MID", True, True]
    rows[7][5:8] = [0.8, 0.5, 1.0]
    # bar 8: TP bar closes whichever position is open (tp = 102.88)
    rows[8][1] = 103.0
    for j in range(8, 12):
        rows[j][8] = "TREND"  # keep router TREND: no flip exit

    with_cd = Cfg(name="cd", cooldown_after_loss=4)
    no_cd = Cfg(name="nocd")
    trades = run_sweep(_bars(spark, rows), [with_cd, no_cd]).toPandas()
    cd = trades[trades["cfg"] == "cd"].sort_values("entry_ts")
    nocd = trades[trades["cfg"] == "nocd"].sort_values("entry_ts")
    assert len(cd) == 2 and len(nocd) == 2
    # without cooldown: loss at bar2 then immediate re-entry at bar3
    assert pd.Timestamp(nocd.iloc[1]["entry_ts"]).minute == 33  # bar3
    # with cooldown: next entry deferred to bar7
    assert pd.Timestamp(cd.iloc[1]["entry_ts"]).minute == 37  # bar7
    # gross r_mult identical accounting; first trade is the -1R stop in both
    assert abs(cd.iloc[0]["r_mult"] + 1.0) < 1e-9


def test_cost_nets_pnl_r(spark):
    """cost_r_per_trade nets a roundtrip cost out of pnl_r; r_mult stays
    gross (the simulator charges equity at entry, :272-275)."""
    rows = [list(_quiet(i)) for i in range(6)]
    rows[1][8:13] = ["TREND", "BULL", "MID", True, True]
    rows[1][5:8] = [0.8, 0.5, 1.0]
    rows[2][1] = 103.0
    rows[2][8] = "TREND"
    rows[3][8] = "TREND"
    trades = run_sweep(
        _bars(spark, rows), [Cfg(name="c", cost_r_per_trade=0.05)]
    ).toPandas()
    t = trades.iloc[0]
    assert abs(t["r_mult"] - 1.8) < 1e-9
    assert abs(t["pnl_r"] - 1.75) < 1e-9


def test_equity_curve_and_metrics_match_reference_loop(spark):
    """equity_curve/with_drawdown reproduce the in-loop
    accounting of backtest_router_event_v1_1.run_backtest on a hand case:
    equity at bar i is the value BEFORE bar i's events."""
    import datetime as dt

    from binance_futures_data_lake_spark.operators.backtest import (
        equity_curve,
        with_drawdown,
    )

    t0 = dt.datetime(2024, 1, 1)
    bars = spark.createDataFrame(
        [("AAA", t0 + dt.timedelta(hours=i)) for i in range(6)], ["cfg", "ts"]
    )
    # trade1 enters bar1 exits bar2 with +2R; trade2 enters bar3 exits bar4 -1R
    trades = spark.createDataFrame(
        [
            ("AAA", t0 + dt.timedelta(hours=1), t0 + dt.timedelta(hours=2), 2.0, 1.9),
            ("AAA", t0 + dt.timedelta(hours=3), t0 + dt.timedelta(hours=4), -1.0, -1.1),
        ],
        ["cfg", "entry_ts", "exit_ts", "r_mult", "pnl_r"],
    )
    eq = equity_curve(bars, trades, by=["cfg"], cost_r_per_trade=0.1)
    vals = {r["ts"].hour: r["equity_r"] for r in eq.collect()}
    # reference loop: curve[i] = equity before bar i events
    # bar0: 1.0; bar1: 1.0 (entry cost hits during bar1); bar2: 0.9;
    # bar3: 2.9 (+2R exit during bar2); bar4: 2.8 (entry cost bar3);
    # bar5: 1.8 (-1R exit during bar4)
    assert {h: round(v, 6) for h, v in vals.items()} == {
        0: 1.0, 1: 1.0, 2: 0.9, 3: 2.9, 4: 2.8, 5: 1.8,
    }
    dd = with_drawdown(eq, ["cfg"]).collect()
    assert max(r["drawdown_r"] for r in dd) == pytest.approx(1.1)  # 2.9 -> 1.8


def test_router_gate_derivation_and_sweep_consumption(spark):
    """build_router_gate_from_audit_v1.py: strict alignment -> allow flags
    and size ladder; with_router_gate as-of joins the derived gate into
    the sweep (replacing _gate_defaults) and actually gates entries."""
    from binance_futures_data_lake_spark.operators.backtest import with_router_gate
    from binance_futures_data_lake_spark.operators.structure import (
        router_gate_from_cases,
    )

    t0 = pd.Timestamp("2024-01-05 15:00:00").to_pydatetime()
    cases = spark.createDataFrame(
        [
            # aligned bull, full confluence 10 -> allow_long, size 1.0
            ("AAA", t0, 1, 1, 1, 1, "TREND_CONTINUATION_LONG"),
            # aligned except H4 neutral (score 8 -> 0.75), H4 not opposed
            ("BBB", t0, 1, 1, 0, 1, "TREND_CONTINUATION_LONG"),
            # H4 opposed -> strict long fails
            ("CCC", t0, 1, 1, -1, 1, "PULLBACK_LONG_IN_BULL_TREND"),
            # chaos case: aligned dirs impossible, size hard 0
            ("DDD", t0, 1, -1, 1, 1, "CHAOS_CONFLICT_TF"),
        ],
        ["symbol", "ts", "dir_w", "dir_d", "dir_h4", "dir_h1", "case"],
    )
    g = router_gate_from_cases(cases).toPandas().set_index("symbol")
    assert g.loc["AAA", "allow_long"] == 1 and g.loc["AAA", "size_mult_long"] == 1.0
    assert g.loc["BBB", "allow_long"] == 1 and g.loc["BBB", "size_mult_long"] == 0.75
    assert g.loc["CCC", "allow_long"] == 0 and g.loc["CCC", "size_mult_long"] == 0.0
    assert g.loc["DDD", "size_mult_base"] == 0.0
    assert g.loc["AAA", "gate_direction"] == "LONG"
    assert g.loc["CCC", "gate_direction"] == "NONE"
    assert g.loc["AAA", "dir_stack"] == "LONG|LONG|LONG|LONG"

    # sweep consumption: same TREND-long scenario per symbol; only the
    # symbols whose derived gate allows longs may trade
    def mk(symbol):
        rows = [list(_quiet(i)) for i in range(6)]
        rows[1][8:13] = ["TREND", "BULL", "MID", True, True]
        rows[1][5:8] = [0.8, 0.5, 1.0]
        rows[2][1] = 103.0
        rows[2][8] = "TREND"
        rows[3][8] = "TREND"
        pdf = pd.DataFrame(rows, columns=[
            "ts", "high", "low", "close", "atr14", "close_pos", "delta_norm",
            "range_rel", "router_mode_h1", "dir_state", "vol_state", "dir_ready",
            "tradable_final", "atr_pct_pctl_h1", "hour_utc", "minute_utc",
        ])
        pdf["symbol"] = symbol
        return pdf

    bars = spark.createDataFrame(
        pd.concat([mk(s) for s in ["AAA", "CCC", "DDD"]], ignore_index=True)
    )
    gate = router_gate_from_cases(cases)
    gated = with_router_gate(bars, gate, by=["symbol"])
    trades = run_sweep(gated, [Cfg(name="g")]).toPandas()
    assert set(trades["symbol"]) == {"AAA"}  # CCC gate-denied, DDD size 0


def test_event_kernel_break_even_semantics(spark):
    """Event simulator (backtest_router_event_v1_1.py:305-321): once
    unrealized R >= mr_break_even_at_r, the stop moves to entry (offset 0)
    BEFORE the bar's SL check — a later dip to entry exits at exactly 0R;
    without BE the same path would ride to the original stop."""
    import datetime as dt

    from binance_futures_data_lake_spark.operators.backtest import (
        EventParams,
        run_event_backtest,
    )

    t0 = dt.datetime(2024, 1, 5, 15, 0)
    # columns: ts, high, low, close, atr14, close_pos, delta_norm,
    #          range_rel, router, dir_state, vol_state, dir_ready, tradable
    def bar(i, high, low, close, cp=0.5, dn=0.0, rr=0.5):
        return ("AAA", t0 + dt.timedelta(minutes=i), float(high), float(low),
                float(close), 1.0, cp, dn, rr, "RANGE", "BULL", "MID", True, True)

    rows = [
        bar(0, 100.5, 99.5, 100.0),
        # bar1: MR long SETUP (cp<=0.2, dn<=-0.2, rr>=0.8, BULL)
        bar(1, 100.5, 99.5, 100.0, cp=0.1, dn=-0.5, rr=1.0),
        # bar2: confirm (dn>0) -> ENTRY at close 100; atr 1 -> sl 99.2,
        # risk 0.8, tp 100.96
        bar(2, 100.5, 99.5, 100.0, cp=0.6, dn=0.1),
        # bar3: close 100.6 -> unrealized (100.6-100)/0.8 = 0.75R >= 0.6 ->
        # BE arms, sl -> 100.0 (high stays < tp 100.96)
        bar(3, 100.9, 100.2, 100.6),
        # bar4: dip to 99.9 <= BE stop 100.0 -> SL exit at 100.0, r = 0
        bar(4, 100.4, 99.9, 100.1),
    ]
    cols = ["symbol", "ts", "high", "low", "close", "atr14", "close_pos",
            "delta_norm", "range_rel", "router_mode_h1", "dir_state",
            "vol_state", "dir_ready", "tradable_final"]
    bars = spark.createDataFrame(rows, cols)
    with_be = run_event_backtest(bars, EventParams(), by=["symbol"]).toPandas()
    assert len(with_be) == 1
    t = with_be.iloc[0]
    assert t["engine"] == "RANGE" and t["exit_reason"] == "SL"
    assert t["sl_price"] == 100.0      # the BE-moved stop
    assert abs(t["r_mult"]) < 1e-12    # exits at exactly 0R
    # same path with BE disabled: bar4 low 99.9 > original stop 99.2 -> no
    # exit there; position survives to the data edge with no trade emitted
    no_be = run_event_backtest(
        bars, EventParams(mr_break_even_at_r=None), by=["symbol"]
    ).toPandas()
    assert len(no_be) == 0
