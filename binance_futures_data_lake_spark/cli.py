"""CLI parity layer: ``python -m binance_futures_data_lake_spark <cmd>``.

Reference surface (src/bfdl/cli/collect.py:29-87, cli/aggregate.py:39-106;
cli/validate.py is an empty placeholder upstream — here it is the blocking
audit the reference runs via ``python -m bfdl.transforms.audit_derived``):

    collect    poll klines pages into the raw staging lake (S1 + S2/S3)
    compact    fold staging into canonical (the daily job's merge step)
    aggregate  derive m5/h1/h4 bars from raw M1 (anti-lookahead,
               complete buckets only)
    validate   integrity audit (dups / monotonicity / grid gaps / bar
               invariants); exit code 0 iff every audited table is clean

Multi-symbol by default via a minimal ``symbols.yml`` (same two-line
format the reference parses without PyYAML: ``symbols:`` then ``- SYM``
items). ``--symbol`` overrides. Symbols run serially, as upstream.

Layout under ``--base-dir`` mirrors the reference
(data/raw/binance_um/klines_m1, data/derived/binance_um/klines_{tf}),
with each dataset a Hive-partitioned lake root (lake.py layout).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections.abc import Sequence

TF_MINUTES = {"m5": 5, "h1": 60, "h4": 240}
BINANCE_UM_BASE_URL = "https://fapi.binance.com"
KLINES_ENDPOINT = "/fapi/v1/klines"


def raw_root(base_dir: str) -> str:
    return os.path.join(base_dir, "data", "raw", "binance_um", "klines_m1")


def derived_root(base_dir: str, tf: str) -> str:
    return os.path.join(base_dir, "data", "derived", "binance_um", f"klines_{tf}")


def read_symbols_file(path: str) -> list[str]:
    """Minimal symbols.yml parser (cli/collect.py:36-66 semantics): lines
    of ``- SYM`` under ``symbols:``, comments/blank skipped, upper-cased,
    order-preserving dedup. No YAML dependency."""
    if not os.path.exists(path):
        return []
    out: list[str] = []
    seen: set[str] = set()
    with open(path, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    for raw in lines:
        line = raw.strip()
        if not line or line.startswith("#") or not line.startswith("- "):
            continue
        sym = line[2:].strip().strip('"').strip("'").upper()
        if sym and sym not in seen:
            out.append(sym)
            seen.add(sym)
    return out


def _resolve_symbols(args) -> list[str]:
    if args.symbol:
        return [args.symbol.upper()]
    syms = read_symbols_file(os.path.join(args.base_dir, args.symbols_file))
    if not syms:
        print(f"[KO] no symbols (file: {args.symbols_file})", file=sys.stderr)
    return syms


def _get_spark(app: str):
    from binance_futures_data_lake_spark.session import get_spark

    return get_spark(f"bfdl-cli-{app}")


def cmd_collect(args, transport=None) -> int:
    from binance_futures_data_lake_spark.sources.poll import PollConfig, http_transport, poll_pages

    symbols = _resolve_symbols(args)
    if not symbols:
        return 2
    spark = _get_spark("collect")
    transport = transport or http_transport(BINANCE_UM_BASE_URL, KLINES_ENDPOINT)
    root = raw_root(args.base_dir)
    rc = 0
    for sym in symbols:
        cfg = PollConfig(
            symbol=sym,
            root=root,
            start_ms=args.start_ms,
            end_ms=args.end_ms,
            max_pages=args.max_pages,
            sleep_sec=args.sleep_sec,
            checkpoint_key=f"next_start_time_ms.{sym}",
        )
        res = poll_pages(spark, transport, cfg)
        print(json.dumps(res))
        if res["stop"] not in ("up_to_date", "empty_page", "end_date", "page_budget"):
            rc = 1
    return rc


def cmd_compact(args) -> int:
    from binance_futures_data_lake_spark.sources import lake

    spark = _get_spark("compact")
    roots = [raw_root(args.base_dir)] + [derived_root(args.base_dir, tf) for tf in TF_MINUTES]
    for root in roots:
        if os.path.exists(os.path.join(root, "_staging")) or os.path.exists(root):
            n = lake.compact_staging(spark, root)
            print(json.dumps({"root": root, "rows_folded": int(n)}))
    return 0


def cmd_aggregate(args) -> int:
    from pyspark.sql import functions as F

    from binance_futures_data_lake_spark.operators.maintenance import audit_klines
    from binance_futures_data_lake_spark.operators.resample import resample_bars
    from binance_futures_data_lake_spark.sources import lake

    symbols = _resolve_symbols(args)
    if not symbols:
        return 2
    tfs = list(TF_MINUTES) if args.tf == "all" else [args.tf]
    spark = _get_spark("aggregate")
    # symbol is a Hive partition column — this filter partition-prunes
    raw = lake.read_lake(spark, raw_root(args.base_dir)).filter(F.col("symbol").isin(symbols))
    rc = 0
    for tf in tfs:
        bars = resample_bars(raw, TF_MINUTES[tf], complete_only=True)
        out = derived_root(args.base_dir, tf)
        lake.write_canonical(bars.drop("count_base"), out)
        lake.write_meta(out, {"tf": tf, "n_minutes": TF_MINUTES[tf], "source": "klines_m1"})
        print(json.dumps({"tf": tf, "root": out}))
        if args.audit:
            rep = audit_klines(
                lake.read_lake(spark, out), step_ms=TF_MINUTES[tf] * 60_000
            )
            print(json.dumps({"tf": tf, "audit": rep}))
            if not rep["ok"]:
                rc = 1
    return rc


def cmd_plot(args) -> int:
    """S15 plot sink as a CLI verb. ``--mode weekly`` (default): weekly
    candles per symbol (reference plot_weekly_candles_v1.py). ``--mode
    ranges``: H1 bars with detected-range box overlays (reference
    plot_detected_ranges_v1.py) — narrow-range candidate islands expanded
    by containment, colored by breakout status."""
    from binance_futures_data_lake_spark.operators.plotsink import (
        plot_detected_ranges,
        plot_weekly_candles,
    )
    from binance_futures_data_lake_spark.sources import lake

    symbols = _resolve_symbols(args)
    if not symbols:
        return 2
    spark = _get_spark("plot")
    raw = lake.read_lake(spark, raw_root(args.base_dir))
    os.makedirs(args.out_dir, exist_ok=True)
    for sym in symbols:
        if args.mode == "ranges":
            from binance_futures_data_lake_spark.operators.resample import (
                resample_bars,
            )

            bars = resample_bars(raw, 60, ["symbol"], complete_only=False)
            path = os.path.join(args.out_dir, f"detected_ranges_{sym}.svg")
            plot_detected_ranges(
                bars, ["symbol"], sym, path, ts_col="ts",
                title=f"{sym} Detected Ranges (H1)",
            )
        else:
            path = os.path.join(args.out_dir, f"weekly_candles_{sym}.svg")
            plot_weekly_candles(
                raw, ["symbol"], sym, path,
                value_col="close", max_weeks=args.max_weeks,
                title=f"{sym} Weekly Candles",
            )
        print(json.dumps({"symbol": sym, "wrote": path}))
    return 0


def cmd_validate(args) -> int:
    from binance_futures_data_lake_spark.operators.maintenance import audit_klines
    from binance_futures_data_lake_spark.sources import lake

    spark = _get_spark("validate")
    targets = {"m1": (raw_root(args.base_dir), 60_000)}
    for tf, n in TF_MINUTES.items():
        root = derived_root(args.base_dir, tf)
        if os.path.exists(root):
            targets[tf] = (root, n * 60_000)
    if args.tf != "all":
        targets = {k: v for k, v in targets.items() if k == args.tf}
    rc = 0
    for name, (root, step) in targets.items():
        rep = audit_klines(lake.read_lake(spark, root), step_ms=step)
        print(json.dumps({"table": name, "audit": rep}))
        if not rep["ok"]:
            rc = 1
    return rc


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="binance_futures_data_lake_spark",
        description="Spark-native binance futures data lake: collect / compact / aggregate / validate.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--base-dir", default=os.getcwd())
        sp.add_argument("--symbol", default=None, help="single-symbol override")
        sp.add_argument("--symbols-file", default=os.path.join("config", "symbols.yml"))

    c = sub.add_parser("collect", help="poll klines pages into raw staging")
    common(c)
    c.add_argument("--start-ms", type=int, default=None, help="genesis if no checkpoint")
    c.add_argument("--end-ms", type=int, default=None)
    c.add_argument("--max-pages", type=int, default=None)
    c.add_argument("--sleep-sec", type=float, default=0.15)

    k = sub.add_parser("compact", help="fold staging into canonical")
    common(k)

    a = sub.add_parser("aggregate", help="derive m5/h1/h4 from raw M1")
    common(a)
    a.add_argument("--tf", default="all", choices=["all", *TF_MINUTES])
    a.add_argument("--audit", action="store_true")

    v = sub.add_parser("validate", help="blocking integrity audit")
    common(v)
    v.add_argument("--tf", default="all", choices=["all", "m1", *TF_MINUTES])

    pl = sub.add_parser("plot", help="SVG chart export (S15 sink)")
    common(pl)
    pl.add_argument("--out-dir", default=os.path.join(os.getcwd(), "plots"))
    pl.add_argument("--max-weeks", type=int, default=200)
    pl.add_argument("--mode", default="weekly", choices=["weekly", "ranges"])
    return p


def main(argv: Sequence[str] | None = None, transport=None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "collect":
        return cmd_collect(args, transport=transport)
    if args.cmd == "compact":
        return cmd_compact(args)
    if args.cmd == "aggregate":
        return cmd_aggregate(args)
    if args.cmd == "validate":
        return cmd_validate(args)
    if args.cmd == "plot":
        return cmd_plot(args)
    raise SystemExit(2)
