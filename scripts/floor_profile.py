"""Profile the sf0.1 SERIAL per-query floor (VERDICT r4 next-steps #7).

At sf0.1 the serial suite is floor-dominated (~45 ms/query x 30 queries);
this script decomposes that floor and A/Bs the runtime levers that could
plausibly shave it, so BASELINE.md can either record a win or declare the
floor closed with evidence.

Decomposition (bench session, sf0.1):
- ``range1_noop``       noop-write of spark.range(1): job submit + write
                        command + 1-task launch — the irreducible action floor
- ``range1_count``      same plan through .count() (no write command)
- ``scan_count``        lineitem parquet scan + count (adds IO + 2nd stage)
- ``cached_plan_rerun`` warm re-run of a cheap cached registry plan
                        (top_orders): the actual per-query serial cost

Conf A/B (fresh SparkContext per variant, same 30-query warm serial total
as bench.py): baseline bench confs vs locality.wait=0 vs shuffle
partitions 4 vs both. Reads ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    from binance_futures_data_lake_spark import obs
    from binance_futures_data_lake_spark.plans import driver_queries as DQ
    from binance_futures_data_lake_spark.session import BENCH_CONFS, get_spark

    out: dict = {}

    spark = get_spark("bfdl-floor", overrides=BENCH_CONFS)

    def best_and_p50_ms(label, thunk, n=20):
        rec = obs.run(spark, label, thunk, repeat=n)
        return round(rec["best_s"] * 1000, 2), round(rec["median_s"] * 1000, 2)

    r1 = spark.range(1)
    obs.force(r1)  # warm noop source + codegen
    out["range1_noop_ms"] = best_and_p50_ms("range1_noop", lambda: r1)
    r1.count()
    out["range1_count_ms"] = best_and_p50_ms("range1_count", r1.count)
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    li.count()
    out["scan_count_ms"] = best_and_p50_ms("scan_count", li.count)
    q = DQ.QUERIES["top_orders"](spark, SF_DIR)
    obs.force(q)
    out["cached_plan_rerun_ms"] = best_and_p50_ms("cached_plan_rerun", lambda: q, n=10)

    spark.stop()

    # conf A/B over the serial warm suite
    names = [n for n in (
        "ohlcv_5m", "ohlcv_1h_right_closed", "true_range_atr", "rolling_stats",
        "cumsum_runmax", "vwap_daily", "ema_per_user", "lag_lead_returns",
        "asof_user_hourly", "gap_ranges_hourly", "dedup_keep_last",
        "pricing_summary", "revenue_by_nation", "top_orders", "brand_volume",
        "quantile_value_by_type", "doc_exact_dedup", "lang_stats",
        "user_sessions", "events_pivot_daily",
    )]
    variants = {
        "baseline": {},
        "locality0": {"spark.locality.wait": "0"},
        "shufpart4": {"spark.sql.shuffle.partitions": "4"},
        "locality0_shufpart4": {
            "spark.locality.wait": "0", "spark.sql.shuffle.partitions": "4",
        },
    }
    out["suite20_serial_ms"] = {}
    for label, extra in variants.items():
        spark = get_spark(f"bfdl-floor-{label}", overrides={**BENCH_CONFS, **extra})
        for n in names:  # warm pass: plan build + JIT
            obs.force(DQ.QUERIES[n](spark, SF_DIR))
        rec = obs.run(
            spark, f"suite20-{label}",
            lambda: [obs.force(DQ.QUERIES[n](spark, SF_DIR)) for n in names],
            repeat=3,
        )
        out["suite20_serial_ms"][label] = round(rec["best_s"] * 1000, 1)
        spark.stop()

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
