"""Per-query profiling for the optimization rounds (guide §1).

For every benched query (HEADLINE + LLM_PIPELINE) this captures, in ONE
session configured exactly like bench.py's sf0.1 section:

- best-of-3 noop-sink wall (same methodology as bench.py),
- number of Spark jobs / stages / tasks the action runs, and its shuffle
  and spill bytes (``obs.run``, scoped by job group) — the per-job
  scheduling floor is ~45 ms, so job and stage counts ARE the cost model
  at this SF,
- ``explain("formatted")`` written to ``plans/<round>/<query>_<tag>.txt``
  (round dir from ``$BFDL_PLANS_ROUND``, default r13)
  plus one-line plan-shape stats (Exchange / Sort / BatchEvalPython /
  ArrowEvalPython / codegen-span counts) for the plan-diff evidence.

Usage: python scripts/profile_bench.py <tag> [query ...]
  tag: suffix for the plan files (before / after)
  query list: default = all HEADLINE + LLM_PIPELINE queries
Writes PROFILE_<tag>.json at the repo root.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_stats(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)) - len(
            re.findall(r"SortAggregate|SortMergeJoin", plan)
        ),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "batch_eval_python": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_eval_python": len(re.findall(r"ArrowEvalPython", plan)),
        "map_in_arrow": len(re.findall(r"MapInArrow|MapInPandas", plan)),
        "flatmap_groups": len(re.findall(r"FlatMapGroupsInPandas|FlatMapGroupsInArrow", plan)),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:] or None

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench as B
    from binance_futures_data_lake_spark import obs
    from binance_futures_data_lake_spark.plans import driver_queries as DQ
    from binance_futures_data_lake_spark.session import BENCH_CONFS, get_spark

    spark = get_spark("bfdl-profile", overrides=BENCH_CONFS)

    names = only or (B.HEADLINE + B.LLM_PIPELINE)
    plans_dir = os.path.join(
        REPO, "plans", os.environ.get("BFDL_PLANS_ROUND", "r13")
    )
    os.makedirs(plans_dir, exist_ok=True)

    # warmup (same as bench)
    obs.force(DQ.QUERIES["ohlcv_5m"](spark, sf_dir))
    obs.force(DQ.QUERIES["ema_per_user"](spark, sf_dir))

    out: dict[str, dict] = {}
    for name in names:
        df = DQ.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        stats = plan_stats(plan)

        obs.force(DQ.QUERIES[name](spark, sf_dir))  # warm pass (JIT)
        rec = obs.run(
            spark, name, lambda name=name: DQ.QUERIES[name](spark, sf_dir), repeat=3
        )
        per_run_jobs = rec["jobs"] / 3.0
        out[name] = {
            "best_sec": round(rec["best_s"], 4),
            "median_sec": round(rec["median_s"], 4),
            "jobs_per_run": round(per_run_jobs, 1),
            "stages_3runs": rec["stages"],
            "tasks_3runs": rec["tasks"],
            "shuffle_write_bytes_3runs": rec["shuffle_write_bytes"],
            "spill_bytes_3runs": rec["memory_spilled_bytes"] + rec["disk_spilled_bytes"],
            **stats,
        }
        print(
            f"{name:32s} {rec['best_s']:7.3f}s  jobs/run {per_run_jobs:5.1f} "
            f"stages {rec['stages']:4d} tasks {rec['tasks']:5d}  "
            f"ex {stats['exchanges']} sorts {stats['sorts']} "
            f"py {stats['batch_eval_python']}/{stats['arrow_eval_python']}"
            f"/{stats['map_in_arrow']}/{stats['flatmap_groups']}",
            flush=True,
        )

    path = os.path.join(REPO, f"PROFILE_{tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
