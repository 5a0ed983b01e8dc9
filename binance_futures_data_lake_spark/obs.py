"""Run records: what a Spark action did, read with the Spark UI off.

Every harness (bench.py, scripts/, scale_check.py) times and inspects its
runs through ``run`` and ``stage_totals`` instead of its own timer loop or
a REST scrape. Stages come from the application status store, which Spark
keeps whether or not the UI runs. The store retains only the last
``spark.ui.retainedJobs``/``retainedStages`` (1000 each), so read a
record right after its runs. ``exchange_count`` audits a plan's shuffles.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

_TOTALS = {
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spilled_bytes": "memoryBytesSpilled",
    "disk_spilled_bytes": "diskBytesSpilled",
    "peak_execution_memory_bytes": "peakExecutionMemory",
}

# local properties SparkContext.setJobGroup sets; run() restores them
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def force(df: DataFrame) -> None:
    """Execute every column of ``df`` with the noop sink (a bare ``count()``
    lets Catalyst prune derived columns)."""
    df.write.format("noop").mode("overwrite").save()


def _complete_stages(spark: SparkSession, group: str | None) -> list[dict]:
    """COMPLETE stage attempts as the REST API's StageData JSON, serialized
    in one JVM call with the Jackson mapper the REST API itself uses."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    complete = jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE
    if group is None:
        statuses = jvm.java.util.ArrayList()
        statuses.add(complete)
        stages = store.stageList(
            statuses, False, False, sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
    else:
        tracker = sc.statusTracker()
        stage_ids = {
            sid
            for jid in tracker.getJobIdsForGroup(group)
            # getJobInfo is None once the job is evicted from the store
            for sid in getattr(tracker.getJobInfo(jid), "stageIds", ())
        }
        stages = jvm.java.util.ArrayList()
        for sid in sorted(stage_ids):
            try:
                attempt = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: evicted
                continue
            if attempt.status() == complete:
                stages.add(attempt)
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return json.loads(mapper.writeValueAsString(stages))


def stage_totals(spark: SparkSession, group: str | None = None) -> dict:
    """Shuffle, spill and peak-memory byte totals over COMPLETE stages of
    the application (``group=None``) or of one job group, plus
    ``stage_rows``: one row per stage attempt, ordered by stage id."""
    rows = sorted(
        (
            {
                "stage_id": s["stageId"],
                "attempt_id": s["attemptId"],
                "name": (s.get("name") or "").split("\n")[0][:80],
                "num_tasks": s["numTasks"],
                "executor_run_ms": s["executorRunTime"],
                **{k: s[src] for k, src in _TOTALS.items()},
            }
            for s in _complete_stages(spark, group)
        ),
        key=lambda r: (r["stage_id"], r["attempt_id"]),
    )
    return {
        **{k: sum(r[k] for r in rows) for k in _TOTALS},
        "stage_rows": rows,
    }


def run(spark: SparkSession, label: str, thunk, repeat: int = 1) -> dict:
    """Run ``thunk`` ``repeat`` times under a job group of its own and
    return its record.

    Each run's timed region is ``thunk()`` (plan build) plus ``force`` of
    what it returns, if that is a DataFrame. The caller's job group is
    restored afterwards, also when ``thunk`` raises. The record holds the
    per-run walls and plan-build seconds, best and median wall, the
    group's job count and its COMPLETE stage and task counts (all runs
    together), and ``stage_totals`` for the group.
    """
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"obs-{label}-{uuid.uuid4().hex[:12]}"
    walls, builds = [], []
    sc.setJobGroup(group, label)
    try:
        for _ in range(repeat):
            t0 = time.perf_counter()
            out = thunk()
            t1 = time.perf_counter()
            if isinstance(out, DataFrame):
                force(out)
            walls.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    totals = stage_totals(spark, group)
    return {
        "label": label,
        "wall_s": [round(w, 6) for w in walls],
        "best_s": round(min(walls), 6),
        "median_s": round(statistics.median(walls), 6),
        "build_s": [round(b, 6) for b in builds],
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "stages": len(totals["stage_rows"]),
        "tasks": sum(r["num_tasks"] for r in totals["stage_rows"]),
        **totals,
    }


def exchange_count(df: DataFrame, execute: bool = True) -> int:
    """Number of SHUFFLE Exchange operators in the final physical plan —
    the plan audit behind the zero- and one-shuffle pins in tests and
    scale_check.py.

    Two sharp edges this helper handles explicitly:

    * With AQE on, ``executedPlan().toString()`` on an un-executed frame
      prints the *initial* ``AdaptiveSparkPlan (isFinalPlan=false)`` — the
      plan AQE may still rewrite. ``execute=True`` (default) materializes
      the plan first (``executedPlan().execute().count()`` runs the query
      JVM-side without copying rows to Python), so the string inspected is
      the final plan.
    * Only shuffle exchanges are counted (``Exchange hashpartitioning`` /
      ``rangepartitioning`` / ``SinglePartition``). ``BroadcastExchange``
      is not a shuffle — a broadcast join moves only the small side — and
      ``ReusedExchange`` references don't re-shuffle. Neither matches
      ``\\bExchange (hash…``.

    Intended for tests and plan audits on bounded frames (``execute=True``
    runs the whole query); pass ``execute=False`` only to inspect a plan
    you have already executed through this exact DataFrame object.
    """
    jqe = df._jdf.queryExecution()
    if execute:
        jqe.executedPlan().execute().count()
    plan = jqe.executedPlan().toString()
    # an executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — count only the plan that actually ran
    plan = plan.split("== Initial Plan ==")[0]
    # Count every Exchange form: hash/range/single for joins+aggs+sorts,
    # RoundRobinPartitioning for plain repartition(n)/rebalance, and
    # PartitioningCollection for composite requirements — a zero-shuffle
    # assertion must not pass just because the shuffle used an unlisted
    # partitioning scheme.
    return len(
        re.findall(
            r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition"
            r"|RoundRobinPartitioning|PartitioningCollection)",
            plan,
        )
    )
