"""Run records from obs.py, read from the status store with the UI off."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark import obs


def _group_by(spark):
    return spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count()


def test_ui_is_off(spark):
    assert spark.sparkContext.uiWebUrl is None


def test_group_by_record_reports_shuffle(spark):
    rec = obs.run(spark, "group_by", lambda: _group_by(spark), repeat=2)
    assert len(rec["wall_s"]) == len(rec["build_s"]) == 2
    assert rec["best_s"] == min(rec["wall_s"])
    assert all(b <= w for b, w in zip(rec["build_s"], rec["wall_s"]))
    assert rec["shuffle_write_bytes"] > 0
    assert rec["shuffle_read_bytes"] > 0
    assert rec["jobs"] > 0 and rec["stages"] > 0 and rec["tasks"] > 0
    assert rec["stages"] == len(rec["stage_rows"])


def test_map_only_record_has_no_shuffle(spark):
    rec = obs.run(
        spark, "map_only",
        lambda: spark.range(20_000).select((F.col("id") * 2).alias("x")),
    )
    assert rec["shuffle_write_bytes"] == 0
    assert rec["shuffle_read_bytes"] == 0
    assert rec["jobs"] > 0 and rec["tasks"] > 0


def test_identical_runs_report_equal_counts(spark):
    a = obs.run(spark, "same", lambda: _group_by(spark))
    spark.range(10).collect()  # a job outside any record
    b = obs.run(spark, "same", lambda: _group_by(spark))
    assert (a["jobs"], a["stages"], a["tasks"]) == (
        b["jobs"], b["stages"], b["tasks"]
    )
    assert a["shuffle_write_bytes"] == b["shuffle_write_bytes"]


def test_app_totals_cover_a_group(spark):
    rec = obs.run(spark, "app", lambda: _group_by(spark))
    app = obs.stage_totals(spark)
    ids = {(r["stage_id"], r["attempt_id"]) for r in app["stage_rows"]}
    assert {(r["stage_id"], r["attempt_id"]) for r in rec["stage_rows"]} <= ids
    assert app["shuffle_write_bytes"] >= rec["shuffle_write_bytes"] > 0


def test_caller_job_group_is_restored(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller's group")
    try:
        obs.run(spark, "inner", lambda: spark.range(5))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"

        def boom():
            raise RuntimeError("thunk failed")

        with pytest.raises(RuntimeError):
            obs.run(spark, "inner", boom)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    obs.run(spark, "inner", lambda: spark.range(5))
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def _fact_and_dim(spark):
    fact = spark.range(20_000).select((F.col("id") % 5_000).alias("k"), "id")
    dim = spark.range(5_000).select(F.col("id").alias("dk"))
    return fact, dim


def test_plain_join_does_shuffle(spark):
    """A sort-merge join shuffles both sides, and the counter sees both."""
    fact, dim = _fact_and_dim(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = fact.join(dim, fact.k == dim.dk)
        assert obs.exchange_count(j) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_exchange_count_ignores_broadcast(spark):
    """BroadcastExchange must not be counted as a shuffle."""
    fact, dim = _fact_and_dim(spark)
    j = fact.join(F.broadcast(dim), fact.k == dim.dk)
    # one side may still pre-shuffle under AQE coalescing rules, but the
    # broadcast itself must contribute zero
    assert obs.exchange_count(j) <= 1


def test_exchange_count_sees_round_robin(spark):
    """A plain repartition(n) shuffles via RoundRobinPartitioning — the
    counter must see it, or a zero-shuffle assertion could pass falsely."""
    df = spark.range(1000).repartition(4)
    assert obs.exchange_count(df) == 1
