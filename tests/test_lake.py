"""Lake layout round-trip: staged append → compaction (staging wins) →
integrity audit → gap machinery. FIXTURES.md F1 variants (a)-(c)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.gaps import missing_ranges
from binance_futures_data_lake_spark.operators.maintenance import audit_klines
from binance_futures_data_lake_spark.schemas import KLINES_M1_SCHEMA
from binance_futures_data_lake_spark.sources import lake
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="bfdl_lake_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_lake_roundtrip_compact_and_audit(spark, tmp_root):
    df = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=2 * 1440)
    lake.write_canonical(df, tmp_root)

    back = lake.read_lake(spark, tmp_root)
    assert back.count() == 2 * 2 * 1440

    # partition pruning must reach the scan: only AAA/month=1 rows read
    pruned = back.filter((F.col("symbol") == "AAA") & (F.col("month") == 1))
    assert pruned.count() == 2 * 1440

    report = audit_klines(back.drop("year", "month"))
    assert report["ok"], report

    # staged append of an overlapping + corrected slice: staging must win
    patch = (
        df.filter(F.col("open_time_ms") < df.agg(F.min("open_time_ms")).first()[0] + 60 * 60_000)
        .withColumn("close", F.col("close") + 1.0)
    )
    n_patch = patch.count()
    lake.stage_append(patch, tmp_root)
    merged_preview = lake.read_lake(spark, tmp_root).unionByName(_staging(spark, tmp_root))
    assert merged_preview.count() == 2 * 2 * 1440 + n_patch

    folded = lake.compact_staging(spark, tmp_root)
    assert folded == n_patch
    after = lake.read_lake(spark, tmp_root)
    assert after.count() == 2 * 2 * 1440  # dedup kept one row per key
    # staging version (close+1) won
    orig_first = df.orderBy("open_time_ms").filter(F.col("symbol") == "AAA").first()
    new_first = after.orderBy("open_time_ms").filter(F.col("symbol") == "AAA").first()
    assert abs(new_first["close"] - (orig_first["close"] + 1.0)) < 1e-9

    report2 = audit_klines(after.drop("year", "month"))
    assert report2["ok"], report2


def _staging(spark, root):
    return spark.read.schema(KLINES_M1_SCHEMA).parquet(lake.staging_path(root))


def test_lake_reads_run_no_job_and_match_the_inferred_schema(spark, tmp_root, monkeypatch):
    import uuid

    df = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=60)
    lake.write_canonical(df, tmp_root)
    lake.stage_append(df, tmp_root)
    folded = []
    monkeypatch.setattr(
        lake, "upsert_partitions",
        lambda _s, _p, staged, _keys, _cols, _touched: folded.append(staged),
    )
    monkeypatch.setattr(lake, "_delete", lambda *a: None)
    sc = spark.sparkContext
    group = f"lake-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_lake + compact_staging's staged read")
    try:
        back = lake.read_lake(spark, tmp_root)
        lake.compact_staging(spark, tmp_root)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    inferred = spark.read.parquet(lake.canonical_path(tmp_root))
    assert back.dtypes == folded[0].dtypes == inferred.dtypes
    assert sorted(back.collect()) == sorted(inferred.collect())


def test_read_lake_raises_without_data_files(spark, tmp_root):
    import os

    with pytest.raises(FileNotFoundError):
        lake.read_lake(spark, tmp_root)
    lake.write_canonical(synthetic_klines_m1(spark, symbols=("AAA",), n_minutes=60), tmp_root)
    for d, _, names in os.walk(lake.canonical_path(tmp_root)):
        for n in names:
            if n.endswith(".parquet"):
                os.remove(os.path.join(d, n))
    with pytest.raises(FileNotFoundError):
        lake.read_lake(spark, tmp_root)


def test_write_canonical_replaces_only_covered_partitions(spark, tmp_root):
    df = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=60)
    lake.write_canonical(df, tmp_root)
    # rewrite AAA from a read of the table itself; BBB must stay
    aaa = lake.read_lake(spark, tmp_root).filter(F.col("symbol") == "AAA")
    lake.write_canonical(aaa.drop("year", "month").limit(10), tmp_root)
    counts = dict(lake.read_lake(spark, tmp_root).groupBy("symbol").count().collect())
    assert counts == {"AAA": 10, "BBB": 60}


def test_gap_detection_on_holed_grid(spark, tmp_root):
    df = synthetic_klines_m1(spark, symbols=("AAA",), n_minutes=1440)
    # carve two known holes: minutes [100, 110) and [500, 503)
    t0 = df.agg(F.min("open_time_ms")).first()[0]
    holed = df.filter(
        ~(
            (F.col("open_time_ms") >= t0 + 100 * 60_000)
            & (F.col("open_time_ms") < t0 + 110 * 60_000)
        )
        & ~(
            (F.col("open_time_ms") >= t0 + 500 * 60_000)
            & (F.col("open_time_ms") < t0 + 503 * 60_000)
        )
    )
    report = audit_klines(holed)
    assert not report["ok"]
    assert report["n_missing_grid_rows"] == 13
    ranges = missing_ranges(holed.select("symbol", "ts"), 1.0, ["symbol"]).orderBy("gap_start")
    got = [(r.n_missing, (r.gap_end - r.gap_start).total_seconds()) for r in ranges.collect()]
    assert got == [(10, 9 * 60.0), (3, 2 * 60.0)]


def test_checkpoint_sidecars(tmp_root):
    lake.write_checkpoint(tmp_root, 1700000000000)
    assert lake.read_checkpoint(tmp_root) == 1700000000000
    lake.write_meta(tmp_root, {"symbol": "AAA", "interval": "m1", "anti_lookahead": True})
    assert lake.read_meta(tmp_root)["anti_lookahead"] is True


# --- fix_meta repair tool (reference fix_meta.py:1-33) ----------------------

def test_fix_meta_repairs_corrupt_sidecar(tmp_path):
    import json
    import os

    from binance_futures_data_lake_spark.operators.maintenance import fix_meta
    from binance_futures_data_lake_spark.sources import lake

    root = str(tmp_path)
    p = os.path.join(root, "_meta.json")
    os.makedirs(root, exist_ok=True)
    with open(p, "w") as f:
        f.write("{not json!!")
    res = fix_meta(root, defaults={"symbol": "BTCUSDT", "exchange": "binance",
                                   "market": "um_futures", "interval": "1m"})
    assert res["repaired"] and os.path.exists(p + ".bak")
    meta = lake.read_meta(root)
    assert meta["symbol"] == "BTCUSDT" and "created_at_utc" in meta
    json.load(open(p))  # valid JSON again


def test_fix_meta_fills_missing_keys_keeps_existing(tmp_path):
    from binance_futures_data_lake_spark.operators.maintenance import fix_meta
    from binance_futures_data_lake_spark.sources import lake

    root = str(tmp_path)
    lake.write_meta(root, {"symbol": "ETHUSDT", "created_at_utc": "2026-01-01T00:00:00+00:00"})
    res = fix_meta(root, defaults={"exchange": "binance"})
    assert res["repaired"] and set(res["missing_before"]) == {"exchange", "market", "interval"}
    meta = lake.read_meta(root)
    assert meta["symbol"] == "ETHUSDT"          # kept
    assert meta["exchange"] == "binance"        # default applied
    assert meta["market"] is None               # visibly unknown, not invented
    assert meta["created_at_utc"] == "2026-01-01T00:00:00+00:00"


def test_fix_meta_noop_when_conformant(tmp_path):
    from binance_futures_data_lake_spark.operators.maintenance import fix_meta
    from binance_futures_data_lake_spark.sources import lake

    root = str(tmp_path)
    lake.write_meta(root, {"symbol": "BTCUSDT", "exchange": "binance",
                           "market": "um_futures", "interval": "1m",
                           "created_at_utc": "2026-01-01T00:00:00+00:00"})
    before = lake.read_meta(root)
    res = fix_meta(root)
    assert not res["repaired"]
    assert lake.read_meta(root) == before


def test_load_events_utc_instants_without_tz_side_effect(spark):
    """A hosting session in a non-UTC zone must not shift event instants —
    and load_events must not mutate the session timezone to achieve it
    (ADVICE r3: the r2 fix repinned the session to UTC as a permanent
    side effect; the NTZ conversion is now tz-independent in-plan via
    convert_timezone('UTC', current_timezone(), ts))."""
    from pyspark.sql import functions as F

    from binance_futures_data_lake_spark.sources.testdata import load_events

    sf = "/root/testdata/sf0.001"
    baseline = (
        load_events(spark, sf).select(F.min(F.unix_micros("ts"))).collect()[0][0]
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = (
            load_events(spark, sf).select(F.min(F.unix_micros("ts"))).collect()[0][0]
        )
        assert shifted == baseline
        # the session zone the user picked survives load_events untouched
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# --- audit_klines defect fixture ---------------------------------------------

T0_MS = 1_704_067_200_000  # 2024-01-01 00:00 UTC
MIN_MS = 60_000


def _bars(spark, rows):
    """Klines frame from (symbol, minute, ts_minute, low) rows; every bar is
    valid except where ``low`` is set above min(open, close) = 100.0."""
    data = [
        (s, T0_MS + int(m * MIN_MS), T0_MS + int(tm * MIN_MS), 100.0, 101.0, low,
         100.5, 10.0, 4.0, 7)
        for s, m, tm, low in rows
    ]
    return spark.createDataFrame(
        data,
        "symbol string, open_time_ms long, ts_ms long, open double, high double, "
        "low double, close double, volume_base double, taker_buy_base double, "
        "n_trades long",
    ).withColumn("ts", F.timestamp_millis("ts_ms")).drop("ts_ms")


def _defect_frame(spark):
    aaa = [0, 1, 2, 3, 3, 3, 4, 5, 8, 9, 9.5]  # key 3 tripled, hole 6-7, off-grid 9.5
    return _bars(
        spark,
        [("AAA", m, m, 99.0) for m in aaa]
        + [("BBB", 0, 0, 99.0), ("BBB", 1, 1, 99.0),
           ("BBB", 2, 3, 99.0),     # ts one minute past open_time_ms
           ("BBB", 3, 3, 99.0),
           ("BBB", 4, 4, 102.0)],   # low above the body
    )


DEFECTS = {
    "n_rows": 16,
    "expected_rows": 10 + 5,         # AAA spans 9.5 min -> 10 grid rows
    "n_duplicate_keys": 1,
    "n_non_monotonic": 2,            # the tripled key's two extra rows
    "n_off_grid_steps": 1,
    "n_missing_grid_rows": 2 + 1,    # AAA 6-7; BBB's shifted ts leaves minute 2 empty
    "n_ts_mismatch": 1,
    "n_bar_invariant_violations": 1,
    "ok": False,
}


def test_audit_klines_pins_every_defect(spark):
    df = _defect_frame(spark)
    assert audit_klines(df) == DEFECTS
    assert audit_klines(df.drop("low")) == {**DEFECTS, "n_bar_invariant_violations": None}
    assert audit_klines(df.limit(0)) == {
        **{k: 0 for k in DEFECTS}, "ok": True,
    }


def test_audit_klines_five_minute_grid(spark):
    df = _bars(spark, [("AAA", m, m, 99.0) for m in (0, 5, 10, 20, 20, 21)])
    assert audit_klines(df, step_ms=5 * MIN_MS) == {
        "n_rows": 6,
        "expected_rows": 5,          # 21 min span -> 5.2 grid rows, truncated
        "n_duplicate_keys": 1,
        "n_non_monotonic": 1,
        "n_off_grid_steps": 1,       # 20 -> 21
        "n_missing_grid_rows": 1,    # the 15-minute bucket
        "n_ts_mismatch": 0,
        "n_bar_invariant_violations": 0,
        "ok": False,
    }


def test_audit_klines_without_ts_reads_the_grid_from_open_time(spark):
    df = _defect_frame(spark).drop("ts", "low")
    assert audit_klines(df) == {
        **DEFECTS,
        "n_missing_grid_rows": 2,    # BBB's open times are complete
        "n_ts_mismatch": None,
        "n_bar_invariant_violations": None,
    }


def test_audit_klines_runs_in_two_jobs(spark):
    import uuid

    df = _defect_frame(spark)
    sc = spark.sparkContext
    group = f"audit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "audit_klines")
    try:
        audit_klines(df)
    finally:
        sc._jsc.clearJobGroup()
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


# --- compaction under faults ---------------------------------------------------

def _rows(spark, root):
    return sorted(
        tuple(r) for r in
        lake.read_lake(spark, root).select("symbol", "open_time_ms", "close").collect()
    )


def test_compaction_keeps_rows_staged_during_the_fold(spark, tmp_root, monkeypatch):
    df = synthetic_klines_m1(spark, symbols=("AAA",), n_minutes=120)
    t0 = df.agg(F.min("open_time_ms")).first()[0]
    first = df.filter(F.col("open_time_ms") < t0 + 60 * MIN_MS)
    late = df.filter(F.col("open_time_ms") >= t0 + 60 * MIN_MS)
    lake.stage_append(first, tmp_root)

    real_delete = lake._delete

    def racing_delete(*args):
        # a poll page lands after the fold listed staging, before the delete
        monkeypatch.setattr(lake, "_delete", real_delete)
        lake.stage_append(late, tmp_root)
        real_delete(*args)

    monkeypatch.setattr(lake, "_delete", racing_delete)
    assert lake.compact_staging(spark, tmp_root) == 60
    assert lake.read_lake(spark, tmp_root).count() == 60
    assert lake.compact_staging(spark, tmp_root) == 60  # the late page survived
    assert lake.read_lake(spark, tmp_root).count() == 120
    assert lake.compact_staging(spark, tmp_root) == 0   # no data files left
    preview = lake.read_lake(spark, tmp_root).unionByName(
        _staging(spark, tmp_root), allowMissingColumns=True
    )
    assert preview.count() == 120


def test_compaction_converges_after_crash_before_staging_delete(spark, tmp_root, monkeypatch):
    df = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=120)
    lake.write_canonical(df, tmp_root)
    t0 = df.agg(F.min("open_time_ms")).first()[0]
    patch = df.filter(F.col("open_time_ms") < t0 + 30 * MIN_MS).withColumn(
        "close", F.col("close") + 1.0
    )
    lake.stage_append(patch, tmp_root)

    def crash(*args):
        raise OSError("crash between the canonical write and the staging delete")

    monkeypatch.setattr(lake, "_delete", crash)
    with pytest.raises(OSError):
        lake.compact_staging(spark, tmp_root)
    after_crash = _rows(spark, tmp_root)
    monkeypatch.undo()

    assert lake.compact_staging(spark, tmp_root) == 2 * 30  # staging re-folded
    assert _rows(spark, tmp_root) == after_crash            # staging-wins is idempotent
    assert len(after_crash) == 2 * 120
    assert lake.compact_staging(spark, tmp_root) == 0


def test_upserts_leave_session_conf_unchanged(spark, tmp_root):
    from binance_futures_data_lake_spark.streaming.pipeline import parquet_upsert

    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    before = dict(spark.conf.getAll)
    df = synthetic_klines_m1(spark, symbols=("AAA",), n_minutes=60)
    lake.stage_append(df, tmp_root)
    assert lake.compact_staging(spark, tmp_root) == 60
    assert dict(spark.conf.getAll) == before

    bars = df.select("symbol", "open_time_ms", F.col("ts").alias("bucket_ts"), "close")
    sink = tmp_root + "/bars"
    parquet_upsert(spark, sink, bars, ["symbol", "open_time_ms"])
    parquet_upsert(spark, sink, bars.withColumn("close", F.col("close") + 1.0),
                   ["symbol", "open_time_ms"])
    assert dict(spark.conf.getAll) == before
    assert spark.read.parquet(sink).count() == 60


def test_compact_staging_runs_in_three_jobs(spark, tmp_root):
    import uuid

    df = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=120)
    lake.write_canonical(df, tmp_root)
    lake.stage_append(df.filter(F.col("open_time_ms") % (7 * MIN_MS) == 0), tmp_root)
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compact_staging")
    try:
        lake.compact_staging(spark, tmp_root)
    finally:
        sc._jsc.clearJobGroup()
    # the merge re-read's schema inference, the one shuffle, the write
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert lake.read_lake(spark, tmp_root).count() == 2 * 120


def test_fold_across_a_month_boundary_rewrites_each_month_once(spark, tmp_path):
    import os
    from collections import Counter

    # a root and a symbol that need URI and Hive path escaping
    root = str(tmp_path / "lake root")
    symbols = ("AAA", "B/B %C")
    df = synthetic_klines_m1(spark, symbols=symbols, start="2024-01-31 23:00:00", n_minutes=120)
    lake.write_canonical(df, root)
    t0 = df.agg(F.min("open_time_ms")).first()[0]
    patched = (F.col("open_time_ms") >= t0 + 30 * MIN_MS) & (F.col("open_time_ms") < t0 + 90 * MIN_MS)
    lake.stage_append(df.filter(patched).withColumn("close", F.col("close") + 1.0), root)

    assert lake.compact_staging(spark, root) == 2 * 60
    files = Counter(
        d for d, _, names in os.walk(lake.canonical_path(root)) for n in names if n.endswith(".parquet")
    )
    assert len(files) == 2 * 2 and set(files.values()) == {1}  # symbols x months, one file each
    old = df.select("symbol", "open_time_ms", F.col("close").alias("old"), patched.alias("patched"))
    rows = (
        lake.read_lake(spark, root).join(old, ["symbol", "open_time_ms"])
        .select("symbol", "month", "patched", (F.col("close") == F.col("old") + 1.0).alias("won"))
        .collect()
    )
    assert len(rows) == 2 * 120
    assert all(r.won == r.patched for r in rows)  # staging won, and only where it was staged
    assert Counter((r.symbol, r.month) for r in rows if r.won) == {
        (s, m): 30 for s in symbols for m in (1, 2)
    }
    staged_left = [n for _, _, names in os.walk(lake.staging_path(root)) for n in names]
    assert not [n for n in staged_left if n.endswith(".parquet")]
