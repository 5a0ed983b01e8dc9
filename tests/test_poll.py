"""S1 poll source: pagination, safe lag, checkpoint resume, replay
idempotency (reference loop: src/bfdl/collectors/klines_m1.py:32-97)."""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
import pytest

from binance_futures_data_lake_spark.schemas import KLINES_M1_SCHEMA
from binance_futures_data_lake_spark.sources import lake
from binance_futures_data_lake_spark.sources.poll import PollConfig, page_to_df, poll_pages

MIN_MS = 60_000
T0 = 1_700_000_040_000  # aligned to a minute boundary


class FakeKlines:
    """Deterministic minute-grid endpoint: klines exist for every minute in
    [t0, t1). Honors startTime + limit exactly like the real endpoint
    (ascending from the first kline at/after startTime)."""

    def __init__(self, t0: int, t1: int, fail_after: int | None = None):
        self.t0, self.t1 = t0, t1
        self.calls = 0
        self.fail_after = fail_after

    def __call__(self, symbol: str, start_ms: int | None, limit: int):
        self.calls += 1
        if self.fail_after is not None and self.calls > self.fail_after:
            raise ConnectionError("injected transport failure")
        start = self.t0 if start_ms is None else max(self.t0, ((start_ms + MIN_MS - 1) // MIN_MS) * MIN_MS)
        out = []
        t = start
        while t < self.t1 and len(out) < limit:
            p = 100.0 + (t // MIN_MS) % 50
            out.append([t, str(p), str(p + 1), str(p - 1), str(p + 0.5),
                        "10.0", t + MIN_MS - 1, "1000.0", 7, "4.0", "400.0", "0"])
            t += MIN_MS
        return out


def _grid_minutes(t0, t1):
    return (t1 - t0) // MIN_MS


def test_full_collect_no_dup_no_gap(spark, tmp_path):
    t1 = T0 + 400 * MIN_MS
    fake = FakeKlines(T0, t1)
    cfg = PollConfig(symbol="btcusdt", root=str(tmp_path), start_ms=T0, page_limit=150)
    res = poll_pages(spark, fake, cfg, now_ms=lambda: t1 + 10 * MIN_MS)
    assert res["stop"] == "empty_page" and res["rows"] == 400
    assert res["pages"] == 4  # 150 + 150 + 100 + the empty page that stops
    lake.compact_staging(spark, str(tmp_path))
    df = lake.read_lake(spark, str(tmp_path))
    assert df.count() == 400
    times = [r[0] for r in df.select("open_time_ms").orderBy("open_time_ms").collect()]
    assert times == list(range(T0, t1, MIN_MS))  # no dup, no gap
    assert lake.read_checkpoint(str(tmp_path)) == times[-1] + 1
    assert lake.read_meta(str(tmp_path))["symbol"] == "BTCUSDT"


def test_safe_lag_excludes_mutable_tail(spark, tmp_path):
    t1 = T0 + 100 * MIN_MS
    fake = FakeKlines(T0, t1)
    cfg = PollConfig(symbol="BTCUSDT", root=str(tmp_path), start_ms=T0, page_limit=1500)
    # clock says t1: the last 2 minutes are inside the safe lag
    res = poll_pages(spark, fake, cfg, now_ms=lambda: t1)
    assert res["stop"] == "up_to_date"
    lake.compact_staging(spark, str(tmp_path))
    mx = lake.read_lake(spark, str(tmp_path)).agg(F.max("open_time_ms")).first()[0]
    assert mx <= t1 - 2 * MIN_MS


def test_resume_after_crash_is_idempotent(spark, tmp_path):
    t1 = T0 + 300 * MIN_MS
    cfg = PollConfig(symbol="BTCUSDT", root=str(tmp_path), start_ms=T0, page_limit=100)
    clock = lambda: t1 + 10 * MIN_MS  # noqa: E731

    # crash mid-collect: transport dies on its 3rd call (2 pages staged)
    with pytest.raises(ConnectionError):
        poll_pages(spark, FakeKlines(T0, t1, fail_after=2), cfg, now_ms=clock)
    ckpt_after_crash = lake.read_checkpoint(str(tmp_path))
    assert ckpt_after_crash == T0 + 199 * MIN_MS + 1  # max(open_time_ms) + 1

    # simulate the worst crash window: page staged but checkpoint NOT yet
    # advanced — rewind the checkpoint one full page so the restart
    # re-fetches rows that are already in staging
    lake.write_checkpoint(str(tmp_path), ckpt_after_crash - 100 * MIN_MS)

    res = poll_pages(spark, FakeKlines(T0, t1), cfg, now_ms=clock)
    assert res["stop"] == "empty_page"
    lake.compact_staging(spark, str(tmp_path))
    df = lake.read_lake(spark, str(tmp_path))
    times = [r[0] for r in df.select("open_time_ms").orderBy("open_time_ms").collect()]
    assert times == list(range(T0, t1, MIN_MS))  # replayed page deduped, no gap


def test_end_date_clips_inside_page(spark, tmp_path):
    t1 = T0 + 500 * MIN_MS
    end = T0 + 37 * MIN_MS  # mid-page
    fake = FakeKlines(T0, t1)
    cfg = PollConfig(symbol="BTCUSDT", root=str(tmp_path), start_ms=T0, page_limit=100, end_ms=end)
    res = poll_pages(spark, fake, cfg, now_ms=lambda: t1 + 10 * MIN_MS)
    assert res["stop"] == "end_date" and res["rows"] == 38  # inclusive clip
    lake.compact_staging(spark, str(tmp_path))
    assert lake.read_lake(spark, str(tmp_path)).agg(F.max("open_time_ms")).first()[0] == end


def test_page_budget_bounds_work(spark, tmp_path):
    t1 = T0 + 1000 * MIN_MS
    fake = FakeKlines(T0, t1)
    cfg = PollConfig(symbol="BTCUSDT", root=str(tmp_path), start_ms=T0, page_limit=100, max_pages=2)
    res = poll_pages(spark, fake, cfg, now_ms=lambda: t1 + 10 * MIN_MS)
    assert res["stop"] == "page_budget" and res["pages"] == 2 and res["rows"] == 200
    # a later invocation resumes exactly where the budget stopped
    res2 = poll_pages(spark, fake, cfg, now_ms=lambda: t1 + 10 * MIN_MS)
    assert res2["rows"] == 200
    assert lake.read_checkpoint(str(tmp_path)) == T0 + 399 * MIN_MS + 1


def test_schema_and_values(spark, tmp_path):
    t1 = T0 + 5 * MIN_MS
    page = page_to_df(spark, FakeKlines(T0, t1)("BTCUSDT", T0, 5), "BTCUSDT")
    assert page.schema == KLINES_M1_SCHEMA
    cfg = PollConfig(symbol="BTCUSDT", root=str(tmp_path), start_ms=T0)
    poll_pages(spark, FakeKlines(T0, t1), cfg, now_ms=lambda: t1 + 10 * MIN_MS)
    lake.compact_staging(spark, str(tmp_path))
    df = lake.read_lake(spark, str(tmp_path))
    row = df.orderBy("open_time_ms").first()
    assert row["open_time_ms"] == T0 and row["close_time_ms"] == T0 + MIN_MS - 1
    assert row["exchange"] == "binance" and row["market"] == "um_futures"
    assert isinstance(row["open"], float) and row["n_trades"] == 7
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got["ts"] == "timestamp" and got["volume_quote"] == "double"


def test_page_to_df_matches_the_tuple_built_page(spark):
    t = 2**41 // MIN_MS * MIN_MS
    payload = [
        [t, "65000.12345678", "65000.12345679", "0.00000001", "0.1", "1234567.89012345",
         t + 59_999, "0.30000000000000004", 2**31 + 7, "3.3", "1e-8", "0"],
        [t + MIN_MS, "0.00000001", "99999.99999999", "0.00000001", "65000.12345678", "0",
         t + 119_999, "80.24691357", 0, "0.00000000", "7", "0"],
        [1_706_745_600_000, "42", "42.5", "41.99999999", "42.00000001", "10.0",
         1_706_745_659_999, "420.0", 7, "5", "210.00000002", "0"],
    ]
    # rows the per-row tuple construction (datetime.fromtimestamp(ms / 1000),
    # float(), int()) produced for this payload
    expected = [
        (datetime(2039, 9, 7, 15, 47), 65000.12345678, 65000.12345679, 1e-08, 0.1,
         1234567.89012345, 0.30000000000000004, 2147483655, 3.3, 1e-08,
         2199023220000, 2199023279999, "binance", "um_futures", "BTCUSDT"),
        (datetime(2039, 9, 7, 15, 48), 1e-08, 99999.99999999, 1e-08, 65000.12345678,
         0.0, 80.24691357, 0, 0.0, 7.0,
         2199023280000, 2199023339999, "binance", "um_futures", "BTCUSDT"),
        (datetime(2024, 2, 1, 0, 0), 42.0, 42.5, 41.99999999, 42.00000001,
         10.0, 420.0, 7, 5.0, 210.00000002,
         1706745600000, 1706745659999, "binance", "um_futures", "BTCUSDT"),
    ]
    page = page_to_df(spark, payload, "BTCUSDT")
    assert page.schema == KLINES_M1_SCHEMA
    assert [tuple(r) for r in page.collect()] == expected
