"""Checkpointed, paginated REST poll source (SURVEY §2.1 S1).

Reference parity: ``src/bfdl/collectors/klines_m1.py:32-97`` — the
reference's front door is a driver loop that GETs pages of up to 1500
klines, appends each page to month staging, advances a sidecar checkpoint
to ``max(open_time_ms) + 1``, and stops when it reaches ``now − 2 min``
(the safe lag: the newest candles are still mutable), an explicit end
date, or an empty page.

Spark-first redesign, not a translation:

- the TRANSPORT is injected (any ``(symbol, start_ms, limit) -> payload``
  callable). Tests drive the loop with a deterministic fake; production
  wires ``http_transport()``. The loop's resume/pagination/checkpoint
  semantics — the part that guards against dup/gap on restart — is thereby
  testable with zero network;
- each page lands via ``lake.stage_append`` (Hive-partitioned staging) and
  is merged by ``lake.compact_staging`` — the same exactly-once path the
  streaming ingest uses, so a poll page and a stream micro-batch are the
  same kind of object downstream;
- the CLOCK is injected for the safe-lag rule, so "don't collect the last
  2 minutes" is a pure function of arguments;
- one poller instance covers one (symbol, endpoint) — the scale axis is
  symbols × endpoints, each an independent loop feeding one lake root
  (the reference runs the same shape one process per symbol). Page
  ingestion itself is a driver-side act by nature (the API response IS
  driver-local); the distributed work starts at the staged write.

The payload shape mirrors the Binance klines array (klines_m1.py:99-133):
``[open_ms, open, high, low, close, vol_base, close_ms, vol_quote,
n_trades, taker_base, taker_quote, ...]`` — index-positional, strings for
decimals, exactly what the real endpoint returns.
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable, Sequence
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession

from binance_futures_data_lake_spark.schemas import KLINES_M1_SCHEMA
from binance_futures_data_lake_spark.sources import lake

PAGE_LIMIT = 1500
SAFE_LAG_MS = 2 * 60 * 1000

Transport = Callable[[str, int | None, int], Sequence[Sequence]]


@dataclass
class PollConfig:
    symbol: str
    root: str
    start_ms: int | None = None  # None: resume checkpoint only, else genesis
    end_ms: int | None = None
    page_limit: int = PAGE_LIMIT
    safe_lag_ms: int = SAFE_LAG_MS
    sleep_sec: float = 0.0  # reference uses 0.15 (API politeness)
    max_pages: int | None = None  # bounded work per invocation (cron shape)
    # sidecar key: lets several symbols share one dataset root (the CLI
    # loops symbols serially, so the single checkpoint file is not raced)
    checkpoint_key: str = "next_start_time_ms"


def http_transport(base_url: str, endpoint: str, interval: str = "1m", timeout: float = 10.0) -> Transport:
    """Production transport against a klines-shaped REST endpoint.

    Kept import-light: ``requests`` is resolved at call time so offline
    environments can import this module (and inject a fake) freely.
    """

    def _fetch(symbol: str, start_ms: int | None, limit: int):
        import requests  # deferred: sandbox has no network

        params: dict = {"symbol": symbol, "interval": interval, "limit": limit}
        if start_ms is not None:
            params["startTime"] = int(start_ms)
        r = requests.get(base_url + endpoint, params=params, timeout=timeout)
        r.raise_for_status()
        return r.json()

    return _fetch


def page_to_df(spark: SparkSession, payload: Sequence[Sequence], symbol: str):
    """Binance kline arrays → a ``KLINES_M1_SCHEMA`` DataFrame
    (klines_m1.py:110-133 column contract, incl. the string→float decimal
    casts, which parse exactly as ``float()`` does).

    The page is built as one Arrow table, so ``createDataFrame`` hands it to
    the JVM as Arrow batches: no Python rows, no Python worker."""

    def col(i: int, dtype) -> np.ndarray:
        return np.asarray([k[i] for k in payload], dtype=dtype)

    open_ms, n = col(0, np.int64), len(payload)
    columns = [
        pa.array(open_ms).cast(pa.timestamp("ms", tz="UTC")),
        *(col(i, np.float64) for i in (1, 2, 3, 4, 5, 7)),
        col(8, np.int64),
        *(col(i, np.float64) for i in (9, 10)),
        open_ms, col(6, np.int64),
        *(pa.array([v] * n) for v in ("binance", "um_futures", symbol)),
    ]
    table = pa.Table.from_arrays(columns, names=KLINES_M1_SCHEMA.names)
    return spark.createDataFrame(table, KLINES_M1_SCHEMA)


def poll_pages(
    spark: SparkSession,
    transport: Transport,
    cfg: PollConfig,
    now_ms: Callable[[], int] | None = None,
    sleep: Callable[[float], None] = _time.sleep,
) -> dict:
    """Run the collect loop until up-to-date / end date / empty page /
    page budget. Returns a summary dict.

    Loop invariants (klines_m1.py:55-95):
    - resume point = sidecar checkpoint if present, else ``cfg.start_ms``;
    - never ask for data newer than ``now − safe_lag`` (mutable candles);
    - rows past ``end_ms`` OR past ``now − safe_lag`` are clipped BEFORE
      staging, and an all-clipped page stops the loop. The safe-lag clip
      is deliberately STRONGER than the reference, which only gates the
      loop start (klines_m1.py:61-64): a page fetched just before the
      boundary can carry still-open candles into the lake there, and the
      checkpoint then skips them forever. Clipping keeps the invariant
      "staged rows are immutable" unconditional;
    - checkpoint advances to ``max(open_time_ms) + 1`` AFTER the page is
      durably staged — a crash between stage and checkpoint re-fetches the
      same page, and the merge-compaction's keep-last dedup makes the
      replay idempotent (no dup reaches canonical; tested).
    """
    symbol = cfg.symbol.upper()
    clock = now_ms or (lambda: int(_time.time() * 1000))
    if lake.read_meta(cfg.root) is None:
        lake.write_meta(
            cfg.root,
            {"symbol": symbol, "exchange": "binance", "market": "um_futures", "interval": "1m"},
        )

    start = lake.read_checkpoint(cfg.root, cfg.checkpoint_key)
    if start is None:
        start = cfg.start_ms
    n_pages = n_rows = 0
    stop = "page_budget"
    while cfg.max_pages is None or n_pages < cfg.max_pages:
        safe_end = clock() - cfg.safe_lag_ms
        if start is not None and start > safe_end:
            stop = "up_to_date"
            break
        if cfg.end_ms is not None and start is not None and start > cfg.end_ms:
            stop = "end_date"
            break
        payload = transport(symbol, start, cfg.page_limit)
        n_pages += 1
        if not payload:
            stop = "empty_page"
            break
        page = [k for k in payload if int(k[0]) <= safe_end]
        if not page:
            stop = "up_to_date"
            break
        page = [k for k in page if cfg.end_ms is None or int(k[0]) <= cfg.end_ms]
        if not page:
            stop = "end_date"
            break
        lake.stage_append(page_to_df(spark, page, symbol), cfg.root)
        n_rows += len(page)
        start = max(int(k[0]) for k in page) + 1
        lake.write_checkpoint(cfg.root, start, cfg.checkpoint_key)
        if cfg.sleep_sec:
            sleep(cfg.sleep_sec)
    return {"symbol": symbol, "pages": n_pages, "rows": n_rows, "next_start_ms": start, "stop": stop}
