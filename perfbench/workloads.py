"""The benchmark workloads.

Each workload builds its inputs from the seed (``build``, repeatable, so
set-up can be timed more than once), then serves operations one at a time
(``op``); ``check`` verifies an operation's output after it, outside its
timing. One round is one operation of every kind, in a seeded order;
``units`` is the work one round does.
"""

from __future__ import annotations

import os
import random

import numpy as np
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.maintenance import audit_klines
from binance_futures_data_lake_spark.operators.resample import resample_bars
from binance_futures_data_lake_spark.plans import driver_queries as DQ
from binance_futures_data_lake_spark.sources import lake
from binance_futures_data_lake_spark.sources.poll import PollConfig, poll_pages
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1

from datagen import MIN_MS, KlinesEndpoint, write_tables

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
TF_MINUTES = {"m5": 5, "h1": 60, "h4": 240}


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class CheckFailed(Exception):
    """An operation's output failed a benchmark check."""


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()
    unit = ""
    # rounds per run: the first is cold (JVM and code-generation warm-up);
    # sized so a run of every workload fits the benchmark's run budget
    min_rounds = 2

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark, self.tr, self.work_dir, self.seed = spark, tracer, work_dir, seed
        self.counts: dict[str, list[float]] = {}  # per-op layer counts
        self.data_dir = ""

    def _input_dir(self, i: int) -> str:
        self.data_dir = os.path.join(self.work_dir, f"input{i}")
        return self.data_dir

    def count(self, key: str, value: float) -> None:
        self.counts.setdefault(key, []).append(float(value))

    def order(self, round_no: int) -> list[str]:
        """Seeded order of the kinds within one round."""
        kinds = list(self.kinds)
        random.Random(self.seed * 1_000_003 + round_no).shuffle(kinds)
        return kinds

    def units(self) -> float:
        raise NotImplementedError

    def build(self, i: int) -> None:
        raise NotImplementedError

    def op(self, kind: str, op_id: int) -> None:
        raise NotImplementedError

    def check(self, kind: str) -> None:
        """Check the output of the last operation, of ``kind`` (not timed)."""


class LakeIngest(Workload):
    """One daily collect -> compact -> aggregate -> validate cycle."""

    name = "lake_ingest"
    kinds = ("cycle",)
    unit = "rows"
    min_rounds = 3  # one kind only, so its median must not rest on the cold cycle
    SYMBOLS = ("BTCUSDT",)
    START = "2024-02-01 00:00:00"
    START_MS = 1_706_745_600_000
    BASE_DAYS = 12  # each day a cycle adds lands in the same, already large, month file
    PAGE = 1500  # one hour of revisions + one day of new bars

    def units(self) -> float:
        return len(self.SYMBOLS) * self.PAGE

    def build(self, i: int) -> None:
        self.root = os.path.join(self._input_dir(i), "klines_m1")
        self.derived = os.path.join(self.data_dir, "derived")
        bars = synthetic_klines_m1(
            self.spark, self.SYMBOLS, start=self.START,
            n_minutes=self.BASE_DAYS * 1440, seed=self.seed,
        )
        lake.write_canonical(bars, self.root)
        self.next_ms = self.START_MS + self.BASE_DAYS * DAY_MS
        for s in self.SYMBOLS:
            lake.write_checkpoint(self.root, self.next_ms, f"next_start_time_ms.{s}")
        self.endpoint = KlinesEndpoint(self.seed, self.START_MS, self.next_ms)
        self.days = 0

    def op(self, kind: str, op_id: int) -> None:
        tr, spark = self.tr, self.spark
        rewind = self.next_ms - HOUR_MS
        day_end = self.next_ms + DAY_MS
        self.endpoint.revise_before, self.endpoint.t_end = self.next_ms, day_end
        clock = lambda: day_end + 3 * MIN_MS  # noqa: E731 - past the safe lag
        for s in self.SYMBOLS:
            key = f"next_start_time_ms.{s}"
            lake.write_checkpoint(self.root, rewind, key)
            cfg = PollConfig(symbol=s, root=self.root, page_limit=self.PAGE,
                             max_pages=1, checkpoint_key=key)
            with tr.span("poll.page", op_id):
                res = poll_pages(spark, self.endpoint, cfg, now_ms=clock)
            if res["rows"] != self.PAGE:
                raise CheckFailed(f"poll staged {res['rows']} rows, expected {self.PAGE}")
        staged, _ = _dir_bytes(lake.staging_path(self.root))
        touched = [
            os.path.join(lake.canonical_path(self.root), os.path.relpath(d, lake.staging_path(self.root)))
            for d, _, names in os.walk(lake.staging_path(self.root))
            if any(n.endswith(".parquet") for n in names)
        ]
        confs = dict(spark.conf.getAll)
        with tr.span("lake.compact", op_id):
            lake.compact_staging(spark, self.root)
        _restore_confs(spark, confs)
        rewritten = files = 0
        for d in touched:
            b, f = _dir_bytes(d)
            rewritten, files = rewritten + b, files + f
        self.count("lake.bytes_rewritten", rewritten)
        self.count("lake.files_written", files)
        self.count("lake.write_amp", rewritten / staged)
        raw = lake.read_lake(spark, self.root)
        for tf, n in TF_MINUTES.items():
            with tr.span("resample.aggregate", op_id):
                bars = resample_bars(raw, n, complete_only=True)
                lake.write_canonical(bars.drop("count_base"), os.path.join(self.derived, tf))
        with tr.span("maintenance.audit", op_id):
            rep = audit_klines(lake.read_lake(spark, self.root), step_ms=MIN_MS)
        self.days += 1
        self.next_ms = day_end
        self.last = (rep, rewind)

    def check(self, kind: str) -> None:
        rep, rewind = self.last
        expected = len(self.SYMBOLS) * (self.BASE_DAYS + self.days) * 1440
        if not rep["ok"] or rep["n_rows"] != expected:
            raise CheckFailed(f"audit {rep} (expected {expected} rows)")
        revised = self.next_ms - DAY_MS
        got = (
            lake.read_lake(self.spark, self.root)
            .filter((F.col("open_time_ms") >= rewind) & (F.col("open_time_ms") < revised))
            .select("symbol", "open_time_ms", "close").toPandas()
        )
        times = np.arange(rewind, revised, MIN_MS, dtype=np.int64)
        for s in self.SYMBOLS:
            mine = got[got.symbol == s].sort_values("open_time_ms")
            want = self.endpoint.bars(s, times)["revised"]
            if len(mine) != len(times) or not np.array_equal(mine["close"].to_numpy(), want):
                raise CheckFailed(f"{s}: revised closes did not win in the rewound hour")


def _restore_confs(spark, before: dict) -> None:
    """Undo session conf changes a layer call left behind, so the steps
    after it run on the same session whether or not the layer leaks."""
    after = dict(spark.conf.getAll)
    for k in after.keys() - before.keys():
        spark.conf.unset(k)
    for k, v in before.items():
        if after.get(k) != v:
            spark.conf.set(k, v)


# registered corpus query -> span around the whole query, named after the
# operator module it exercises
CORPUS = {
    "dedup_clusters": "textdedup.dedup_clusters",
    "simhash_near_pairs": "textdedup.simhash_near_pairs",
    "cosine_topk": "similarity.cosine_topk",
}


class CorpusDedup(Workload):
    """One pass of the LLM-corpus curation queries, each collected to the
    driver as a pandas frame. Every set-up build writes its own copy of the
    corpus, and successive runs of a query read successive copies: the
    engine caches built plans per input path, and a curation pass over a
    new corpus snapshot pays for its plan and its work again."""

    name = "corpus_dedup"
    kinds = tuple(CORPUS)
    unit = "documents"
    SF = 0.01

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.copies: list[str] = []
        self.runs = {k: 0 for k in self.kinds}
        self.oracle: dict = {}

    def units(self) -> float:
        return self.tables["documents"]

    def build(self, i: int) -> None:
        self.tables = write_tables(self._input_dir(i), self.SF, self.seed)
        self.copies.append(self.data_dir)

    def op(self, kind: str, op_id: int) -> None:
        path = self.copies[self.runs[kind] % len(self.copies)]
        self.runs[kind] += 1
        tr = self.tr
        with tr.span(CORPUS[kind], op_id):
            with tr.span("driver_queries.build", op_id):
                df = DQ.QUERIES[kind](self.spark, path)
            with tr.span("driver_queries.force", op_id):
                self.last = df.toPandas()

    def check(self, kind: str) -> None:
        """Every result must match the query's DuckDB oracle (the copies
        hold the same bytes, so one oracle result serves them all)."""
        from tests.oracle_utils import assert_frames_match, run_oracle

        if kind not in self.oracle:
            self.oracle[kind] = run_oracle(DQ.ORACLE[kind], self.copies[0])
        try:
            assert_frames_match(self.last, self.oracle[kind], kind)
        except AssertionError as e:
            raise CheckFailed(str(e)) from e


WORKLOADS = {w.name: w for w in (LakeIngest, CorpusDedup)}
