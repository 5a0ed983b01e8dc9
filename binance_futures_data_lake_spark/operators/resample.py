"""OHLCV bucket aggregation — the flagship operator family (SURVEY §2.3).

Reference semantics (src/bfdl/transforms/aggregate_tf.py:48-110):
- bucket assignment by integer floor of epoch-ms (``(ms // bucket_ms) *
  bucket_ms``),
- OHLCV agg: ``open=first, high=max, low=min, close=last,
  volumes/trades=sum`` with first/last **time-ordered**,
- completeness: an n-minute bucket is kept only if it contains exactly n
  distinct minutes spanning exactly (n-1) minutes (aggregate_tf.py:53-67).

Spark-first notes: pandas' ordered ``first/last`` is order-nondeterministic
in a Spark groupBy, so we use ``min_by/max_by`` keyed on a (ts, tiebreak)
struct — a single shuffle-free-within-partial-agg aggregation that Catalyst
plans as a hash aggregate with map-side partial combine. No window function,
no second shuffle. At 100 TB the groupBy shuffles once on (key, bucket),
which is the minimum possible for this computation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINUTE_US = 60_000_000


def bucket_start(ts: Column, minutes: int | float, right_closed: bool = False) -> Column:
    """Floor a timestamp to its n-minute bucket open (aggregate_tf.py:48-50).

    ``right_closed=True`` reproduces pandas ``resample(label="right",
    closed="right")`` used by the H1 router (build_h1_regime_router_v2.py:93):
    a row at exactly a boundary belongs to the bucket *ending* there, and the
    bucket is labeled by its end.
    """
    step = int(minutes * MINUTE_US)
    us = F.unix_micros(ts)
    if right_closed:
        # ceil to the next boundary; boundary rows stay on their own boundary
        return F.timestamp_micros((-F.floor(-us / F.lit(step)) * step).cast("long"))
    return F.timestamp_micros((F.floor(us / F.lit(step)) * step).cast("long"))


def tick_ohlcv(
    df: DataFrame,
    minutes: int | float,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    right_closed: bool = False,
) -> DataFrame:
    """Aggregate a tick/event stream into OHLCV-style bars.

    Output grain: one row per (keys..., bucket_ts). ``tiebreak_col`` makes
    first/last deterministic when two ticks share a timestamp.
    """
    order = (
        F.struct(F.col(ts_col), F.col(tiebreak_col))
        if tiebreak_col
        else F.col(ts_col)
    )
    v = F.col(value_col)
    return (
        df.withColumn("bucket_ts", bucket_start(F.col(ts_col), minutes, right_closed))
        .groupBy(*key_cols, "bucket_ts")
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.sum(v).alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.min(F.col(ts_col)).alias("first_ts"),
            F.max(F.col(ts_col)).alias("last_ts"),
        )
    )


def rollup_bars(
    bars: DataFrame,
    n_minutes: int | float,
    key_cols: Sequence[str],
    bucket_col: str = "bucket_ts",
    right_closed: bool = False,
) -> DataFrame:
    """Roll finer ``tick_ohlcv`` bars up to a coarser grain — the
    hypertable/continuous-aggregate pattern: each resolution derives from
    the previous one's partials, so building m5 → h1 → d1 scans the raw
    ticks ONCE (for m5) instead of once per resolution. At 100 TB each
    level's input is step-factor smaller than the last, so every rollup
    after the first is nearly free — and each level is independently
    persistable as a lake artifact.

    Exactness: open/close compose because the first fine bar's open IS the
    first tick's value (min_by on the sub-bucket ts picks the same row the
    direct aggregation would); high/low/volume/n_ticks are max/min/sum,
    which are associative. Cascade ≡ direct is pytest-asserted, and the
    daily-cascade driver query is oracle-checked against a direct-from-raw
    DuckDB aggregation.
    """
    order = F.col(bucket_col)
    return (
        bars.withColumn("__coarse", bucket_start(F.col(bucket_col), n_minutes, right_closed))
        .groupBy(*key_cols, "__coarse")
        .agg(
            F.min_by("open", order).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", order).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("n_ticks").alias("n_ticks"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
        .withColumnRenamed("__coarse", bucket_col)
    )


def tick_ohlcv_cascade(
    df: DataFrame,
    minutes_levels: Sequence[int | float],
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    right_closed: bool = False,
) -> list[DataFrame]:
    """The whole rollup cascade on ONE shuffle.

    ``tick_ohlcv`` + chained ``rollup_bars`` is semantically right but pays
    one Exchange per level (ticks→m5, m5→h1, h1→d1 = 3 shuffles). Because
    the levels NEST — every fine bucket lies inside exactly one coarsest
    bucket — the whole cascade needs only one physical placement: hash-
    partition the ticks once on (keys…, coarsest_bucket), then every
    level's ``groupBy(keys…, coarsest_bucket, level_bucket)`` is satisfied
    by the existing partitioning (Catalyst's subset rule: HashPartitioning
    on a subset of the group keys ⇒ no Exchange). Adding the coarsest
    bucket to each groupBy does not change the groups, since it is a
    function of the finer bucket.

    Scale: the partition key is (keys…, coarsest_bucket), so parallelism
    grows with the timeline (days × keys), unlike partitioning on keys
    alone — no skew ceiling at 100 TB. Nesting holds for either closure as
    long as every level uses the same ``right_closed`` (coarse boundaries
    are a subset of fine boundaries).

    Returns one DataFrame per level, finest first; each is independently
    persistable and none re-shuffles. Exchange-count == 1 is asserted in
    tests/test_resample_bars.py.
    """
    if len(minutes_levels) < 2:
        raise ValueError("cascade needs at least two levels")
    for fine, coarse in zip(minutes_levels, minutes_levels[1:]):
        if (coarse * MINUTE_US) % (fine * MINUTE_US):
            raise ValueError(f"levels must nest: {coarse} not a multiple of {fine}")
    anchor = "__cascade_anchor"
    coarsest = minutes_levels[-1]
    ticks = df.withColumn(
        anchor, bucket_start(F.col(ts_col), coarsest, right_closed)
    ).repartition(*key_cols, anchor)
    grouped = [*key_cols, anchor]
    levels = [
        tick_ohlcv(
            ticks, minutes_levels[0], grouped, ts_col, value_col,
            tiebreak_col, right_closed,
        )
    ]
    for n in minutes_levels[1:]:
        levels.append(rollup_bars(levels[-1], n, grouped, right_closed=right_closed))
    return [lvl.drop(anchor) for lvl in levels]


def resample_bars(
    df: DataFrame,
    n_minutes: int,
    by: Sequence[str] = ("symbol",),
    complete_only: bool = True,
    base_minutes: int = 1,
) -> DataFrame:
    """Resample canonical kline bars to a coarser timeframe.

    Spark port of ``aggregate_tf.py:70-110`` (the m5/h1/h4 builder) and the
    resample form of build_m5_from_m1.py:57-91. Input must carry the
    canonical 15-column schema (schemas.KLINES_M1_SCHEMA).

    Completeness (aggregate_tf.py:53-67): keep a bucket iff it has exactly
    ``n = n_minutes/base_minutes`` rows, n distinct open times, spanning
    exactly (n-1)·base minutes. Emitted ``ts``/``open_time_ms`` are the
    bucket open; ``close_time_ms = open + n_min·60000 - 1``
    (aggregate_tf.py:103-106).
    """
    n_rows = n_minutes // base_minutes
    bucket_ms = n_minutes * 60_000
    base_ms = base_minutes * 60_000
    order = F.col("open_time_ms")
    bkt = (F.floor(F.col("open_time_ms") / F.lit(bucket_ms)) * bucket_ms).cast("long")

    # Distinct slots inside the one aggregation, for any n: the bucket's slot
    # bitmask split into ceil(n/62) long words, word w summing
    # 2^(slot mod 62) over the rows with slot div 62 == w. A bucket is
    # complete iff count == n, the span is (n−1)·base and every word equals
    # its full mask (its m_w = min(62, n − 62w) low bits set). Exact: a sum
    # of r powers of two has popcount ≤ r, equal only when they are
    # distinct, so a full word holds ≥ m_w rows; as the m_w add up to
    # n == count, each word holds exactly m_w rows on m_w distinct slots,
    # i.e. every slot once. A word whose sum overflows reads null and fails.
    slot = ((F.col("open_time_ms") - F.col("__bucket_ms")) / F.lit(base_ms)).cast("long")
    complete = (F.count(F.lit(1)) == n_rows) & ((F.max(order) - F.min(order)) == (n_rows - 1) * base_ms)
    for w in range(-(-n_rows // 62)):
        word = F.try_sum(F.when(F.col("__word") == w, F.col("__bit")))
        complete = complete & (word == F.lit((1 << min(62, n_rows - 62 * w)) - 1))
    agg = (
        df.withColumn("__bucket_ms", bkt)
        .withColumn("__word", F.floor(slot / 62))
        .withColumn("__bit", F.call_function("shiftleft", F.lit(1).cast("long"), (slot % 62).cast("int")))
        .groupBy(*by, "__bucket_ms")
        .agg(
            F.min_by("open", order).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", order).alias("close"),
            F.sum("volume_base").alias("volume_base"),
            F.sum("volume_quote").alias("volume_quote"),
            F.sum("n_trades").alias("n_trades"),
            F.sum("taker_buy_base").alias("taker_buy_base"),
            F.sum("taker_buy_quote").alias("taker_buy_quote"),
            F.count(F.lit(1)).alias("count_base"),
            F.max_by("exchange", order).alias("exchange"),
            F.max_by("market", order).alias("market"),
            *([complete.alias("__complete")] if complete_only else []),
        )
    )
    if complete_only:
        agg = agg.filter(F.col("__complete"))
    out = (
        agg.withColumn("open_time_ms", F.col("__bucket_ms"))
        .withColumn("close_time_ms", F.col("__bucket_ms") + bucket_ms - 1)
        .withColumn("ts", F.timestamp_millis(F.col("open_time_ms")))
    )
    cols = [
        "ts", "open", "high", "low", "close", "volume_base", "volume_quote",
        "n_trades", "taker_buy_base", "taker_buy_quote", "open_time_ms",
        "close_time_ms", "exchange", "market", *by, "count_base",
    ]
    return out.select(*[c for c in cols if c in out.columns])


def with_availability(
    df: DataFrame, n_minutes: int, lag_minutes: int = 2, ts_col: str = "ts"
) -> DataFrame:
    """Attach anti-lookahead availability columns (build_m5_from_m1.py:87-89).

    ``bucket_end = ts + n_min``; ``available_from = bucket_end + lag`` —
    a bar may only be consumed by decisions at/after ``available_from``.
    """
    return (
        df.withColumn("bucket_start", F.col(ts_col))
        .withColumn(
            "bucket_end",
            F.col(ts_col) + F.expr(f"INTERVAL {n_minutes} MINUTES"),
        )
        .withColumn(
            "available_from",
            F.col("bucket_end") + F.expr(f"INTERVAL {lag_minutes} MINUTES"),
        )
    )


def calendar_rollup_bars(
    df: DataFrame,
    unit: str,
    key_cols: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Roll bars that ALREADY carry open/high/low/close columns up to a
    calendar bucket — weekly open = first bar's *open* (time-ordered),
    high = max(high), low = min(low), close = last bar's *close*.

    This is the aggregation plot_weekly_candles_v1.py:60-68 does with
    pandas ``resample("W-MON").agg({"open": "first", "high": "max",
    "low": "min", "close": "last"})``; ``calendar_ohlcv`` by contrast
    builds candles from a single value column (tick streams), which on
    klines input would understate wicks (high = max of closes) and shift
    opens (open = first close). Same single-shuffle min_by/max_by shape
    as ``rollup_bars``.
    """
    unit = unit.lower()
    if unit not in ("day", "week", "month", "quarter", "year", "hour"):
        raise ValueError(f"unsupported calendar unit: {unit}")
    order = F.col(ts_col)
    aggs = [
        F.min_by("open", order).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", order).alias("close"),
    ]
    if "volume" in df.columns:
        aggs.append(F.sum("volume").alias("volume"))
    aggs.append(F.count(F.lit(1)).alias("n_bars"))
    return (
        df.withColumn("bucket_ts", F.date_trunc(unit, F.col(ts_col)))
        .groupBy(*key_cols, "bucket_ts")
        .agg(*aggs)
    )


def calendar_ohlcv(
    df: DataFrame,
    unit: str,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Calendar-bucket OHLCV: day / week (Monday-anchored) / month.

    Ref: build_mtf_context_{day,week,month}_v1.py:66 (pandas "D", "W-MON",
    "MS"). Spark's ``date_trunc('week', ·)`` is Monday-anchored, matching
    pandas W-MON start-of-period labeling.
    """
    unit = unit.lower()
    if unit not in ("day", "week", "month", "quarter", "year", "hour"):
        raise ValueError(f"unsupported calendar unit: {unit}")
    order = (
        F.struct(F.col(ts_col), F.col(tiebreak_col))
        if tiebreak_col
        else F.col(ts_col)
    )
    v = F.col(value_col)
    return (
        df.withColumn("bucket_ts", F.date_trunc(unit, F.col(ts_col)))
        .groupBy(*key_cols, "bucket_ts")
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.sum(v).alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
