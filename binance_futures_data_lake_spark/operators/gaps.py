"""Gap detection & consolidation on the time grid (SURVEY §2.4 J6/J7).

Reference: missing minutes via ``pd.date_range(min,max).difference(present)``
(integrity_checks.py:60-64, verify_all.py:291-298, backfill_gaps.py:104-122)
and consolidation of missing minutes into contiguous [start,end] ranges
(gaps_report.py:13-29).

Spark-first: the grid is never generated. Each row snaps to its grid
bucket, and one ``lag`` over a key's present buckets gives the number of
grid points missing before it (``grid_steps``). ``missing_ranges`` turns
those counts into [start, end] ranges; ``maintenance.audit_klines`` sums
them inside its single audit pass. Everything shuffles only on the key
column, and the cost is proportional to rows present, not elapsed time.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grid_steps(by: Sequence[str], us: Column, step_us: int) -> tuple[Column, Column]:
    """Per row: ``us`` (epoch µs) snapped down to its ``step_us`` grid
    bucket, and the number of grid points missing between the key's
    previous present bucket and this one — positive only across a gap,
    ``-1`` on a repeated bucket, null on the key's first row.

    Snapping first makes duplicate and off-grid inputs degrade to bucket
    semantics rather than breaking the recurrence.
    """
    bucket = F.floor(us / F.lit(step_us)) * F.lit(step_us)
    prev = F.lag(bucket).over(Window.partitionBy(*by).orderBy(bucket))
    return bucket, ((bucket - prev) / F.lit(step_us)).cast("long") - F.lit(1)


def missing_ranges(
    df: DataFrame,
    step_minutes: int | float,
    by: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Consolidate missing grid points into contiguous ranges
    (backfill_gaps.py:104-122 ``_missing_ranges``; gaps_report.py:13-29).

    Output: key cols + gap_start, gap_end, n_missing.

    A run of missing grid points is exactly the open interval between two
    consecutive present buckets, so ``grid_steps`` yields every range
    directly: [cur − n·step, cur − step] wherever n > 0 points are missing
    before ``cur``. Present min/max bound the grid, so there are no
    boundary gaps, and one shuffle (the per-key window) replaces the
    generate-grid + anti-join + islands construction, whose ``sequence()``
    emits rows proportional to elapsed time (a years-sparse key explodes to
    500k+ rows regardless of data volume).
    """
    step_us = int(step_minutes * 60_000_000)
    bucket, missing = grid_steps(by, F.unix_micros(F.col(ts_col)), step_us)
    return (
        df.select(*by, bucket.alias("__us"), missing.alias("n_missing"))
        .filter(F.col("n_missing") > 0)
        .select(
            *by,
            F.timestamp_micros(F.col("__us") - F.col("n_missing") * step_us).alias("gap_start"),
            F.timestamp_micros(F.col("__us") - F.lit(step_us)).alias("gap_end"),
            "n_missing",
        )
    )
