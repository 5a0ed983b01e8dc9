"""Scalar helpers (SURVEY §2.7) — null-safe math idioms of the reference."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_away(c: Column, scale: int) -> Column:
    """Round-half-away-from-zero on the exact binary double:
    sign·floor(|x·10^scale| + 0.5)/10^scale.

    Spark's ``F.round`` routes through BigDecimal.valueOf(double) — the
    SHORTEST decimal representation — so a stored 8.00468749999…964 rounds
    as "8.0046875" → 8.004688 while engines that round the exact binary
    value (DuckDB, C round()) give 8.004687. ~1 row in 10⁵ lands on such a
    representation tie; this formulation executes the identical IEEE ops
    in any engine, so results can't diverge.
    """
    p = float(10**scale)
    scaled = c.cast("double") * F.lit(p)
    return F.signum(scaled) * F.floor(F.abs(scaled) + F.lit(0.5)) / F.lit(p)


def round6(c: Column) -> Column:
    """6-dp engine-portable rounding — the presentation contract used by
    every oracle-checked ratio/similarity column."""
    return round_half_away(c, 6)
