"""Scalar helpers (SURVEY §2.7) — null-safe math idioms of the reference."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def nullif_zero(c: Column) -> Column:
    """Null-guard division denominator: pandas ``.replace(0.0, np.nan)``
    (build_mtf_context_h4_v1.py:75-106)."""
    return F.nullif(c, F.lit(0.0))


def clip(c: Column, lo: float, hi: float) -> Column:
    """np.clip (build_h1_regime_router_v2.py:121)."""
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def sigmoid(c: Column) -> Column:
    """Logistic sigmoid (run_ml_m15_v1.py:62-64)."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-c))


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
