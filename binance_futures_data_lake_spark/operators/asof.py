"""Backward as-of join — THE join of the reference (SURVEY §2.4 J1/J2).

Reference semantics (pandas ``merge_asof(direction="backward",
allow_exact_matches=True)``): each left row takes the payload of the last
right row with ``right.ts <= left.ts``, per key; left rows before the first
right row get nulls. Sites: build_mtf_context_h4_v1.py:228-235,
build_h1_regime_router_v2.py:172-186, build_joined_m1_long_v1.py:77-98,
run_sweep_router_v2.py:844-850.

Spark has no native as-of join; the scalable pattern implemented here is
**union + ordered last-non-null window**:

1. pack the right payload into one struct column (so a legitimately-null
   right field is NOT forward-filled past its own row — exact merge_asof
   parity),
2. union left and right on (key, ts) with a side marker,
3. ``last(payload, ignoreNulls=True) over (partitionBy key orderBy ts, side
   rowsBetween unboundedPreceding, current)``,
4. keep left rows, unpack the struct.

Cost at scale: ONE shuffle of left+right on the key — the same price as any
repartition of the fact table; the right side is typically the coarser
timeframe (55k H1 rows vs 3.3M M1 rows in the reference lake) so the union
adds ~2% rows. No broadcast needed, no skew beyond the key's own skew, and
AQE handles that.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] = (),
    right_cols: Sequence[str] | None = None,
    suffix: str = "",
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Backward as-of join; see module docstring.

    ``right_cols`` defaults to every right column except ``on``/``by``.
    ``suffix`` renames carried right columns on collision with left ones —
    the ``_ctx`` idiom of build_mtf_context_m15_v1.py:240-248.
    """
    by = list(by)
    if right_cols is None:
        right_cols = [c for c in right.columns if c != on and c not in by]
    out_names = {}
    for c in right_cols:
        name = c + suffix if (suffix and c in left.columns) else c
        if name in left.columns:
            raise ValueError(
                f"as-of carry column {name!r} collides with a left column; pass suffix"
            )
        out_names[c] = name

    payload = F.struct(*[F.col(c) for c in right_cols]).alias("__asof_payload")
    r = right.select(*by, F.col(on).alias(on), payload).withColumn(
        "__asof_side", F.lit(1)
    )
    l = left.withColumn("__asof_payload", F.lit(None).cast(r.schema["__asof_payload"].dataType)).withColumn(
        "__asof_side", F.lit(0)
    )
    # At equal ts: exact matches allowed → right sorts BEFORE left so the
    # window's last() sees it; disallowed → right sorts after.
    side_order = F.col("__asof_side").desc() if allow_exact_matches else F.col("__asof_side").asc()
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), side_order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.withColumn(
        "__asof_filled", F.last("__asof_payload", ignorenulls=True).over(w)
    )
    out = filled.filter(F.col("__asof_side") == 0)
    for src, dst in out_names.items():
        out = out.withColumn(dst, F.col("__asof_filled").getField(src))
    return out.drop("__asof_payload", "__asof_filled", "__asof_side")
