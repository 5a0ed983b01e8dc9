"""Exponentially-weighted means — the most pervasive custom op (~20 call
sites in the reference, SURVEY §2.5 W6).

Reference semantics: pandas ``ewm(span=n, adjust=False)`` (EMAs,
build_mtf_context_h4_v1.py:85-117) and ``ewm(alpha=1/n, adjust=False)``
(Wilder RMA/ATR, build_h1_regime_router_v2.py:26-40). ``adjust=False`` is
the recursion ``y_t = (1-a)·y_{t-1} + a·x_t`` seeded with the first non-null
value.

The recursion is not a bounded-frame aggregate, so ``ewm_apply`` runs it in
per-key ``applyInPandas`` kernels calling pandas ``ewm`` for bit-parity.
Arrow-vectorized, embarrassingly parallel across keys — at 100 TB each
symbol's history is one group; with thousands of symbols that is
thousands-wide parallelism, and per-group state is O(1). The DuckDB
oracles of EWM queries use a segmented closed form instead (see
``ema_per_user`` in plans/driver_queries.py).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def span_to_alpha(span: float) -> float:
    return 2.0 / (span + 1.0)


def ewm_apply(
    df: DataFrame,
    cols: dict[str, tuple[str, float]],
    by: Sequence[str],
    order: Sequence[str],
    num_buckets: int | None = None,
) -> DataFrame:
    """Append EWM columns via bucketed pandas kernels.

    ``cols`` maps output name → (source column, alpha).

    Scale design: grouping Spark-side by the raw key would create one
    Python/Arrow round trip per key — with millions of small keys the
    per-group overhead dominates. Instead the shuffle key is a COARSE
    bucket ``hash(by) % num_buckets`` (default: session shuffle
    parallelism), and inside each kernel a cythonized pandas
    ``groupby(...).ewm(...)`` runs the recursion for every key in the
    bucket at once. Same semantics (a key maps to exactly one bucket, the
    kernel sorts by key+order), ~group-count-independent overhead.
    """
    by = list(by)
    order = list(order)
    fields = list(df.schema.fields) + [
        T.StructField(name, T.DoubleType()) for name in cols
    ]
    out_schema = T.StructType(fields)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(by + order, kind="mergesort")
        gb = pdf.groupby(by, sort=False)
        for name, (src, alpha) in cols.items():
            res = gb[src].ewm(alpha=alpha, adjust=False).mean()
            pdf[name] = res.reset_index(level=list(range(len(by))), drop=True)
        return pdf.drop(columns=["__ewm_bucket"])

    # kernel parallelism: cap at available slots, not shuffle width — with
    # shuffle_partitions=8 on a 32-core session the pandas kernels would
    # otherwise run 8-wide (measured 0.62 -> 0.51 s at 10x sf0.1 going 8 -> 32)
    nb = num_buckets or max(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    bucketed = df.withColumn(
        "__ewm_bucket", F.pmod(F.xxhash64(*by), F.lit(nb))
    )
    out_schema_b = T.StructType(
        [f for f in out_schema.fields]
    )
    return bucketed.groupBy("__ewm_bucket").applyInPandas(kernel, schema=out_schema_b)

