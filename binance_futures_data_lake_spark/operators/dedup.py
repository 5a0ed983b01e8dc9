"""Keyed deduplication (SURVEY §2.2 P5 and §2.1 S13).

pandas ``drop_duplicates(subset=key, keep="last")`` appears on every write
path of the reference (compact_staging.py:89-93, aggregate_tf.py:205,
concat_parquets_v1.py:31-32). Its "last" depends on implicit concat order
(staging-after-canonical at one site, new-before-old at another — SURVEY
§7.2), so the Spark port demands an **explicit precedence column** instead:
``row_number() over (partitionBy key orderBy precedence desc)``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_last(
    df: DataFrame,
    keys: Sequence[str],
    precedence: Sequence[str | Column],
) -> DataFrame:
    """Keep, per key, the row that sorts LAST by ``precedence``.

    Map-side partial aggregation does not apply to row_number, but AQE
    handles the single shuffle on ``keys``; at 100 TB this is the same
    shuffle a MERGE would need, and skewed keys are split by AQE skew-join
    handling. Ties beyond ``precedence`` are broken arbitrarily — callers
    that need full determinism must pass a total order.
    """
    order = [
        (F.col(p).desc() if isinstance(p, str) else p) for p in precedence
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
