"""Integrity audits as Spark queries (SURVEY §5 port strategy).

The reference has no unit tests; correctness is enforced by data-quality
audit programs (src/bfdl/transforms/verify_all.py:247-338,
integrity_checks.py:26-85, audit_derived.py:98-162). ``audit_klines``
re-expresses those invariants as per-row flags from window functions over
one partitioning by symbol (ordered by open_time_ms, and by grid bucket
for the gap count):

- zero duplicate (symbol, open_time_ms) keys
- strict per-symbol time monotonicity
- zero missing grid steps (``gaps.grid_steps``); rows == expected grid rows
- ts == open_time_ms (the anti-lookahead re-derivation check,
  compact_staging.py:86-87)
- OHLC bar invariants (FIXTURES.md conventions): low <= min(o,c),
  high >= max(o,c), taker <= volume, volumes >= 0

then sums them in a per-symbol aggregate, which also yields each symbol's
expected grid rows. The aggregate reuses the window's partitioning, so the
audit is one shuffle on symbol and two Spark jobs; the driver adds up one
small row per symbol. Exit-code semantics (verify_all.py:341-348) map to
``ok`` booleans per check.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.gaps import grid_steps

REPORT_COUNTS = (
    "n_rows",
    "expected_rows",
    "n_duplicate_keys",
    "n_non_monotonic",
    "n_off_grid_steps",
    "n_missing_grid_rows",
    "n_ts_mismatch",
    "n_bar_invariant_violations",
)


def audit_klines(
    df: DataFrame,
    step_ms: int = 60_000,
    by: Sequence[str] = ("symbol",),
) -> dict:
    """Full temporal + schema integrity audit; returns a report dict.

    ``step_ms`` is 60_000 for M1, n·60_000 for derived TFs
    (audit_derived.py grid: step = n_minutes * 60_000). Missing grid rows
    are read from ``ts`` (from ``open_time_ms`` when there is no ``ts``);
    ``n_ts_mismatch`` and ``n_bar_invariant_violations`` are None when the
    frame lacks ``ts`` or ``low``.
    """
    by = list(by)
    t = F.col("open_time_ms")
    w = Window.partitionBy(*by).orderBy(t)
    prev, pos = F.lag(t).over(w), F.row_number().over(w)
    # rows of one key are adjacent in t order: count a key at its 2nd row
    second_of_key = (
        (pos > 1) & t.eqNullSafe(prev) & ~((pos > 2) & t.eqNullSafe(F.lag(t, 2).over(w)))
    )
    us = F.unix_micros("ts") if "ts" in df.columns else t * 1000
    _, missing = grid_steps(by, us, step_ms * 1000)
    flags = {
        "n_duplicate_keys": F.when(second_of_key, 1),
        "n_non_monotonic": F.when(prev.isNotNull() & (t <= prev), 1),
        "n_off_grid_steps": F.when(prev.isNotNull() & ((t - prev) % step_ms != 0), 1),
        "n_missing_grid_rows": F.when(missing > 0, missing),
    }
    if "ts" in df.columns:
        flags["n_ts_mismatch"] = F.when(F.unix_millis("ts") != t, 1)
    if "low" in df.columns:
        flags["n_bar_invariant_violations"] = F.when(
            (F.col("low") > F.least("open", "close"))
            | (F.col("high") < F.greatest("open", "close"))
            | (F.col("taker_buy_base") > F.col("volume_base"))
            | (F.col("volume_base") < 0)
            | (F.col("n_trades") < 0),
            1,
        )
    per_symbol = (
        df.select(*by, t, *(c.alias(k) for k, c in flags.items()))
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            ((F.max(t) - F.min(t)) / step_ms + 1).cast("long").alias("expected_rows"),
            *(F.sum(k).alias(k) for k in flags),
        )
        .collect()
    )
    counted = ("n_rows", "expected_rows", *flags)
    report = {
        k: int(sum(r[k] or 0 for r in per_symbol)) if k in counted else None
        for k in REPORT_COUNTS
    }
    report["ok"] = (
        report["n_duplicate_keys"] == 0
        and report["n_non_monotonic"] == 0
        and report["n_missing_grid_rows"] == 0
        and not report["n_ts_mismatch"]
        and not report["n_bar_invariant_violations"]
        and report["n_rows"] == report["expected_rows"]
    )
    return report


REQUIRED_META_KEYS = ("symbol", "exchange", "market", "interval")


def fix_meta(
    root: str,
    defaults: dict | None = None,
    required: Sequence[str] = REQUIRED_META_KEYS,
) -> dict:
    """Repair a lake root's ``_meta.json`` sidecar.

    Reference parity: ``src/bfdl/transforms/fix_meta.py:1-33`` (patch a
    sidecar missing ``created_at_utc``), generalized to the three failure
    modes a sidecar actually has: missing file, unparseable JSON, missing
    required keys. Repairs are non-destructive — parseable keys are kept,
    the corrupt original is preserved at ``_meta.json.bak``.

    ``defaults`` supplies values for absent required keys (others get
    ``None`` so the repair is visible, not invented). Returns
    ``{"ok", "repaired", "missing_before", "meta"}``.
    """
    import datetime
    import json as _json
    import os as _os

    from binance_futures_data_lake_spark.sources import lake

    path = _os.path.join(root, "_meta.json")
    meta: dict = {}
    corrupt = False
    if _os.path.exists(path):
        try:
            with open(path) as f:
                loaded = _json.load(f)
            if isinstance(loaded, dict):
                meta = loaded
            else:
                corrupt = True
        except (ValueError, OSError):
            corrupt = True
    if corrupt:
        _os.replace(path, path + ".bak")

    missing = [k for k in required if k not in meta]
    for k in missing:
        meta[k] = (defaults or {}).get(k)
    if "created_at_utc" not in meta:  # the reference's original repair
        meta["created_at_utc"] = datetime.datetime.now(datetime.timezone.utc).isoformat()
        if not missing:
            missing = ["created_at_utc"]
    repaired = bool(missing) or corrupt
    if repaired:
        lake.write_meta(root, meta)
    return {"ok": True, "repaired": repaired, "missing_before": missing, "meta": meta}


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    content_cols: Sequence[str],
) -> DataFrame:
    """Release-to-release corpus diff — the lake-versioning audit between
    two snapshots of the same logical table (v_N parquet vs v_N+1 after a
    cleaning/dedup/redaction pass): which keys were ``added``,
    ``removed``, ``changed``, ``unchanged``?

    Comparison is by md5 content hash over ``content_cols`` (null-safe:
    each column is cast to string with a NULL sentinel and
    length-prefixed — ``concat_ws`` alone would collide ``('ab','c')``
    with ``('a','bc')`` and drop NULLs), so the shuffle carries ``key +
    one 32-char hash`` per row, never the payload — at 100 TB the diff
    moves ~50 bytes/row regardless of document size. One full outer join
    on the key (the only exchange on each side beyond the scan).

    Output: ``key_col, status`` — one row per key in either snapshot.
    """
    if not content_cols:
        raise ValueError("content_cols must be non-empty")

    def fingerprint(df: DataFrame, out: str) -> DataFrame:
        # Type tag OUTSIDE the value alphabet: NULL encodes as "N:" and a
        # value as "V<len>:<s>", so NULL can never collide with any string
        # (a bare "<NULL>" sentinel would hash a literal '<NULL>' value
        # and a true NULL identically).
        parts = []
        for c in content_cols:
            s = F.col(c).cast("string")
            parts.append(
                F.when(s.isNull(), F.lit("N:")).otherwise(
                    F.concat(F.lit("V"), F.length(s).cast("string"), F.lit(":"), s)
                )
            )
        return df.select(F.col(key_col), F.md5(F.concat(*parts)).alias(out))

    o = fingerprint(old, "__h_old")
    n = fingerprint(new, "__h_new")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") == F.col("__h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, key_col, "full_outer").select(
        F.col(key_col), status.alias("status")
    )
