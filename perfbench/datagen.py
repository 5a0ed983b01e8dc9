"""Seeded inputs for the benchmark.

Everything the program under test reads is generated here from the
workload seed; the program never sees the seed itself.

- ``write_tables`` writes the ten parquet tables the registered queries
  read (region ... embeddings), shaped like the engine's test data: the
  same columns and types, the same value ranges and cardinalities per
  scale factor.
- ``KlinesEndpoint`` is an in-process klines REST endpoint (the Binance
  array payload ``poll.poll_pages`` consumes), with seeded prices and a
  revision window whose closes differ from what was served before.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window order data column join small customer query big stream "
    "group filter vector dup"
).split()
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64
N_LABELS = 10


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng: np.random.Generator, base: str, n_days: int, n: int) -> pa.Array:
    return _ts(base, rng.integers(0, n_days, n) * 86_400_000_000)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(vocab[words[at:at + k]]))
        at += k
    # a few exact duplicates, as the corpus dedup queries expect to find
    n_dup = max(1, n // 600)
    src = rng.choice(n, n_dup, replace=False)
    dst = rng.choice(n, n_dup, replace=False)
    for s, d in zip(src, dst):
        texts[d] = texts[s]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    vecs = centers[labels] + rng.normal(scale=0.9, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten query tables at scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    sizes = rng.integers(1, 51, n_part).astype(np.int32)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(rng.choice(["large ring", "small box", "medium bag", "jumbo pack"], n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 6, n_part) * 10 + rng.integers(1, 6, n_part)]),
        "p_type": pa.array(rng.choice(["LARGE", "SMALL", "MEDIUM", "JUMBO"], n_part)),
        "p_size": pa.array(sizes),
        "p_retailprice": pa.array(np.round(900.0 + sizes * 10.0 + rng.integers(0, 100, n_part), 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(800.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    # events: 30 days of ticks, distinct (user, ts), ordered by time
    offs = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", offs),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {"lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb}


MIN_MS = 60_000


def _uniform(seed: int, salt: int, keys: np.ndarray) -> np.ndarray:
    """splitmix64 of (seed, salt, key) -> uniform [0, 1), vectorized."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        z += np.uint64((seed * 1_000_003 + salt) & 0xFFFFFFFFFFFF)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


class KlinesEndpoint:
    """Deterministic klines REST endpoint for ``poll.poll_pages``.

    Serves one bar per minute from ``t0`` until ``t_end`` (exclusive),
    ascending from the first minute at or after ``startTime``, at most
    ``limit`` bars. Bars opening before ``revise_before`` carry a revised
    close (a seeded point between low and high), as a venue does when it
    corrects the newest candles after they were first published.
    """

    def __init__(self, seed: int, t0: int, t_end: int):
        self.seed, self.t0, self.t_end = seed, t0, t_end
        self.revise_before = t0
        self.calls = 0

    def bars(self, symbol: str, times: np.ndarray) -> dict[str, np.ndarray]:
        """open/high/low/close/revised_close for the minutes ``times``."""
        key = times // MIN_MS * 64 + sum(symbol.encode()) % 64
        u = [_uniform(self.seed, salt, key) for salt in range(5)]
        o = 100.0 + 10.0 * np.sin(times / (MIN_MS * 240.0)) + u[0]
        c = o * (1 + (u[1] - 0.5) * 0.004)
        hi = np.maximum(o, c) * (1 + u[2] * 0.002)
        lo = np.minimum(o, c) * (1 - u[3] * 0.002)
        return {"open": o, "high": hi, "low": lo, "close": c, "revised": lo + (hi - lo) * u[4]}

    def __call__(self, symbol: str, start_ms: int | None, limit: int):
        self.calls += 1
        start = self.t0 if start_ms is None else max(self.t0, -(-start_ms // MIN_MS) * MIN_MS)
        times = np.arange(start, min(self.t_end, start + limit * MIN_MS), MIN_MS, dtype=np.int64)
        b = self.bars(symbol, times)
        close = np.where(times < self.revise_before, b["revised"], b["close"])
        vol = 10.0 + (times // MIN_MS) % 7
        return [
            [int(t), repr(o), repr(h), repr(lo), repr(c), repr(v), int(t) + MIN_MS - 1,
             repr(v * o), 7, repr(v / 2), repr(v * o / 2), "0"]
            for t, o, h, lo, c, v in zip(
                times, b["open"], b["high"], b["low"], close, vol.astype(float))
        ]

