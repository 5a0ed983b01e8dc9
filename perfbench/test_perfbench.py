"""The benchmark's own tests, at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

- a repeated seed gives identical inputs, identical ``lake.write_amp``,
  identical job counts per span and identical ``join_rows_out``;
- every metric BENCHMARK.json declares is emitted, with its unit.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import run  # noqa: E402
from datagen import KlinesEndpoint, write_tables  # noqa: E402
from tracing import Tracer, parse_metric  # noqa: E402
from workloads import CorpusDedup, LakeIngest  # noqa: E402


class TinyLake(LakeIngest):
    BASE_DAYS = 2


class TinyCorpus(CorpusDedup):
    SF = 0.001
    kinds = ("dedup_clusters",)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.prepare_env(tmp_path_factory.mktemp("bench"))
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    from binance_futures_data_lake_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def _one_round(w) -> tuple[dict, list[dict]]:
    w.build(0)
    for i, kind in enumerate(w.order(0)):
        w.op(kind, i)
        w.check(kind)
    spans = w.tr.finish()
    counts = {(s["name"], s["op"]): (s["jobs"], s["join_rows_out"]) for s in spans}
    return w.counts, counts


@pytest.mark.parametrize("cls", [TinyLake, TinyCorpus])
def test_repeated_seed_repeats_counts(spark, tmp_path, cls):
    first = _one_round(cls(spark, Tracer(spark, True), str(tmp_path / "a"), seed=5))
    second = _one_round(cls(spark, Tracer(spark, True), str(tmp_path / "b"), seed=5))
    assert first == second
    if cls is TinyLake:
        assert first[0]["lake.write_amp"][0] > 1.0
    else:
        assert sum(rows for _, rows in first[1].values()) > 0


def test_inputs_repeat_per_seed(tmp_path):
    for d in ("a", "b"):
        write_tables(str(tmp_path / d), 0.001, seed=9)
    for t in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / t).read_bytes() == (tmp_path / "b" / t).read_bytes(), t
    first = KlinesEndpoint(3, 0, 10 * 60_000)("BTCUSDT", 0, 1500)
    ep = KlinesEndpoint(3, 0, 10 * 60_000)
    ep.revise_before = 5 * 60_000
    revised = ep("BTCUSDT", 0, 1500)
    assert len(revised) == 10 and revised[5:] == first[5:]
    assert all(a[4] != b[4] for a, b in zip(revised[:5], first[:5]))
    assert all(float(k[3]) <= float(k[4]) <= float(k[2]) for k in revised)


def test_every_declared_metric_is_emitted_with_its_unit(spark, tmp_path):
    units = run.declared()
    w = TinyCorpus(spark, Tracer(spark, True), str(tmp_path), seed=1)
    w.build(0)
    res = run.measure(w, 0.0)
    layer = run.report(run.layer_metrics(w, w.tr.finish(), 1.0, res, w.tr), units["per_layer"])
    e2e = run.report({k: res.get(k, 1.0) for k in units["end_to_end"]}, units["end_to_end"])
    for got, want in ((layer, units["per_layer"]), (e2e, units["end_to_end"])):
        assert {k: v["unit"] for k, v in got.items()} == want
    assert res["failed"] == 0 and res["rounds"] == w.min_rounds
    with pytest.raises(RuntimeError):
        run.report({"setup_s": 1.0}, units["end_to_end"])


def test_parse_metric():
    assert parse_metric("100,000") == 100_000
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 B, 2.0 B, 3.0 B)") == 1536
    assert parse_metric("0.0 B") == 0
