"""ML surface helpers: deterministic splits, net-confidence evaluation and
the quality classifier."""

import pytest


def test_deterministic_split_stable_and_disjoint(spark):
    from binance_futures_data_lake_spark.operators.ml import deterministic_split

    df = spark.range(1000).withColumnRenamed("id", "k")
    a1, b1 = deterministic_split(df, "k", 0.8)
    a2, b2 = deterministic_split(df.repartition(17), "k", 0.8)
    sa1 = {r.k for r in a1.collect()}
    sa2 = {r.k for r in a2.collect()}
    sb1 = {r.k for r in b1.collect()}
    assert sa1 == sa2          # partitioning-independent
    assert sa1.isdisjoint(sb1)
    assert len(sa1) + len(sb1) == 1000
    assert 0.7 < len(sa1) / 1000 < 0.9


def test_net_confidence_eval_cost_arithmetic(spark):
    """M8 (run_ml_m15_v1.py:167-186): rs = side*ret - 2*(fee+slip)/1e4 on
    the kept set; keep all rows with keep_frac=1.0 so the numbers are
    hand-checkable."""
    from binance_futures_data_lake_spark.operators.ml import net_confidence_eval

    rows = [
        ("A", 0.9, 0.01),   # long, rs = 0.01 - 0.001 = 0.009
        ("A", 0.1, 0.02),   # short, rs = -0.02 - 0.001 = -0.021
        ("A", 0.8, -0.005),  # long, rs = -0.005 - 0.001 = -0.006
    ]
    df = spark.createDataFrame(rows, ["k", "p", "ret_fwd"])
    m = net_confidence_eval(
        df, ["k"], keep_frac=1.0, fee_bps=4.0, slippage_bps=1.0
    ).collect()[0]
    assert m["n_trades"] == 3
    assert m["sum_r"] == pytest.approx(0.009 - 0.021 - 0.006)
    assert m["winrate"] == pytest.approx(round(1 / 3, 6))
    assert m["pf"] == pytest.approx(round(0.009 / 0.027, 6))
    assert m["keep_frac"] == 1.0


def test_quality_classifier_learns_label_signal(spark):
    from binance_futures_data_lake_spark.operators.ml import (
        quality_classifier_train_score,
        quality_feature_vectors,
    )
    from binance_futures_data_lake_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    feat = quality_feature_vectors(docs)
    rows = feat.collect()
    assert rows and all(len(r.features) == 6 for r in rows)
    assert all(r.features[0] == 1.0 for r in rows)          # bias term
    assert {r.label for r in rows} == {0, 1}                # rule splits corpus

    out = quality_classifier_train_score(docs).collect()
    assert len(out) == len(rows)
    for r in out:
        assert 0.0 < r.p < 1.0
        assert r.keep == (1 if r.p >= 0.5 else 0)
    # 3 GD steps on a feature that IS the label rule must separate the
    # classes on average (full-batch descent moves toward the signal)
    p1 = [r.p for r in out if r.label == 1]
    p0 = [r.p for r in out if r.label == 0]
    assert sum(p1) / len(p1) > sum(p0) / len(p0)
