"""ML pipeline operators (SURVEY §2.9, M1-M12).

The reference trains numpy logistic regression with temporal splits
(run_ml_m15_v1.py:67-75, run_ml_regime_week_v1.py:214-240). The Spark-first
re-expression is spark.ml: ``LogisticRegression`` over an assembled feature
vector, deterministic hash-based splits instead of RNG so results are
reproducible under any partitioning, and evaluation as plain DataFrame
aggregations (confusion counts / per-class precision-recall — SURVEY M9).

Everything distributed-friendly: transforms are narrow, and the returned
evaluation is a tiny aggregate — no driver-side materialization of the
training data beyond what spark.ml itself does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from binance_futures_data_lake_spark.functions.scalars import round_half_away


def deterministic_split(df: DataFrame, id_col: str, train_frac: float = 0.8):
    """Hash-based reproducible split (crc32 of the id modulo 1000) — stable
    across partitionings and engines, unlike randomSplit."""
    bucket = F.crc32(F.col(id_col).cast("string")) % 1000
    cut = int(train_frac * 1000)
    return df.filter(bucket < cut), df.filter(bucket >= cut)


def lr_on_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    train_frac: float = 0.8,
) -> DataFrame:
    """SURVEY M1/M3/M9: multinomial logistic regression on the embeddings
    table (reference: numpy one-vs-rest LR, run_ml_regime_week_v1.py:214-240
    → spark.ml multinomial LR). Deterministic 80/20 split; returns one row
    per class with support / predicted / correct counts and precision,
    recall, f1 — the macro-F1 surface of run_ml_regime_week_v1.py:87-116.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(label_col).cast("double").alias("label"),
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "features"
        ),
    ).filter(F.col("label").isNotNull())

    train, test = deterministic_split(base, "id", train_frac)
    lr = LogisticRegression(
        maxIter=50,
        regParam=0.01,
        elasticNetParam=0.0,  # L2 — the reference's ridge penalty (M1)
        family="multinomial",
        standardization=True,
    )
    model = lr.fit(train)
    pred = model.transform(test).select(
        F.col("label").cast("long").alias("label"),
        F.col("prediction").cast("long").alias("prediction"),
    )

    support = pred.groupBy("label").agg(F.count(F.lit(1)).alias("n_true"))
    predicted = pred.groupBy(F.col("prediction").alias("label")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    correct = (
        pred.filter(F.col("label") == F.col("prediction"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_correct"))
    )
    out = (
        support.join(predicted, "label", "full")
        .join(correct, "label", "full")
        .fillna(0, ["n_true", "n_pred", "n_correct"])
    )
    prec = F.col("n_correct") / F.nullif(F.col("n_pred").cast("double"), F.lit(0.0))
    rec = F.col("n_correct") / F.nullif(F.col("n_true").cast("double"), F.lit(0.0))
    f1 = 2 * prec * rec / F.nullif(prec + rec, F.lit(0.0))
    return out.select(
        "label",
        "n_true",
        "n_pred",
        "n_correct",
        round_half_away(prec, 4).alias("precision"),
        round_half_away(rec, 4).alias("recall"),
        round_half_away(f1, 4).alias("f1"),
    ).orderBy("label")


def lr_gd_weights(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    iters: int = 3,
    lr: float = 0.1,
) -> DataFrame:
    """Binary logistic regression by EXPLICIT full-batch gradient descent,
    as pure relational algebra — the oracle-checkable twin of
    ``lr_on_embeddings`` (whose LBFGS line search no SQL engine can
    replay). y = label % 2, w₀ = 0, and each iteration is

        w ← round6( w − lr/N · Σᵢ (σ(xᵢ·w) − yᵢ) · xᵢ )

    entirely in-plan: the feature matrix posexplodes ONCE into a long
    (id, pos, x) table; per iteration the 64-row weight table broadcast-
    joins onto it for the dot products and the gradient is one
    groupBy(pos) aggregate. No driver-side collect anywhere — the weight
    "vector" never leaves the cluster, so the same code shape trains on a
    billion-row embedding table (each iteration = one broadcast + two
    aggregations). Every float REDUCTION (dot products, gradient sums,
    weights) is 6-dp rounded in BOTH engines — a sum is the one place
    summation ORDER leaks engine-dependent drift, so rounding at each sum
    (not only at the weight update, r3 ADVICE) means every downstream
    stage consumes bit-identical inputs in both engines and the drift
    surface per rounding step is a single un-compounded float-sum.

    Output: ``(pos, weight)`` — the trained weight per feature dimension.
    """
    X = emb.select(
        F.col(id_col).alias("id"),
        (F.col(label_col) % 2).cast("double").alias("y"),
        F.posexplode(F.col(vec_col)),
    ).select("id", "y", F.col("pos"), F.col("col").cast("double").alias("x"))

    n_tbl = emb.select(F.count(F.lit(1)).cast("double").alias("n"))
    dims = X.select("pos").distinct()
    w = dims.withColumn("wt", F.lit(0.0))

    from binance_futures_data_lake_spark.functions.scalars import round6

    for _ in range(iters):
        dot = (
            X.join(F.broadcast(w), "pos")
            .groupBy("id", "y")
            .agg(round6(F.sum(F.col("x") * F.col("wt"))).alias("z"))
        )
        sig = dot.withColumn("err", 1.0 / (1.0 + F.exp(-F.col("z"))) - F.col("y"))
        grad = (
            X.join(sig.select("id", "err"), "id")
            .groupBy("pos")
            .agg(round6(F.sum(F.col("x") * F.col("err"))).alias("g"))
        )
        w = (
            w.join(grad, "pos")
            .join(F.broadcast(n_tbl))
            .select("pos", round6(F.col("wt") - F.lit(lr) * F.col("g") / F.col("n")).alias("wt"))
        )
    return w.select("pos", F.col("wt").alias("weight"))


def net_confidence_eval(
    scored: DataFrame,
    by,
    prob_col: str = "p",
    ret_col: str = "ret_fwd",
    keep_frac: float = 0.4,
    fee_bps: float = 4.0,
    slippage_bps: float = 1.0,
) -> DataFrame:
    """SURVEY M8 — the fee+slippage transaction-cost model
    (run_ml_m15_v1.py:167-186,229): ``cost_roundtrip = 2·(fee_bps +
    slippage_bps)/10⁴`` and every kept trade's return is netted
    ``r = side·ret_fwd − cost_roundtrip`` before the avg/sum/PF/winrate
    metrics, exactly ``evaluate_confidence``'s arithmetic. Confidence is
    ``|p − 0.5|``; the keep set is the top ``keep_frac`` by exact
    interpolated quantile (``np.quantile`` ≙ percentile/quantile_cont);
    ``side = +1`` iff ``p ≥ 0.5``.

    Shape: one exact-percentile aggregation per key (map-side partial),
    broadcast of the tiny per-key threshold table back onto the rows, one
    final aggregation — two shuffles total on the (small) key grain.
    """
    by = list(by)
    p, ret = F.col(prob_col), F.col(ret_col)
    base = scored.filter(p.isNotNull() & ret.isNotNull()).withColumn(
        "__conf", F.abs(p - 0.5)
    )
    q = max(0.0, 1.0 - float(keep_frac))
    th = base.groupBy(*by).agg(
        F.expr(f"percentile(__conf, {q!r})").alias("__thr"),
        F.count(F.lit(1)).alias("__n_all"),
    )
    cost = 2.0 * (float(fee_bps) + float(slippage_bps)) / 1e4
    kept = base.join(F.broadcast(th), by).filter(F.col("__conf") >= F.col("__thr"))
    side = F.when(p >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    rs = side * ret - F.lit(cost)
    gains = F.sum(F.when(rs > 0, rs).otherwise(0.0))
    losses = -F.sum(F.when(rs < 0, rs).otherwise(0.0))
    pf = F.when(losses <= 0, F.when(gains > 0, float("inf")).otherwise(0.0)).otherwise(
        gains / losses
    )
    n = F.count(F.lit(1))
    return kept.groupBy(*by).agg(
        round_half_away(n / F.first("__n_all"), 6).alias("keep_frac"),
        n.alias("n_trades"),
        round_half_away(F.avg(rs), 6).alias("avg_r"),
        round_half_away(F.sum(rs), 6).alias("sum_r"),
        round_half_away(pf, 6).alias("pf"),
        round_half_away(F.sum((rs > 0).cast("int")) / n, 6).alias("winrate"),
        round_half_away(F.first("__thr"), 6).alias("conf_threshold"),
    )


def net_confidence_grid(
    scored: DataFrame,
    by,
    prob_col: str = "p",
    ret_col: str = "ret_fwd",
    keep_fracs=(1.0, 0.8, 0.6, 0.5, 0.4, 0.3, 0.2),
    fee_bps: float = 4.0,
    slippage_bps: float = 1.0,
    min_trades: int = 50,
) -> DataFrame:
    """SURVEY M11 — the keep-fraction selection grid
    (run_ml_m15_v1.py:189-215 ``choose_keep_frac_val``): evaluate the
    cost-netted confidence metrics at EVERY candidate keep fraction,
    mark eligibility (``n_trades >= min_trades``) and the chosen best
    (max ``avg_r + 0.01·ln(max(pf, 1e-9))`` among eligible; the
    reference scans candidates in order and takes strictly-greater, so
    ties resolve to the earlier candidate).

    Shape: ONE percentile aggregation computes all thresholds at once
    (``percentile(conf, array(q₁..qₙ))``), the tiny (key × frac)
    threshold table broadcasts back, and the grid metrics are one
    aggregation over (key, frac) — no per-candidate rescan of the data,
    unlike the reference's loop. Scores rank over 6-dp-rounded metrics
    so the choice is engine-deterministic."""
    from pyspark.sql import Window

    by = list(by)
    p, ret = F.col(prob_col), F.col(ret_col)
    base = scored.filter(p.isNotNull() & ret.isNotNull()).withColumn(
        "__conf", F.abs(p - 0.5)
    )
    fracs = list(keep_fracs)
    qs = [max(0.0, 1.0 - float(k)) for k in fracs]
    q_arr = "array(" + ", ".join(repr(q) for q in qs) + ")"
    th = base.groupBy(*by).agg(
        F.expr(f"percentile(__conf, {q_arr})").alias("__thrs"),
        F.count(F.lit(1)).alias("__n_all"),
    )
    frac_idx = F.array(*[F.lit(float(k)) for k in fracs])
    th = (
        th.select(
            *by, "__n_all",
            F.posexplode(F.arrays_zip(frac_idx.alias("frac"), F.col("__thrs").alias("thr"))),
        )
        .select(
            *by, "__n_all",
            F.col("pos").alias("__ord"),
            F.col("col.frac").alias("candidate_keep_frac"),
            F.col("col.thr").alias("__thr"),
        )
    )
    cost = 2.0 * (float(fee_bps) + float(slippage_bps)) / 1e4
    kept = base.join(F.broadcast(th), by).filter(F.col("__conf") >= F.col("__thr"))
    side = F.when(p >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    rs = side * ret - F.lit(cost)
    gains = F.sum(F.when(rs > 0, rs).otherwise(0.0))
    losses = -F.sum(F.when(rs < 0, rs).otherwise(0.0))
    pf = F.when(losses <= 0, F.when(gains > 0, float("inf")).otherwise(0.0)).otherwise(
        gains / losses
    )
    n = F.count(F.lit(1))
    g = kept.groupBy(*by, "__ord", "candidate_keep_frac").agg(
        round_half_away(n / F.first("__n_all"), 6).alias("keep_frac"),
        n.alias("n_trades"),
        round_half_away(F.avg(rs), 6).alias("avg_r"),
        round_half_away(F.sum(rs), 6).alias("sum_r"),
        round_half_away(pf, 6).alias("pf"),
        round_half_away(F.sum((rs > 0).cast("int")) / n, 6).alias("winrate"),
        round_half_away(F.first("__thr"), 6).alias("conf_threshold"),
    )
    eligible = (F.col("n_trades") >= min_trades).cast("int")
    score = F.col("avg_r") + 0.01 * F.log(F.greatest(F.col("pf"), F.lit(1e-9)))
    w = Window.partitionBy(*by).orderBy(
        F.col("__elig").desc(), F.col("__score").desc(), F.col("__ord").asc()
    )
    out = (
        g.withColumn("__elig", eligible)
        .withColumn("__score", score)
        .withColumn(
            "is_best",
            ((F.row_number().over(w) == 1) & (F.col("__elig") == 1)).cast("int"),
        )
        .withColumn("eligible", F.col("__elig"))
    )
    return out.select(
        *by, "candidate_keep_frac", "keep_frac", "n_trades", "avg_r", "sum_r",
        "pf", "winrate", "conf_threshold", "eligible", "is_best",
    )


def quality_feature_vectors(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Per-document quality features as a fixed 6-dim vector (bias,
    scaled token count, scaled mean token length, stopword fraction,
    distinct-token ratio, scaled char count) plus the deterministic
    label ``y = 1 iff distinct_ratio ≥ 0.46`` (the corpus median — a
    stand-in for human quality labels that any SQL engine can replay).
    Every feature is 6-dp rounded so both engines feed the trainer
    bit-identical inputs. Zero-token documents are excluded (no
    denominator exists for the ratio features)."""
    from binance_futures_data_lake_spark.functions.scalars import round6
    from binance_futures_data_lake_spark.operators.text import CORE_STOPWORDS
    from binance_futures_data_lake_spark.operators.textdedup import words

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).cast("double").alias("n_chars"),
        words(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        "n_chars",
        F.size("__toks").cast("double").alias("n_tok"),
        F.aggregate(
            F.transform("__toks", lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("len_sum"),
        F.size(
            F.filter("__toks", lambda t: t.isin(*CORE_STOPWORDS))
        ).cast("double").alias("n_stop"),
        F.size(F.array_distinct("__toks")).cast("double").alias("n_uniq"),
    ).filter(F.col("n_tok") > 0)
    dr = round6(F.col("n_uniq") / F.col("n_tok"))
    return base.select(
        "doc_id",
        F.array(
            F.lit(1.0),
            round6(F.col("n_tok") / 100.0),
            round6(F.col("len_sum") / F.col("n_tok") / 10.0),
            round6(F.col("n_stop") / F.col("n_tok")),
            dr,
            round6(F.col("n_chars") / 500.0),
        ).alias("features"),
        F.when(dr >= 0.46, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )


def quality_classifier_train_score(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    iters: int = 3,
    lr: float = 0.1,
) -> "DataFrame":
    """Train-your-filter-inside-the-engine: derive quality features and
    labels (:func:`quality_feature_vectors`), train logistic regression by
    explicit full-batch GD (:func:`lr_gd_weights` — the same
    SQL-replayable recursion as ``ml_lr_gd_weights``), then score EVERY
    document with the trained weights and emit the keep decision — the
    end-to-end shape of a fastText/DSIR-style quality-filter stage, with
    the model never leaving the cluster (per iteration: one 6-row weight
    broadcast + two aggregations; scoring: one more broadcast join).

    Output: ``doc_id, label, p (6-dp), keep``.
    """
    from binance_futures_data_lake_spark.functions.scalars import round6

    # the GD recursion + final scoring walk this frame 7 times; feature
    # derivation is narrow/cheap so recomputation beats pinning executor
    # memory (measured: persist() buys nothing here — the wall is the
    # iteration count's sequential stage floors, inherent to GD)
    feat = quality_feature_vectors(docs, id_col, text_col)
    w = lr_gd_weights(
        feat, id_col="doc_id", vec_col="features", label_col="label",
        iters=iters, lr=lr,
    )
    xs = feat.select(
        "doc_id", "label", F.posexplode("features")
    ).select("doc_id", "label", "pos", F.col("col").alias("x"))
    z = (
        xs.join(F.broadcast(w), "pos")
        .groupBy("doc_id", "label")
        .agg(round6(F.sum(F.col("x") * F.col("weight"))).alias("z"))
    )
    p = round6(1.0 / (1.0 + F.exp(-F.col("z"))))
    return z.select(
        "doc_id",
        "label",
        p.alias("p"),
        F.when(p >= 0.5, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )
