"""Corpus-curation operators: mixture rebalancing, per-domain caps,
shard assignment, and the seeded-IVF ANN tier."""

import math

import pytest
from pyspark.sql import Window, functions as F

from binance_futures_data_lake_spark.operators.curation import (
    domain_cap,
    mixture_rates,
    mixture_sample,
    with_shard,
)
from binance_futures_data_lake_spark.operators.sketch import uniform_hash
from binance_futures_data_lake_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = load_table(spark, "documents", SF).cache()
    df.count()
    return df


def test_mixture_rates_uniform_math(spark, docs):
    n_total = docs.count()
    n_sources = docs.select("source").distinct().count()
    rates = {r["source"]: r for r in mixture_rates(docs, "source", 0.4).collect()}
    assert set(rates) == {r.source for r in docs.select("source").distinct().collect()}
    for src, row in rates.items():
        want = min(1.0, (1.0 / n_sources) * 0.4 * n_total / row["n_source"])
        assert row["rate"] == pytest.approx(want, abs=1e-6)
        assert 0.0 < row["rate"] <= 1.0


def test_mixture_rates_explicit_shares_and_validation(spark, docs):
    srcs = [r.source for r in docs.select("source").distinct().collect()]
    shares = {srcs[0]: 1.0}  # whole budget to one source
    rates = {r["source"]: r["rate"]
             for r in mixture_rates(docs, "source", 0.2, shares).collect()}
    assert rates[srcs[0]] > 0.0
    for s in srcs[1:]:
        assert rates[s] == 0.0
    with pytest.raises(ValueError):
        mixture_rates(docs, "source", 0.0)
    with pytest.raises(ValueError):
        mixture_rates(docs, "source", 0.5, {srcs[0]: -0.1})


def test_mixture_sample_deterministic_and_on_budget(spark, docs):
    kept = mixture_sample(docs, "doc_id", "source", budget_frac=0.4)
    ids1 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    assert ids1 == ids2 and len(ids1) > 0
    n_total = docs.count()
    # hash thresholds are binomial draws; just bound the budget loosely
    assert 0.15 * n_total < len(ids1) < 0.75 * n_total
    # per-source counts respect each source's rate expectation within
    # binomial noise (4 sigma)
    rates = {r["source"]: (r["rate"], r["n_source"])
             for r in mixture_rates(docs, "source", 0.4).collect()}
    got = {r["source"]: r["n"] for r in
           kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, (rate, n_src) in rates.items():
        mean, sd = n_src * rate, math.sqrt(n_src * rate * (1 - rate))
        assert abs(got.get(src, 0) - mean) <= 4 * sd + 1


def test_domain_cap_matches_single_window_reference(spark, docs):
    cap = 7
    capped = domain_cap(docs, "doc_id", "source", cap)
    sizes = capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    full = {r["source"]: r["n"] for r in
            docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in sizes:
        assert r["n"] == min(cap, full[r["source"]])
    # two-phase == single-window reference selection
    w = Window.partitionBy("source").orderBy(
        uniform_hash(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    ref = (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select("doc_id")
    )
    got = sorted(r.doc_id for r in capped.select("doc_id").collect())
    want = sorted(r.doc_id for r in ref.collect())
    assert got == want
    with pytest.raises(ValueError):
        domain_cap(docs, "doc_id", "source", 0)


def test_shard_assignment_stable_and_bounded(spark, docs):
    sharded = with_shard(docs, "doc_id", 8)
    rng = sharded.agg(F.min("shard"), F.max("shard")).first()
    assert rng[0] >= 0 and rng[1] <= 7
    # partitioning-independent: same assignment after a repartition
    a = {r.doc_id: r.shard for r in sharded.select("doc_id", "shard").collect()}
    b = {r.doc_id: r.shard
         for r in with_shard(docs.repartition(13), "doc_id", 8)
         .select("doc_id", "shard").collect()}
    assert a == b
    with pytest.raises(ValueError):
        with_shard(docs, "doc_id", 0)


def test_seeded_ivf_recall_and_determinism(spark):
    from binance_futures_data_lake_spark.operators.similarity import (
        brute_force_topk, ivf_seed_centroids, ivf_seeded_topk,
    )

    emb = load_table(spark, "embeddings", SF).cache()
    emb.count()
    cents = ivf_seed_centroids(emb, num_cells=8)
    assert len(cents) == 8 and len(cents[0]) == 64
    assert cents == ivf_seed_centroids(emb, num_cells=8)  # deterministic
    queries = emb.filter(F.col("vec_id") < 10)
    approx = ivf_seeded_topk(emb, queries, cents, k=5, nprobe=3)
    got = {(r.q_id, r.neighbor_id) for r in approx.collect()}
    exact = {(r.q_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}
    # probing 3/8 cells must find a reasonable share of true neighbors
    assert len(got & exact) / len(exact) >= 0.25
    # every query returns k ranked rows (corpus >> k in every probed cell)
    per_q = {r.q_id: r.rnk for r in approx.collect()}
    assert set(per_q) == set(range(10))


def test_pack_sequences_invariants(spark, docs):
    from binance_futures_data_lake_spark.operators.curation import pack_sequences
    from binance_futures_data_lake_spark.operators.textdedup import words

    B = 64
    seg = pack_sequences(docs, B).cache()
    rows = seg.collect()
    assert rows, "packing produced no segments"

    # per-document: segments cover [0, n_tok) exactly, in seq order
    by_doc = {}
    for r in rows:
        by_doc.setdefault((r.shard, r.doc_id), []).append(r)
    for (_, _), segs in by_doc.items():
        segs.sort(key=lambda r: r.seq_id)
        assert segs[0].tok_start == 0
        assert sum(s.tok_len for s in segs) == segs[0].n_tok
        for a, b in zip(segs, segs[1:]):
            assert b.seq_id == a.seq_id + 1       # consecutive sequences
            assert b.tok_start == a.tok_start + a.tok_len
            assert b.seq_offset == 0              # continuation starts a sequence

    # per-sequence: every sequence except each shard's last is exactly full,
    # and segments tile [0, B) without gaps
    by_seq = {}
    for r in rows:
        by_seq.setdefault((r.shard, r.seq_id), []).append(r)
    last_seq = {}
    for shard, seq_id in by_seq:
        last_seq[shard] = max(last_seq.get(shard, -1), seq_id)
    for (shard, seq_id), segs in by_seq.items():
        segs.sort(key=lambda r: r.seq_offset)
        assert segs[0].seq_offset == 0
        for a, b in zip(segs, segs[1:]):
            assert b.seq_offset == a.seq_offset + a.tok_len
        total = sum(s.tok_len for s in segs)
        if seq_id < last_seq[shard]:
            assert total == B
        else:
            assert 0 < total <= B

    # token accounting matches the tokenizer
    n_tok_truth = dict(
        docs.select("doc_id", F.size(words(F.col("text"))).alias("n")).collect()
    )
    got = {d: segs[0].n_tok for (_, d), segs in by_doc.items()}
    assert got == {d: n for d, n in n_tok_truth.items() if n > 0}

    with pytest.raises(ValueError):
        pack_sequences(docs, 0)


def test_pack_sequences_skips_empty_docs_and_splits_long(spark):
    from binance_futures_data_lake_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [
            (1, "a b c d e", "s"),
            (2, "   ", "s"),                      # empty after tokenize
            (3, " ".join(["t"] * 11), "s"),       # straddles 2 boundaries at B=4
        ],
        ["doc_id", "text", "source"],
    )
    segs = {(r.doc_id, r.seq_id): r for r in pack_sequences(df, 4).collect()}
    assert not any(d == 2 for d, _ in segs)       # empty doc emits nothing
    # doc1: 5 tokens -> seqs 0 (4 toks) and 1 (1 tok)
    assert segs[(1, 0)].tok_len == 4 and segs[(1, 1)].tok_len == 1
    # doc3 starts at stream pos 5 -> spans seqs 1..3
    assert [segs[(3, s)].tok_len for s in (1, 2, 3)] == [3, 4, 4]
    assert segs[(3, 1)].seq_offset == 1 and segs[(3, 2)].seq_offset == 0


def test_pack_nextfit_matches_python_reference(spark, docs):
    from binance_futures_data_lake_spark.operators.curation import (
        pack_sequences_nextfit,
    )
    from binance_futures_data_lake_spark.operators.textdedup import words

    B = 64
    got = {r.doc_id: r for r in pack_sequences_nextfit(docs, B).collect()}

    toks = (
        docs.select("source", "doc_id", F.size(words(F.col("text"))).alias("n"))
        .filter(F.col("n") > 0)
        .collect()
    )
    by_shard = {}
    for r in sorted(toks, key=lambda r: (r.source, r.doc_id)):
        by_shard.setdefault(r.source, []).append(r)
    want = {}
    for shard, rows in by_shard.items():
        fill, sid = 0, 0
        for r in rows:
            eff = min(r.n, B)
            if fill + eff <= B:
                off = fill
                fill += eff
            else:
                sid += 1
                off = 0
                fill = eff
            want[r.doc_id] = (shard, r.n, sid, off, eff, int(r.n > B))
    assert len(got) == len(want)
    for d, (shard, n, sid, off, eff, trunc) in want.items():
        g = got[d]
        assert (g.shard, g.n_tok, g.seq_id, g.seq_offset, g.tok_len, g.truncated) == (
            shard, n, sid, off, eff, trunc
        )
    # whole-doc integrity: exactly one row per doc, never split
    assert sorted(got) == sorted(want)
    # per-sequence budget honored
    per_seq = {}
    for g in got.values():
        per_seq.setdefault((g.shard, g.seq_id), 0)
        per_seq[(g.shard, g.seq_id)] += g.tok_len
    assert all(v <= B for v in per_seq.values())
    # bucketed kernel is partitioning-independent
    got2 = {
        r.doc_id: (r.seq_id, r.seq_offset)
        for r in pack_sequences_nextfit(docs.repartition(7), B).collect()
    }
    assert got2 == {d: (g.seq_id, g.seq_offset) for d, g in got.items()}

    with pytest.raises(ValueError):
        pack_sequences_nextfit(docs, -1)


# ---------------------------------------------------------------------------
# token_budget_plan: capped water-filling epoch planner
# ---------------------------------------------------------------------------


def _greedy_waterfill(sizes, weights, budget_frac_pct, max_epochs_pct):
    """Sequential reference: iteratively saturate sources whose cap is
    below the current fair share, then split the rest proportionally."""
    t_num = sum(sizes.values()) * budget_frac_pct
    caps = {s: sizes[s] * max_epochs_pct for s in sizes}
    active = dict(weights)
    alloc = {}
    while True:
        w_left = sum(active.values())
        budget_left = t_num - sum(caps[s] for s in alloc)
        saturated_now = [
            s for s in active if caps[s] * w_left <= active[s] * budget_left
        ]
        if not saturated_now:
            break
        for s in saturated_now:
            alloc[s] = caps[s] / 100.0
            del active[s]
        if not active:
            break
    w_left = sum(active.values())
    budget_left = t_num - sum(caps[s] for s in alloc)
    for s in active:
        alloc[s] = (weights[s] * budget_left) / (w_left * 100.0)
    return alloc


def test_token_budget_plan_invariants(spark, docs):
    from binance_futures_data_lake_spark.operators.curation import token_budget_plan

    plan = {
        r["source"]: r
        for r in token_budget_plan(
            docs, budget_frac_pct=40, max_epochs_pct=200,
            weights={"src0": 25, "src1": 12},
        ).collect()
    }
    total_tokens = sum(r["tokens"] for r in plan.values())
    budget = 0.4 * total_tokens
    cap_sum = 2.0 * total_tokens
    got_sum = sum(r["alloc_tokens"] for r in plan.values())
    assert got_sum == pytest.approx(min(budget, cap_sum), rel=1e-9)
    for src, r in plan.items():
        cap = 2.0 * r["tokens"]
        assert r["alloc_tokens"] <= cap + 1e-6
        assert r["alloc_tokens"] >= -1e-9
        # saturated flag is exactly "allocation == cap"
        assert (r["saturated"] == 1) == (abs(r["alloc_tokens"] - cap) < 1e-6)
        assert r["epochs"] == pytest.approx(r["alloc_tokens"] / r["tokens"], abs=2e-6)
    # the up-weighted sources hit their caps; unit-weight sources share one
    # water level (equal allocation regardless of their size)
    assert plan["src0"]["saturated"] == 1 and plan["src1"]["saturated"] == 1
    unit = [r["alloc_tokens"] for s, r in plan.items() if s not in ("src0", "src1")]
    assert max(unit) - min(unit) < 1e-6


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_token_budget_plan_matches_greedy_reference(spark, seed):
    import random

    from binance_futures_data_lake_spark.operators.curation import token_budget_plan

    rng = random.Random(seed)
    n_src = rng.randint(2, 9)
    sizes = {f"s{i}": rng.randint(1, 10_000) for i in range(n_src)}
    weights = {f"s{i}": rng.choice([1, 1, 2, 5, 40]) for i in range(n_src)}
    frac = rng.choice([10, 40, 75, 100])
    epochs_pct = rng.choice([50, 100, 200, 400])
    rows = [
        (src, i, sizes[src] if i == 0 else 0)
        for src in sizes
        for i in range(rng.randint(1, 3))
    ]
    df = spark.createDataFrame(rows, ["source", "i", "n_chars"])
    got = {
        r["source"]: r["alloc_tokens"]
        for r in token_budget_plan(
            df, budget_frac_pct=frac, max_epochs_pct=epochs_pct, weights=weights
        ).collect()
    }
    want = _greedy_waterfill(sizes, weights, frac, epochs_pct)
    assert set(got) == set(want)
    for src in want:
        assert got[src] == pytest.approx(want[src], rel=1e-9, abs=1e-6), (
            src, sizes, weights, frac, epochs_pct,
        )


def test_token_budget_plan_validation(spark, docs):
    from binance_futures_data_lake_spark.operators.curation import token_budget_plan

    with pytest.raises(ValueError):
        token_budget_plan(docs, budget_frac_pct=0)
    with pytest.raises(ValueError):
        token_budget_plan(docs, weights={"src0": 0})
    with pytest.raises(ValueError):
        token_budget_plan(docs, default_weight=-1)


def test_temperature_mixture_rates_math(spark):
    """α=0.5 shares flatten skew: a 10000:100 source imbalance becomes
    sqrt-proportional (10:1), rare-source rate exceeds its natural share
    rate, and α=1 reproduces mixture_rates' natural allocation."""
    import math

    from binance_futures_data_lake_spark.operators.curation import (
        temperature_mixture_rates, temperature_mixture_sample,
    )

    rows = [(i, "big") for i in range(10000)] + [
        (100000 + i, "rare") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    r = {x["source"]: x for x in
         temperature_mixture_rates(df, "source", 0.4, 0.5).collect()}
    w_big, w_rare = round(math.sqrt(10000) * 1e6), round(math.sqrt(100) * 1e6)
    assert r["big"]["share"] == pytest.approx(w_big / (w_big + w_rare), abs=1e-6)
    assert r["rare"]["share"] == pytest.approx(w_rare / (w_big + w_rare), abs=1e-6)
    # rare gets 1/11 of a 4040-doc budget = ~367 wanted from 100 docs -> cap
    assert r["rare"]["rate"] == 1.0
    assert 0 < r["big"]["rate"] < 0.4
    # sampling respects the capped rate: every rare doc survives
    kept = temperature_mixture_sample(df, "doc_id", "source", 0.4, 0.5)
    by_src = {s["source"]: s["n"] for s in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["rare"] == 100
    assert 0 < by_src["big"] < 10000
    with pytest.raises(ValueError):
        temperature_mixture_rates(df, "source", 0.4, alpha=0.0)
    with pytest.raises(ValueError):
        temperature_mixture_rates(df, "source", 1.5)


# ---------------------------------------------------------------- DSIR


def _dsir_toy(spark):
    """20 'science' target docs, 40 junk + 20 science-adjacent raw docs."""
    rows = []
    sci = "quantum electron proton neutron orbital spin lattice boson"
    junk = "click here buy now free offer winner prize casino jackpot"
    for i in range(20):
        rows.append((i, sci + f" study {i % 3}", True))
    for i in range(20, 40):
        rows.append((i, sci + f" study {i % 5}", False))  # target-like raw
    for i in range(40, 80):
        rows.append((i, junk + f" deal {i % 7}", False))
    return spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")


def test_dsir_weights_discriminate(spark):
    from binance_futures_data_lake_spark.operators.curation import (
        dsir_fit, dsir_logweights,
    )

    pool = _dsir_toy(spark)
    lam = dsir_fit(pool, F.col("is_t"), n_buckets=256)
    assert len(lam) == 256 and all(isinstance(v, int) for v in lam)
    w = {r["doc_id"]: r["logw"] for r in dsir_logweights(pool, lam).collect()}
    sci_like = [w[i] for i in range(20, 40)]
    junky = [w[i] for i in range(40, 80)]
    assert min(sci_like) > max(junky)  # clean separation on planted vocab
    # exact long arithmetic: logw is a multiple of 1e-6 (micro-λ sums)
    for v in w.values():
        assert abs(v * 1e6 - round(v * 1e6)) < 1e-6


def test_dsir_select_topk_and_determinism(spark):
    from binance_futures_data_lake_spark.operators.curation import dsir_select

    pool = _dsir_toy(spark)
    kept = dsir_select(pool, F.col("is_t"), k=30, n_buckets=256).collect()
    assert len(kept) == 30
    ids = {r["doc_id"] for r in kept}
    # Gumbel resampling keeps mostly target-like docs, junk nearly never:
    # the planted logw gap (> 20 nats) dwarfs Gumbel noise (~±3)
    assert sum(1 for i in ids if i < 40) >= 28
    again = dsir_select(pool, F.col("is_t"), k=30, n_buckets=256).collect()
    assert [tuple(r) for r in kept] == [tuple(r) for r in again]  # seeded


def test_dsir_empty_and_unseen_docs(spark):
    from binance_futures_data_lake_spark.operators.curation import (
        dsir_fit, dsir_logweights,
    )

    pool = _dsir_toy(spark)
    lam = dsir_fit(pool, F.col("is_t"), n_buckets=64)
    extra = spark.createDataFrame(
        [(900, "   "), (901, "zzzz unseen gram wholly novel")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dsir_logweights(extra, lam).collect()}
    assert rows[900]["n_grams"] == 0 and rows[900]["logw"] == 0.0
    assert rows[901]["n_grams"] == 5 + 4  # unigrams + bigrams


def test_dsir_null_target_counts_as_raw(spark):
    """A NULL target predicate (e.g. null source) must classify the doc
    as raw-only — F.when(null) falls to otherwise — not poison the fit."""
    from binance_futures_data_lake_spark.operators.curation import (
        dsir_fit, dsir_logweights,
    )

    pool = spark.createDataFrame(
        [(1, "alpha beta gamma", "t"), (2, "alpha beta gamma", None),
         (3, "zzz qqq www", "r")],
        "doc_id long, text string, grp string",
    )
    lam = dsir_fit(pool, F.col("grp") == "t", n_buckets=64)
    out = dsir_logweights(pool, lam).collect()
    assert len(out) == 3  # null-target doc scored like any other
    w = {r["doc_id"]: r["logw"] for r in out}
    assert w[1] == w[2]  # identical text -> identical weight
    assert w[1] > w[3]   # target vocab outweighs junk
