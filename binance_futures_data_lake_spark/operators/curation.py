"""Corpus-curation operators for training-data pipelines: mixture
rebalancing, per-domain caps, and sharded training export.

These are the steps between "filtered corpus" and "training run" in an
LLM data pipeline (the post-dedup half of the reference's lake-building
role — staged parquet artifacts, src/bfdl/sources/lake-style — applied
to document corpora):

- **Mixture rebalancing** (:func:`mixture_rates` / :func:`mixture_sample`):
  a raw crawl is dominated by a few huge sources; training recipes
  prescribe per-source shares. Rates are derived IN-PLAN from per-source
  counts (one tiny aggregate broadcast back), and sampling is the same
  deterministic md5 hash-threshold primitive as operators/sampling.py —
  reproducible across runs, engines, and partitionings, so a sampled
  aggregate is still oracle-checkable.
- **Per-domain caps** (:func:`domain_cap`): keep at most ``cap`` documents
  per domain/source (the RefinedWeb/C4-style anti-spam rule). Selection
  is "the cap smallest md5 hashes per group" — a deterministic uniform
  draw without RNG state. Scale shape: a count-derived hash PREFILTER
  bounds each group to ~2·cap expected survivors BEFORE the rank window,
  so the window never sorts a hot domain's millions of rows — the same
  two-phase trick as top-k via TakeOrderedAndProject, expressed on a
  per-group budget.
- **Sharded export** (:func:`with_shard` / :func:`shard_manifest` /
  :func:`write_shards`): training jobs read fixed-count shard files with
  a manifest. Shard id is an md5 bucket of the doc key — deterministic,
  uniform, and independent of partitioning — and the parquet write is
  ``partitionBy(shard)`` so each shard is a self-contained directory a
  data loader can claim. The manifest is a per-shard aggregate (rows,
  chars, id range, content checksum) computed from the SAME plan, so a
  loader can verify a shard without trusting the writer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.sketch import TWO_POW_60, uniform_hash


def mixture_rates(
    df: DataFrame,
    source_col: str,
    budget_frac: float,
    target_shares: dict[str, float] | None = None,
) -> DataFrame:
    """Per-source keep rates that hit a target mixture at a total budget.

    ``budget_N = budget_frac × N``; source ``s`` with target share ``w_s``
    gets ``rate_s = min(1, w_s × budget_N / n_s)``. ``target_shares=None``
    means a UNIFORM mixture (``w_s = 1/|S|``) — the common "flatten the
    source skew" recipe. Shares are computed entirely in-plan: one
    per-source count aggregate (map-side combined, |S| rows) crossed with
    the 1-row total — no driver-side collect, so the rate table is valid
    at any corpus size.

    Output: ``source_col, n_source, rate`` (6-dp rate for engine parity).
    """
    if not (0.0 < budget_frac <= 1.0):
        raise ValueError(f"budget_frac must be in (0, 1], got {budget_frac}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_source"))
    total = df.select(
        F.count(F.lit(1)).alias("n_total"),
        F.count_distinct(F.col(source_col)).alias("n_sources"),
    )
    rated = counts.join(F.broadcast(total))
    if target_shares is None:
        share = 1.0 / F.col("n_sources")
    else:
        bad = {k: v for k, v in target_shares.items() if v < 0}
        if bad:
            raise ValueError(f"negative target shares: {bad}")
        share = F.lit(0.0)
        for name, w in sorted(target_shares.items(), reverse=True):
            share = F.when(F.col(source_col) == name, F.lit(w)).otherwise(share)
    rate = F.least(
        F.lit(1.0),
        share * F.lit(budget_frac) * F.col("n_total") / F.col("n_source"),
    )
    # round to 6 dp so the Spark filter and a SQL oracle threshold agree
    # bit-for-bit (the division is engine-identical, but keep the contract
    # uniform with every other oracle-compared double)
    from binance_futures_data_lake_spark.functions.scalars import round6

    return rated.select(source_col, "n_source", round6(rate).alias("rate"))


def mixture_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    budget_frac: float,
    target_shares: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministically sample ``df`` to the target source mixture.

    The rate table (|S| rows) broadcast-joins back onto the corpus and the
    keep decision is ``uniform_hash(key) < rate`` — one narrow filter per
    row after a broadcast join, no corpus shuffle. Keys keep a consistent
    fate across tables sampled with the same key (operators/sampling.py).
    """
    rates = mixture_rates(df, source_col, budget_frac, target_shares)
    return (
        df.join(F.broadcast(rates.select(source_col, "rate")), source_col)
        .filter(uniform_hash(F.col(key_col)) < F.col("rate"))
        .drop("rate")
    )


def domain_cap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    cap: int,
    prefilter_oversample: float = 2.0,
) -> DataFrame:
    """Keep at most ``cap`` rows per ``group_col``, chosen as the ``cap``
    smallest ``(uniform_hash(key), key)`` per group — a deterministic
    uniform draw (no RNG state, stable across engines and runs).

    Two-phase for scale: groups larger than the budget are first cut by a
    hash threshold ``p = min(1, oversample × cap / n_group)`` (a narrow
    filter after a broadcast of the |groups|-row count table), THEN the
    exact rank window runs on ~oversample·cap expected rows per group.
    A 100M-row spam domain contributes ~2·cap rows to the window sort
    instead of 100M. Because the prefilter keeps the SMALLEST hashes —
    exactly the rows the final rank selects — the two-phase result equals
    the single-window result unless a group's cap-th smallest hash
    exceeds p (Chernoff-improbable at oversample ≥ 2; and any engine
    running the same two phases agrees bit-for-bit regardless).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if prefilter_oversample < 1.0:
        raise ValueError("prefilter_oversample must be >= 1")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n_grp"))
    p = F.least(F.lit(1.0), F.lit(prefilter_oversample * cap) / F.col("__n_grp"))
    hv = uniform_hash(F.col(key_col))
    pre = (
        df.join(F.broadcast(counts), group_col)
        .filter(hv < p)
        .drop("__n_grp")
    )
    w = Window.partitionBy(group_col).orderBy(hv.asc(), F.col(key_col).asc())
    return (
        pre.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def with_shard(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Add a ``shard`` column: md5 bucket of the key into [0, n_shards).

    Deterministic and partitioning-independent — the same doc lands in the
    same shard on every run and engine (same '0x'||substr(md5(·)) idiom as
    sketch.uniform_hash), unlike ``pmod(hash(...))`` whose seed is Spark-
    internal. Uniform to ~n_shards/16^15 bias (exact enough for any
    practical shard count).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    return df.withColumn("shard", (h % n_shards).cast("int"))


def shard_manifest(
    sharded: DataFrame,
    key_col: str,
    size_col: str | None = None,
) -> DataFrame:
    """Per-shard manifest: row count, byte-ish size, key range, and an
    order-insensitive content checksum (XOR of 60-bit key hashes — two
    engines/readers computing it over a shard agree regardless of row
    order, any single dropped/duplicated row changes it, and unlike a
    sum it cannot overflow under ANSI arithmetic).

    Output: ``shard, n_rows, n_bytes, min_key, max_key, key_checksum``.
    """
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.col(size_col)) if size_col else F.lit(None).cast("long")).alias(
            "n_bytes"
        ),
        F.min(F.col(key_col)).alias("min_key"),
        F.max(F.col(key_col)).alias("max_key"),
        F.bit_xor(h).alias("key_checksum"),
    ]
    return sharded.groupBy("shard").agg(*aggs)


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay every shard's documents
    (ordered by id) end-to-end into one token stream and cut it into
    fixed ``budget_tokens`` training sequences, splitting documents that
    straddle a boundary — the standard GPT-style pretraining packing
    (zero padding waste; every sequence except each shard's last is
    exactly full).

    Output is one row per (document × sequence) SEGMENT — the loader-side
    assignment table::

        shard, doc_id, n_tok, seq_id, seq_offset, tok_start, tok_len

    ``seq_id`` is the shard-local sequence index, ``seq_offset`` the
    token position inside that sequence where the segment begins, and
    ``[tok_start, tok_start+tok_len)`` the slice of the document it
    carries. A document spanning k boundaries emits k+1 rows via an
    in-plan ``sequence()`` explode — no driver loop, no UDF.

    Scale shape: ONE window (running token total) per shard, keyed and
    ordered — packing is inherently serial *within* a shard (the stream
    order defines the sequences), so the shard key bounds the serial
    extent; a 100 TB corpus packs with fine-grained shards (e.g. the
    md5 buckets of :func:`with_shard`), giving |shards|-way parallelism
    with each window sorting only its own shard. All index arithmetic is
    exact long division (``div``), not float ``floor`` — document streams
    beyond 2^53 tokens would silently mis-cut on doubles.

    Empty documents (0 tokens) occupy no stream positions and emit no
    segments, by construction of the concat semantics.
    """
    from binance_futures_data_lake_spark.operators.textdedup import words

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    b = int(budget_tokens)
    t = (
        docs.select(
            F.col(shard_col).alias("shard"),
            F.col(id_col).alias("doc_id"),
            F.size(words(F.col(text_col))).cast("long").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("n_tok").over(
                    Window.partitionBy("shard")
                    .orderBy("doc_id")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("first_seq", F.expr(f"cum_before div {b}"))
        .withColumn("last_seq", F.expr(f"(cum_before + n_tok - 1) div {b}"))
        .withColumn("seq_id", F.explode(F.sequence("first_seq", "last_seq")))
    )
    tok_start = F.greatest(F.col("seq_id") * b - F.col("cum_before"), F.lit(0).cast("long"))
    tok_end = F.least((F.col("seq_id") + 1) * b - F.col("cum_before"), F.col("n_tok"))
    return t.select(
        "shard",
        "doc_id",
        "n_tok",
        "seq_id",
        (F.col("cum_before") + tok_start - F.col("seq_id") * b).alias("seq_offset"),
        tok_start.alias("tok_start"),
        (tok_end - tok_start).alias("tok_len"),
    )


def pack_sequences_nextfit(
    docs: DataFrame,
    budget_tokens: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int | None = None,
) -> DataFrame:
    """Whole-document next-fit packing — the no-split discipline
    (SFT-style: a document never straddles sequences): per shard, in doc
    order, a document joins the current sequence iff it fits the
    remaining budget, else it starts a new one. Documents longer than
    the budget occupy a sequence alone, truncated to the budget
    (``truncated = 1``). Unlike :func:`pack_sequences` this wastes the
    per-sequence tail as padding — the price of document integrity.

    One row per document::

        shard, doc_id, n_tok, seq_id, seq_offset, tok_len, truncated

    The fill state recurses on its own previous value (not a closed-form
    window), so the Spark side is a bucketed ``applyInPandas`` kernel —
    shuffle key ``hash(shard) % num_buckets`` exactly like
    functions/ewm.ewm_apply, so Python-call overhead is
    shard-count-independent; inside the kernel the per-shard loop is
    O(docs) over two scalars of state. The oracle replays the same
    machine as a recursive CTE.
    """
    from pyspark.sql import types as T

    from binance_futures_data_lake_spark.operators.textdedup import words

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    b = int(budget_tokens)

    t = docs.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("doc_id"),
        F.size(words(F.col(text_col))).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)

    out_schema = T.StructType([
        T.StructField("shard", t.schema["shard"].dataType),
        # like shard, the id type follows the input (id_col invites
        # string/int ids) — hardcoding LongType would silently Arrow-cast
        # or fail for non-long callers, unlike pack_sequences
        T.StructField("doc_id", t.schema["doc_id"].dataType),
        T.StructField("n_tok", T.LongType()),
        T.StructField("seq_id", T.LongType()),
        T.StructField("seq_offset", T.LongType()),
        T.StructField("tok_len", T.LongType()),
        T.StructField("truncated", T.IntegerType()),
    ])

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["shard", "doc_id"], kind="mergesort")
        n_tok = pdf["n_tok"].to_numpy()
        eff = np.minimum(n_tok, b)
        seq = np.empty(len(pdf), dtype=np.int64)
        off = np.empty(len(pdf), dtype=np.int64)
        shards = pdf["shard"].to_numpy()
        cur_shard, fill, sid = None, 0, 0
        for i in range(len(pdf)):
            if shards[i] != cur_shard:
                cur_shard, fill, sid = shards[i], 0, 0
            if fill + eff[i] <= b:
                off[i] = fill
                fill += eff[i]
            else:
                sid += 1
                off[i] = 0
                fill = eff[i]
            seq[i] = sid
        return pd.DataFrame({
            "shard": pdf["shard"],
            "doc_id": pdf["doc_id"],
            "n_tok": n_tok,
            "seq_id": seq,
            "seq_offset": off,
            "tok_len": eff,
            "truncated": (n_tok > b).astype(np.int32),
        })

    nb = num_buckets or max(
        int(t.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        t.sparkSession.sparkContext.defaultParallelism,
    )
    bucketed = t.withColumn("__pk_bucket", F.pmod(F.xxhash64("shard"), F.lit(nb)))
    return bucketed.groupBy("__pk_bucket").applyInPandas(kernel, schema=out_schema)


def token_budget_plan(
    df: DataFrame,
    budget_frac_pct: int = 40,
    max_epochs_pct: int = 200,
    source_col: str = "source",
    size_col: str = "n_chars",
    weights: dict[str, int] | None = None,
    default_weight: int = 1,
) -> DataFrame:
    """Epoch planner: allocate a total training-token budget across
    sources under per-source epoch caps (the LLaMA/DoReMi-style "how many
    epochs of each source" computation that turns a mixture recipe into a
    concrete sampling plan).

    Source ``s`` with integer weight ``w_s`` (default uniform) receives
    ``a_s = min(cap_s, lambda * w_s)`` tokens, where
    ``cap_s = max_epochs * tokens_s`` and the water level ``lambda`` is
    chosen so that ``sum(a_s) = min(budget, sum(cap_s))`` — capped
    proportional water-filling. The greedy solution is relational: sort
    the |S| sources ascending by ``cap_s / w_s``; a source saturates iff
    ``cap_s * (W - cumw_prev) <= w_s * (T - cumcap_prev)`` over exclusive
    prefix sums in that order (saturation is a prefix property — proven
    monotone, see tests/test_curation.py property check vs a sequential
    reference), and the final water level comes from one conditional
    aggregate broadcast back.

    Exactness contract: budget and caps are integers in 1/100-token units
    (``budget_frac_pct``/``max_epochs_pct`` are percents), and every
    integer product — the pct scalings ``tokens * max_epochs_pct`` /
    ``sum(tokens) * budget_frac_pct`` as much as the saturation
    cross-products — is computed in DECIMAL (tokens cast to
    decimal(20,0) BEFORE multiplying, so precision grows instead of the
    int64 silent wraparound non-ANSI Spark would produce past ~4.6e16
    tokens at 200 pct). Doubles appear only in the final allocation
    division, rounded 6 dp. A SQL oracle replays every step exactly
    (DuckDB integer arithmetic errors on overflow rather than wrapping,
    so agreement implies neither side wrapped).

    Scale shape: ONE map-side-combinable corpus aggregate reduces to |S|
    rows; the sort window, prefix sums, and water-level aggregate all run
    on |S| rows with the 1-row totals broadcast — nothing after the first
    groupBy touches corpus-sized data, so the plan is identical at 100 TB.

    Output: ``source, tokens, weight, saturated, alloc_tokens, epochs``.
    """
    from binance_futures_data_lake_spark.functions.scalars import round6

    if budget_frac_pct <= 0 or max_epochs_pct <= 0:
        raise ValueError("budget_frac_pct and max_epochs_pct must be positive")
    t = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(size_col).cast("long").alias("tokens")
    )
    if int(default_weight) <= 0:
        raise ValueError(f"default_weight must be positive, got {default_weight}")
    if weights is None:
        w_expr = F.lit(int(default_weight)).cast("long")
    else:
        bad = {k: v for k, v in weights.items() if int(v) <= 0}
        if bad:
            raise ValueError(f"non-positive weights: {bad}")
        w_expr = F.lit(int(default_weight)).cast("long")
        for name, wv in sorted(weights.items(), reverse=True):
            w_expr = F.when(F.col("source") == name, F.lit(int(wv))).otherwise(w_expr)
    # The pct products are computed in DECIMAL from the start: long
    # ``tokens * max_epochs_pct`` would silently wrap (non-ANSI) once a
    # source exceeds ~4.6e16 tokens at the default 200 pct — a wrong plan
    # with no error. decimal(20,0) holds any int64 token count; the
    # product precision grows, it never wraps.
    t = t.select(
        "source",
        "tokens",
        w_expr.alias("w"),
        (F.col("tokens").cast("decimal(20,0)") * F.lit(int(max_epochs_pct)))
        .alias("cap_num"),
    )
    tot = t.select(
        F.sum("w").cast("long").alias("w_total"),
        (F.sum(F.col("tokens").cast("decimal(20,0)"))
         * F.lit(int(budget_frac_pct))).alias("t_num"),
    )
    # The SORT key must stay the IEEE-double ratio: the oracle orders by
    # (tokens*200)/w, which DuckDB evaluates as double(a)/double(b) — a
    # decimal quotient here (Spark rounds it to a fixed scale) can order
    # near-tie sources differently and flip the saturation prefix. Only
    # the ORDER uses doubles; every saturation/allocation comparison
    # stays exact decimal cross-multiplication, so a 1-ulp key tie can
    # at most swap two sources whose processing order both engines agree
    # on (the double key is computed by identical ops in both).
    order = [
        (F.col("cap_num").cast("double") / F.col("w")).asc(),
        F.col("source").asc(),
    ]
    prev = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    zero_cap = F.lit(0).cast("decimal(20,0)")
    staged = (
        t.join(F.broadcast(tot))
        .withColumn(
            "cum_cap_prev", F.coalesce(F.sum("cap_num").over(prev), zero_cap)
        )
        .withColumn(
            "cum_w_prev", F.coalesce(F.sum("w").over(prev), F.lit(0)).cast("long")
        )
    )

    def _d(c):
        return c.cast("decimal(20,0)")

    staged = staged.withColumn(
        "saturated",
        (
            F.col("cap_num") * _d(F.col("w_total") - F.col("cum_w_prev"))
            <= _d(F.col("w")) * (F.col("t_num") - F.col("cum_cap_prev"))
        ).cast("int"),
    )
    level = staged.select(
        F.sum(F.when(F.col("saturated") == 1, F.col("cap_num")).otherwise(zero_cap))
        .alias("sat_cap"),
        F.sum(F.when(F.col("saturated") == 1, F.col("w")).otherwise(F.lit(0)))
        .cast("long")
        .alias("sat_w"),
    )
    alloc = F.when(
        F.col("saturated") == 1, F.col("cap_num") / F.lit(100.0)
    ).otherwise(
        (F.col("w") * (F.col("t_num") - F.col("sat_cap")))
        / ((F.col("w_total") - F.col("sat_w")) * F.lit(100.0))
    )
    return staged.join(F.broadcast(level)).select(
        "source",
        "tokens",
        F.col("w").alias("weight"),
        "saturated",
        round6(alloc).alias("alloc_tokens"),
        round6(alloc / F.col("tokens")).alias("epochs"),
    )


def temperature_mixture_rates(
    df: DataFrame,
    source_col: str,
    budget_frac: float,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture rates (the mT5/XLM-R ``p_s ∝ n_s^α``
    recipe): shares are DERIVED from the data — ``share_s =
    n_s^α / Σ n_t^α`` — instead of handed in like
    :func:`mixture_rates`'s ``target_shares``. ``α = 1`` reproduces the
    natural mixture, ``α → 0`` the uniform one; the usual 0.2-0.7 range
    upsamples rare sources without letting any source dominate.

    Float-parity discipline: the per-source weight ``n_s^α`` is rounded
    onto the 1e-6 grid and summed as LONGs, so the denominator is exact
    and order-free (a plain double SUM would hash-diverge with shuffle
    order); the single share division then happens once on identical
    operands in every engine. ``α = 0.5`` routes through ``sqrt``
    (IEEE-correctly rounded everywhere) rather than ``pow``. Keep rates
    cap at 1 — epoch-style upsampling past one pass is
    :func:`token_budget_plan`'s job, not a sampler's.

    Output: ``source_col, n_source, share, rate`` (6-dp doubles). Same
    scale shape as :func:`mixture_rates`: two tiny aggregates, a
    broadcast, no corpus shuffle.
    """
    if not (0.0 < budget_frac <= 1.0):
        raise ValueError(f"budget_frac must be in (0, 1], got {budget_frac}")
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_source"))
    w = (
        F.sqrt(F.col("n_source"))
        if alpha == 0.5
        else F.pow(F.col("n_source"), F.lit(float(alpha)))
    )
    weighted = counts.withColumn(
        "w_int", F.round(w * F.lit(1_000_000.0), 0).cast("long")
    )
    tot = weighted.agg(
        F.sum("n_source").alias("n_total"), F.sum("w_int").alias("tw")
    )
    share = F.col("w_int") / F.col("tw")
    rate = F.least(
        F.lit(1.0),
        share * F.lit(float(budget_frac)) * F.col("n_total") / F.col("n_source"),
    )
    from binance_futures_data_lake_spark.functions.scalars import round6

    return (
        weighted.join(F.broadcast(tot))
        .select(
            source_col,
            "n_source",
            round6(share).alias("share"),
            round6(rate).alias("rate"),
        )
    )


def temperature_mixture_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    budget_frac: float,
    alpha: float = 0.5,
) -> DataFrame:
    """Deterministically sample ``df`` to the temperature mixture: the
    |S|-row rate table broadcast-joins back and the keep decision is
    ``uniform_hash(key) < rate`` — identical mechanics (and key-fate
    consistency) as :func:`mixture_sample`."""
    rates = temperature_mixture_rates(df, source_col, budget_frac, alpha)
    return (
        df.join(F.broadcast(rates.select(source_col, "rate")), source_col)
        .filter(uniform_hash(F.col(key_col)) < F.col("rate"))
        .drop("rate")
    )


def _dsir_grams(toks, bigram: bool = True):
    """Hashed-n-gram feature list for DSIR: unigrams plus word bigrams
    (the feature space of Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling" — hashed n-gram bag-of-words).
    ``toks`` is a token-array expression (see ``textdedup.words``)."""
    from binance_futures_data_lake_spark.operators.textdedup import (
        ngrams_of_tokens,
    )

    if not bigram:
        return toks
    return F.concat(toks, ngrams_of_tokens(toks, 2))


def dsir_fit(
    docs: DataFrame,
    target,
    text_col: str = "text",
    n_buckets: int = 1024,
    bigram: bool = True,
) -> list[int]:
    """Fit the DSIR importance model: hashed-n-gram multinomials for the
    TARGET slice (rows where the ``target`` boolean column is true) vs
    the RAW pool (all of ``docs``), Laplace-smoothed, returned as a dense
    ``n_buckets``-long list of micro-scaled log ratios
    ``λ_u[b] = round₆ₐ((ln p_t[b] − ln p_r[b]) · 1e6)`` (half away from
    zero, as LONGs).

    Integer micro-λ is the float-parity discipline (same trick as
    :func:`temperature_mixture_rates`): a document's log weight is a SUM
    of per-gram λ — summing doubles would make the result depend on
    shuffle/evaluation order, summing longs is exact and order-free, so
    the oracle can replay the identical arithmetic through a join+SUM
    while the engine scores in-row.

    Scale shape: one corpus scan → per-bucket partial aggregation
    (map-side combine collapses every partition to ≤ n_buckets rows
    before the exchange) → a window total over the B-row frame → ONE
    bounded collect (``n_buckets`` rows, the same bounded-by-contract
    collect as the IVF centroid literals). Nothing per-doc ever reaches
    the driver. Buckets no corpus gram hashed into get the smoothed
    zero-count λ (they can only be hit when scoring docs outside the fit
    pool).
    """
    import math

    from binance_futures_data_lake_spark.operators.textdedup import (
        token_hash, widen_narrow_scan, words,
    )

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    docs = widen_narrow_scan(docs)
    ex = docs.select(
        target.alias("__is_t"),
        F.explode(_dsir_grams(words(F.col(text_col)), bigram)).alias("__g"),
    ).select(
        "__is_t",
        F.pmod(token_hash(F.col("__g")), F.lit(n_buckets)).alias("__b"),
    )
    cnt = ex.groupBy("__b").agg(
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    w = Window.partitionBy()
    lam = (
        F.log(F.col("ct") + 1)
        - F.log(F.sum("ct").over(w) + n_buckets)
        - F.log(F.col("cr") + 1)
        + F.log(F.sum("cr").over(w) + n_buckets)
    ) * F.lit(1_000_000.0)
    rows = cnt.select(
        F.col("__b"),
        (F.signum(lam) * F.floor(F.abs(lam) + F.lit(0.5))).cast("long").alias("lam_u"),
        F.sum("ct").over(w).alias("tot_t"),
        F.sum("cr").over(w).alias("tot_r"),
    ).collect()  # bounded: <= n_buckets rows by construction
    if not rows:
        raise ValueError("dsir_fit: empty corpus (no grams)")
    tot_t, tot_r = rows[0]["tot_t"], rows[0]["tot_r"]
    default = math.log(tot_r + n_buckets) - math.log(tot_t + n_buckets)
    default_u = int(math.copysign(math.floor(abs(default * 1e6) + 0.5), default))
    out = [default_u] * n_buckets
    for r in rows:
        out[r["__b"]] = r["lam_u"]
    return out


def dsir_logweights(
    docs: DataFrame,
    lam_u: Sequence[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    bigram: bool = True,
) -> DataFrame:
    """Score every document's DSIR log importance weight — ZERO shuffles:
    the fitted micro-λ table rides the plan as a literal array (n_buckets
    longs, the IVF-centroid pattern) and the per-doc weight is an in-row
    higher-order ``aggregate`` over the gram list, ``w_u = Σ_g
    λ_u[hash(g) mod B]`` summed as exact longs. The whole scoring pass
    pipelines inside the parquet scan's stage — at 100 TB this is a
    map-only pass with no exchange, no broadcast, no Python.

    Output: ``doc_id, n_grams, logw`` where ``logw = w_u / 1e6`` (the
    micro-exact log weight; identical IEEE division in any engine).
    Empty documents score 0 over 0 grams.
    """
    from binance_futures_data_lake_spark.operators.textdedup import (
        token_hash, widen_narrow_scan, words,
    )

    n_buckets = len(lam_u)
    if n_buckets < 2:
        raise ValueError("lam_u must hold >= 2 buckets (see dsir_fit)")
    docs = widen_narrow_scan(docs)
    # lit(list), not F.array(8192 cast lits): Catalyst folds BOTH forms
    # to the identical array Literal (verified: same optimized plan, same
    # steady-state runtime), but the per-element Cast(Literal) tree costs
    # ~2.5 s extra one-time analysis at 8192 elements (measured 3.4 s vs
    # 0.9 s first run, interleaved A/B)
    lam_lit = F.lit([int(v) for v in lam_u]).cast("array<long>")
    toks = words(F.col(text_col))
    grams = _dsir_grams(toks, bigram)
    w_u = F.aggregate(
        grams,
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.element_at(
            lam_lit, (F.pmod(token_hash(g), F.lit(n_buckets)) + 1).cast("int")
        ),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(grams).cast("long").alias("n_grams"),
        (w_u / F.lit(1_000_000.0)).alias("logw"),
    )


def dsir_select(
    docs: DataFrame,
    target,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    bigram: bool = True,
    seed: int = 7,
) -> DataFrame:
    """DSIR data selection end-to-end (Xie et al. 2023): fit hashed-n-gram
    target/raw multinomials on the pool, score every doc's log importance
    weight, perturb with deterministic Gumbel noise and keep the top-k —
    importance RESAMPLING, not thresholding, so the kept set matches the
    target distribution instead of collapsing onto its mode.

    The Gumbel draw is the engine-portable hash primitive
    (``operators/sketch.uniform_hash`` mechanics): ``u = (h₆₀ + 0.5) /
    2⁶⁰`` from md5 of ``doc_id:seed`` (the +0.5 keeps u in (0,1), so the
    double-log never sees 0), ``g = −ln(−ln u)``, ``key = logw + g``.
    Reproducible across runs, engines, and partitionings — the oracle
    replays the identical draw. Top-k by key compiles to
    TakeOrderedAndProject (no global sort at scale).

    Output: ``doc_id, n_grams, logw, gumbel_key`` (6-dp), the k kept docs.
    """
    from binance_futures_data_lake_spark.functions.scalars import round6

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    lam = dsir_fit(docs, target, text_col, n_buckets, bigram)
    scored = dsir_logweights(docs, lam, text_col, id_col, bigram)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(str(int(seed))))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(TWO_POW_60)
    key = F.col("logw") - F.log(-F.log(u))
    return (
        scored.withColumn("gumbel_key", round6(key))
        .orderBy(F.desc("gumbel_key"), "doc_id")
        .limit(int(k))
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023, simplified): multiplicative
# -weights updates over per-domain excess loss, as fixed unrolled relational
# iterations — the same oracle-replayable discipline as ml.lr_gd_weights.
# ---------------------------------------------------------------------------


def domain_unigram_loss(
    docs: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain proxy loss for mixture optimization: the negated mean of
    the per-document unigram log-probabilities (textquality.unigram_logprob
    — the cheap stand-in for a proxy model's per-domain loss). The per-doc
    6-dp scores are lifted onto the 1e-6 integer grid and summed as LONGs,
    so the domain mean is exact and shuffle-order-free. Output:
    ``domain_col, n_docs, loss`` (positive; higher = harder domain)."""
    from binance_futures_data_lake_spark.functions.scalars import round6
    from binance_futures_data_lake_spark.operators.textquality import unigram_logprob

    lp = unigram_logprob(docs, id_col=id_col, text_col=text_col)
    li = (
        F.signum(F.col("logprob_avg") * F.lit(1_000_000.0))
        * F.floor(F.abs(F.col("logprob_avg") * F.lit(1_000_000.0)) + F.lit(0.5))
    ).cast("long")
    per = lp.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(domain_col)), "doc_id"
    ).select(domain_col, li.alias("__li"))
    return per.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        round6(
            -F.sum("__li").cast("long")
            / (F.lit(1_000_000.0) * F.count(F.lit(1)))
        ).alias("loss"),
    )


def doremi_weights(
    losses: DataFrame,
    eta: float = 0.5,
    iters: int = 4,
    domain_col: str = "source",
    loss_col: str = "loss",
) -> DataFrame:
    """Exponentiated-gradient domain-weight optimization on a per-domain
    loss table: ``α ← normalize(α · exp(η · (ℓ_d − Σ_e α_e ℓ_e)))`` for a
    FIXED number of unrolled iterations, starting uniform. Domains whose
    loss exceeds the current weighted mean gain weight — the DoReMi
    update with static per-domain excess loss.

    Everything runs on the 1e-6 integer grid: weights and losses are
    scaled LONGs, the weighted mean is Σ aᵢ·lᵢ (exact 1e-12-grid longs,
    order-free), and each update's ``α·exp(·)`` double is re-gridded with
    the half-away floor formula before normalizing — so all four
    iterations consume bit-identical inputs in any engine and summation
    order never compounds. (Residual exposure: Java vs DuckDB ``exp``
    could differ in the last ulp and land a product on a .5 grid
    boundary — the same accepted exposure as lr_gd_weights' sigmoid,
    oracle-green since r4.)

    The frame is |domains| rows; iterations chain windows with no
    partition key, so the whole optimization is one tiny single-partition
    linear plan — the 100 TB cost lives upstream in the loss aggregation,
    never here. Output: ``domain_col, loss, weight`` (weights 6-dp,
    Σ ≈ 1)."""
    from binance_futures_data_lake_spark.functions.scalars import round6

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w_all = Window.partitionBy()
    li = (
        F.signum(F.col(loss_col) * F.lit(1_000_000.0))
        * F.floor(F.abs(F.col(loss_col) * F.lit(1_000_000.0)) + F.lit(0.5))
    ).cast("long")
    cur = losses.select(
        F.col(domain_col), li.alias("__li")
    ).withColumn(
        "__ai",
        F.floor(
            F.lit(1_000_000.0) / F.count(F.lit(1)).over(w_all) + F.lit(0.5)
        ).cast("long"),
    )
    for _ in range(iters):
        m12 = F.sum(F.col("__ai") * F.col("__li")).over(w_all)
        u = (
            F.col("__ai") / F.lit(1_000_000.0)
            * F.exp(
                F.lit(float(eta))
                * (F.col("__li") / F.lit(1_000_000.0)
                   - m12 / F.lit(1_000_000_000_000.0))
            )
            * F.lit(1_000_000.0)
        )
        cur = cur.withColumn("__ui", F.floor(u + F.lit(0.5)).cast("long"))
        cur = cur.withColumn(
            "__ai",
            F.floor(
                F.lit(1_000_000.0) * F.col("__ui")
                / F.sum("__ui").over(w_all)
                + F.lit(0.5)
            ).cast("long"),
        ).drop("__ui")
    return cur.select(
        F.col(domain_col),
        round6(F.col("__li") / F.lit(1_000_000.0)).alias("loss"),
        round6(F.col("__ai") / F.lit(1_000_000.0)).alias("weight"),
    )


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    by: Sequence[str] = (),
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — ``k`` rows per group drawn
    with probability proportional to ``weight_col`` — via the
    Efraimidis–Spirakis A-Res reservoir keys (Inf. Proc. Letters 2006):
    rank every row by ``key = ln(u)^(1/w)``-equivalent log-form
    ``ln(u) / w`` (u uniform, w > 0) and keep the ``k`` largest per
    group. One pass, no RNG state, trivially distributed.

    Two-phase rank (r9, the sketch.kmv_state treatment): a lone
    ``row_number`` over ``partitionBy(by)`` sorts each group's ENTIRE
    row set in one task — with few groups (sources/domains, the typical
    ``by``) that is the single-task-per-group window scale-killer. The
    reservoir key ``(__es desc, key)`` is a total order, so the top-k
    of a union of per-partition top-k sets IS the global top-k for any
    partitioning: phase 1 ranks within ``(spark_partition_id, by)`` at
    input-partition parallelism, the global rank runs on
    ≤ ``partitions·k·|groups|`` survivors. Output identical.

    This is the pretraining sampler for "draw a token-budget-sized
    subset proportional to document length/quality" — unlike the
    hash-threshold mixture sampler (:func:`mixture_sample`) the draw is
    exactly-k and weight-proportional, not Bernoulli.

    Determinism contract (the usual grid discipline): ``u = (h60 + 1) /
    2^60`` from the md5-derived 60-bit hash of the key (+1 keeps u in
    (0, 1] so ln is total; u = 1 → key 0, the maximum — a 2^-60 corner
    both engines share deterministically). ``ln(u)`` is the operator's
    one libm call and is 6-dp rounded BEFORE the division by the weight,
    so the ranking key is an exact grid-value / weight quotient — the
    same two IEEE operands in both engines, bit-identical; ties broken
    by key id. The residual exposure is a ln() result within an ulp of a
    0.5e-6 boundary (the lsh_topk/semantic_dedup_gemm residual class).

    Output: by-cols + the row's columns + ``es_key`` (6-dp) + ``rk``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from binance_futures_data_lake_spark.functions.scalars import round6

    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(TWO_POW_60)
    es = round6(F.log(u)) / F.col(weight_col)
    pruned = (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es", es)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lrk",
            F.row_number().over(
                Window.partitionBy("__pid", *[F.col(c) for c in by]).orderBy(
                    F.col("__es").desc(), F.col(key_col).asc()
                )
            ),
        )
        .filter(F.col("__lrk") <= k)
        .drop("__pid", "__lrk")
    )
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
        F.col("__es").desc(), F.col(key_col).asc()
    )
    return (
        pruned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .withColumn("es_key", round6(F.col("__es")))
        .drop("__es")
    )
