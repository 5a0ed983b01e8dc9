"""Repetition analysis, Gopher-style filter rules, TF-IDF term salience,
and document chunking — the filter/featurize stages of a training-data
pipeline, downstream of dedup (operators/textdedup.py, graph.py) and
upstream of sampling (operators/sampling.py).

Design rules shared with operators/text.py: deterministic, engine-
portable column algebra (regex + integer arithmetic + md5), no Python in
the hot path, so every operator is DuckDB-oracle-checkable. Shapes that
need per-token state use explode→groupBy (codegen'd, map-side-combined)
rather than interpreted higher-order lambdas — the doc_token_stats
lesson (plans/driver_queries.py): F.aggregate/F.filter array walks are
interpreted per element and cost ~6x at 10x sf0.1.

Scale notes (100 TB): every shape here shuffles at most token/line rows
keyed by (doc_id, term) — linear in corpus size, no self-joins, no
cross products. TF-IDF joins the per-term document-frequency table on
the term key; the vocabulary table is Zipf-distributed but the join is
a plain shuffle hash join keyed on term, and the df side is pre-reduced
to one row per term before the join (never a fan-out).

Reference parity: the reference has no text pipeline (market data only);
these mirror the published Gopher/MassiveText filter rules (Rae et al.
2021, §A1.1) and standard TF-IDF, per the build brief's LLM-pipeline
mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from binance_futures_data_lake_spark.functions.scalars import round6
from binance_futures_data_lake_spark.operators.textdedup import (
    ngrams_of_tokens,
    widen_narrow_scan,
    words,
)

# Gopher-rule thresholds (Rae et al. 2021 table A1 shape, adapted to the
# synthetic docs' scale — the *rule forms* are what the operator owns;
# thresholds are parameters).
GOPHER_DEFAULTS = {
    "min_words": 5,
    "max_words": 100_000,
    "min_avg_word_len": 2.0,
    "max_avg_word_len": 12.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.6,
    "min_stopword_hits": 1,
    "max_dup_line_frac": 0.3,
    "max_top_bigram_frac": 0.2,
}

STOPWORD_HITLIST = ("the", "be", "to", "of", "and", "that", "have", "with")


def _nz(c):
    return F.nullif(c.cast("double"), F.lit(0.0))


def line_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document line-level repetition stats via explode→groupBy:
    ``n_lines, n_dup_lines, dup_line_frac, dup_line_char_frac``.

    A line is "duplicated" when it appears more than once in the same
    document (blank lines ignored). Char fraction weights by line length
    — the Gopher dup-line rules use both forms.
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\n"), lambda ln: F.trim(ln) != "")
        ).alias("line"),
    )
    per_line = lines.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("cnt"))
    dup_chars = F.sum(
        F.when(F.col("cnt") > 1, (F.col("cnt") - 1) * F.length("line")).otherwise(0)
    )
    return per_line.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("n_dup_lines"),
        round6(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0)) / _nz(F.sum("cnt"))
        ).alias("dup_line_frac"),
        round6(dup_chars / _nz(F.sum(F.col("cnt") * F.length("line")))).alias(
            "dup_line_char_frac"
        ),
    )


def bigram_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-bigram concentration per document: ``n_bigrams,
    top_bigram_cnt, top_bigram_frac`` (Gopher's "fraction of characters
    in the most common n-gram" rule, token-count flavored).

    explode→count→max: the heavy groupBy key is (doc_id, bigram) — high
    cardinality but perfectly distributable, and partial aggregation
    collapses repeats map-side before the shuffle.
    """
    bg = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks")
    ).select("doc_id", F.explode(ngrams_of_tokens(F.col("__toks"), 2)).alias("bg"))
    per_bg = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    return per_bg.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.max("cnt").alias("top_bigram_cnt"),
        round6(F.max("cnt") / _nz(F.sum("cnt"))).alias("top_bigram_frac"),
    )


def gopher_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
) -> DataFrame:
    """Gopher/MassiveText-shape keep/drop rules as one columnar pass plus
    the two repetition joins (line_stats, bigram_stats).

    Output: the per-rule booleans (``rule_*`` as int 0/1 for engine-
    portable hashing) and ``gopher_keep`` = AND of all rules. Docs with
    no lines/bigrams pass the repetition rules vacuously (coalesce 0).
    """
    th = dict(GOPHER_DEFAULTS, **(thresholds or {}))
    c = F.col(text_col)
    n_words = F.regexp_count(c, F.lit(r"\S+"))
    # one regexp_count pass each — counts matches without materializing
    # the matched substrings (the doc_token_stats lesson: extract_all
    # allocates every hit as a String, ~2x the slope at 10x sf0.1)
    word_chars = F.length(F.regexp_replace(c, r"\s+", ""))
    avg_word_len = word_chars / _nz(n_words)
    n_symbols = F.regexp_count(c, F.lit(r"#|\.\.\."))
    # [ \t] not \s: Java's \s includes \x0B, RE2's does not, and \s here
    # could also swallow newlines and merge line matches — the PII-pattern
    # rule (text.py): stay in the Java∩RE2-identical subset for oracles
    n_bullet_lines = F.regexp_count(c, F.lit(r"(?m)^[ \t]*[-*•]"))
    n_ellipsis_lines = F.regexp_count(c, F.lit(r"(?m)\.\.\.[ \t]*$"))
    # split+trim, not a regex count: F.trim strips only 0x20, so a
    # tab-only line counts as non-blank here and a \S-based count would
    # disagree with the line_stats/oracle trim() semantics
    n_raw_lines = F.size(F.filter(F.split(c, r"\n"), lambda ln: F.trim(ln) != ""))
    n_alpha_words = F.regexp_count(c, F.lit(r"(?<!\S)\S*[A-Za-z]\S*(?!\S)"))
    stop_pat = r"(?<!\S)(?:" + "|".join(STOPWORD_HITLIST) + r")(?!\S)"
    n_stop_hits = F.regexp_count(F.lower(c), F.lit(stop_pat))

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        round6(avg_word_len).alias("avg_word_len"),
        round6(n_symbols / _nz(n_words)).alias("symbol_word_ratio"),
        round6(n_bullet_lines / _nz(n_raw_lines)).alias("bullet_line_frac"),
        round6(n_ellipsis_lines / _nz(n_raw_lines)).alias("ellipsis_line_frac"),
        round6(n_alpha_words / _nz(n_words)).alias("alpha_word_frac"),
        n_stop_hits.alias("stopword_hits"),
    )
    out = (
        base.join(
            line_stats(docs, id_col, text_col).select("doc_id", "dup_line_frac"),
            "doc_id",
            "left",
        ).join(
            bigram_stats(docs, id_col, text_col).select("doc_id", "top_bigram_frac"),
            "doc_id",
            "left",
        )
    )
    z = F.lit(0.0)
    rules = {
        "rule_word_count": (F.col("n_words") >= th["min_words"])
        & (F.col("n_words") <= th["max_words"]),
        "rule_avg_word_len": (F.coalesce(F.col("avg_word_len"), z) >= th["min_avg_word_len"])
        & (F.coalesce(F.col("avg_word_len"), z) <= th["max_avg_word_len"]),
        "rule_symbol_ratio": F.coalesce(F.col("symbol_word_ratio"), z)
        <= th["max_symbol_word_ratio"],
        "rule_bullet_lines": F.coalesce(F.col("bullet_line_frac"), z)
        <= th["max_bullet_line_frac"],
        "rule_ellipsis_lines": F.coalesce(F.col("ellipsis_line_frac"), z)
        <= th["max_ellipsis_line_frac"],
        "rule_alpha_words": F.coalesce(F.col("alpha_word_frac"), z)
        >= th["min_alpha_word_frac"],
        "rule_stopwords": F.col("stopword_hits") >= th["min_stopword_hits"],
        "rule_dup_lines": F.coalesce(F.col("dup_line_frac"), z) <= th["max_dup_line_frac"],
        "rule_top_bigram": F.coalesce(F.col("top_bigram_frac"), z)
        <= th["max_top_bigram_frac"],
    }
    # when/otherwise, not cast: a null condition (null-text doc) must
    # yield 0 like SQL CASE, not propagate null through the int cast
    for name, cond in rules.items():
        out = out.withColumn(name, F.when(cond, F.lit(1)).otherwise(F.lit(0)))
    keep = None
    for name in rules:
        keep = (F.col(name) == 1) if keep is None else keep & (F.col(name) == 1)
    return out.withColumn("gopher_keep", F.when(keep, F.lit(1)).otherwise(F.lit(0)))


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k salient terms per document by TF-IDF.

    tf = term count in doc; idf = ln(N / df) with df = docs containing
    the term. Deterministic ranking: tfidf desc, term asc. Two shuffles
    keyed by (doc_id, term) and (term); the df side reduces to one row
    per vocabulary term BEFORE the join back (no fan-out), and N rides
    in as a literal-free scalar via a 1-row cross join that Catalyst
    broadcasts.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            round6(F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double"))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 200,
    stride: int = 150,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-width char chunks with offsets — the unit-of-work
    split for embedding/tokenization stages. Pure per-row columnar
    (sequence → posexplode → substring): no shuffle at all; chunking 100
    TB is a map-only pass that parallelizes with the scan.

    Chunks start at 0, stride apart; every chunk is non-empty; a final
    partial chunk is kept iff it adds new tail characters. Empty/null
    docs yield no rows (a chunker emitting empty chunks poisons
    downstream tokenizers).
    """
    if stride <= 0 or chunk_chars <= 0:
        raise ValueError("chunk_chars and stride must be positive")
    n = F.length(F.col(text_col))
    n_chunks = F.when(n <= chunk_chars, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_chars)) / F.lit(stride).cast("double")) + 1
    )
    starts = F.sequence(F.lit(0), (n_chunks.cast("int") - 1) * stride, F.lit(stride))
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        n.alias("doc_chars"),
        F.posexplode(starts).alias("chunk_idx", "start"),
        F.col(text_col).alias("__t"),
    ).filter(F.col("doc_chars") > 0)
    chunk = F.substring(F.col("__t"), F.col("start") + 1, chunk_chars)
    return out.select(
        "doc_id",
        "chunk_idx",
        "start",
        F.length(chunk).alias("chunk_chars"),
        chunk.alias("chunk_text"),
    )


def cross_doc_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated token spans — boilerplate/template
    detection (the paragraph-dedup step of Lee et al. 2022's exact
    substring deduplication, token-window flavor: any ``span_tokens``-long
    window appearing in ≥ ``min_docs`` documents is shared text, not
    original content).

    Two-level aggregation instead of count_distinct: groupBy(span, doc)
    collapses per-doc repeats map-side, then groupBy(span) counts docs as
    plain rows — no Expand rewrite, both shuffles keyed on the span (high
    cardinality, perfectly distributable). Output:
    ``span, n_docs, n_occurrences``.
    """
    docs = widen_narrow_scan(docs)
    sp = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks")
    ).select(
        "doc_id",
        F.explode(ngrams_of_tokens(F.col("__toks"), span_tokens)).alias("span"),
    )
    per_doc = sp.groupBy("span", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_doc.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-unigram language-model quality score per document: the mean
    log10 probability of the document's tokens under the corpus's own
    unigram distribution — the cheapest useful LM-based quality signal
    (gibberish and rare-token spam score low, fluent common text scores
    high; the unigram stand-in for the KenLM perplexity filters of
    CCNet/Gopher).

    Scale shape: token instances NEVER ride the term-keyed join — the
    stream first collapses to per-(doc, term) counts (groupBy on a high-
    cardinality composite key, distributes evenly), and only that reduced
    table joins the term-frequency side. Zipf-head terms ("the" at 100 TB)
    would otherwise funnel every instance row into one skewed join
    partition; after the collapse a head term contributes at most one row
    PER DOCUMENT, and AQE's skew split handles the rest. The per-doc mean
    is then Σ cnt·log10(p) / Σ cnt. No vocabulary ever collects to the
    driver. Output: ``doc_id, n_tokens, logprob_avg`` (6-dp).
    """
    docs = widen_narrow_scan(docs)
    dt = (
        docs.select(
            F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks")
        )
        .select("doc_id", F.explode("__toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tf = dt.groupBy("term").agg(F.sum("cnt").alias("n_term"))
    total = dt.select(F.sum("cnt").alias("n_total"))
    scored = dt.join(tf, "term").join(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        round6(
            F.sum(F.col("cnt") * F.log10(F.col("n_term") / F.col("n_total")))
            / F.sum("cnt")
        ).alias("logprob_avg"),
    )


def scrub_cross_doc_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring scrubbing — the ACTIONABLE half of
    :func:`cross_doc_spans`: remove shared boilerplate from the corpus
    while keeping one canonical copy, and REBUILD the cleaned text
    (Lee et al. 2022 / SlimPajama-style "dedup but keep one occurrence",
    token-window flavor).

    Rule: a ``span_tokens``-long window appearing in ≥ ``min_docs``
    documents is shared text. Its canonical owner is the smallest doc_id
    containing it; in every OTHER document, all token positions covered
    by any occurrence of the span are dropped. Overlapping shared spans
    compose naturally (a position is dropped if ANY non-owned span covers
    it). Output: ``doc_id, n_tokens, n_removed, text_clean`` — cleaned
    text is the kept tokens in order, single-space joined (tokenization
    lowercases, so the rebuild is normalized text, stated openly).

    Scale shape (r4 rewrite — the first version exploded tokens AND spans
    and shuffled both three times; 2.9× DuckDB at the 10× replica):

    - span occurrences collapse to ONE row per (span, doc) map-side,
      keyed by ``xxhash64(span)`` so the shuffles carry 8 bytes, not the
      ~40-byte span text (a 64-bit collision across corpus spans is
      ~1e-7 at 3M spans — the same engineering bet every hash join
      makes);
    - shared-span ownership (``n_docs``, ``owner = min doc_id``) comes
      from a WINDOW over the span key on that collapsed frame — no
      second aggregate and, crucially, no join back onto a recomputed
      explode;
    - per-doc marked starts aggregate to one sorted array, and coverage
      is evaluated WITHOUT ever exploding tokens: the sorted starts fold
      into merged ``[s, s+k−1]`` intervals (one ``aggregate`` — linear,
      and overlapping boilerplate collapses to few intervals), then the
      kept tokens are one index-aware ``filter`` over the token array.
      The old token-level (doc, pos) join + rows-frame window + collect/
      sort rebuild are gone; tokens never leave their row.

    Shuffles: (span_h, doc) collapse → span_h window → doc_id marked agg
    → doc_id join. Measured 27.2 s → 10.1 s at the 10× replica (DuckDB:
    9.4 s — parity at a replica whose cross-copy twins make EVERY span
    shared) and 2.75 s → 0.91 s at sf0.1.
    """
    k = int(span_tokens)
    docs = widen_narrow_scan(docs)
    base = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") > 0)
    # span key: xxhash64 combined over the window's TOKEN hashes — the
    # span string (~40 bytes/position) is never materialized. Doubling
    # (sparse-table) combine: level c holds the hash of window [i, i+c),
    # built by combining two half-windows; the final non-power-of-two
    # step combines two OVERLAPPING power-of-two windows covering
    # [i, i+k) — overlap double-counts middle tokens but the result is
    # still a deterministic 1:1-w.h.p. function of the window content.
    # O(log k) zip_withs instead of k-1 (measured 5.8 -> 3.4 s for the
    # explode stage at the 10x replica); xxhash64(a, b) avoids the
    # ANSI-overflow hazard any arithmetic combine would carry.
    # each level is materialized as its own projected column — a doubling
    # combine expressed as one nested expression references the previous
    # level TWICE (direct + shifted), which the expression tree evaluates
    # twice: 2^levels copies of the base work (measured, it loses to the
    # naive k−1 chain). As columns, every level computes once.
    def _shift_combine(g, shift):
        return F.zip_with(
            g,
            F.slice(g, shift + 1, F.greatest(F.size(g) - shift, F.lit(0))),
            lambda a, b: F.xxhash64(a, b),
        )

    hcols = base.withColumn("__h0", F.transform("__toks", lambda t: F.xxhash64(t)))
    cover, lvl = 1, 0
    while cover * 2 <= k:
        hcols = hcols.withColumn(
            f"__h{lvl + 1}", _shift_combine(F.col(f"__h{lvl}"), cover)
        )
        cover *= 2
        lvl += 1
    if cover < k:
        hcols = hcols.withColumn(
            f"__h{lvl + 1}", _shift_combine(F.col(f"__h{lvl}"), k - cover)
        )
        lvl += 1
    span_hashes = F.slice(
        F.col(f"__h{lvl}"), 1, F.greatest(F.size("__toks") - (k - 1), F.lit(0))
    )
    spd = (
        hcols.select(
            "doc_id", F.posexplode(span_hashes).alias("start", "span_h")
        )
        .groupBy("span_h", "doc_id")
        .agg(F.collect_list("start").alias("starts"))
    )
    w = Window.partitionBy("span_h")
    marked = (
        spd.withColumn("n_docs", F.count(F.lit(1)).over(w))
        .withColumn("owner", F.min("doc_id").over(w))
        .filter((F.col("n_docs") >= min_docs) & (F.col("doc_id") != F.col("owner")))
        .select("doc_id", F.explode("starts").alias("start"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("start")).alias("__starts"))
    )
    joined = base.join(marked, "doc_id", "left").withColumn(
        "__starts", F.coalesce("__starts", F.array().cast("array<int>"))
    )
    # sorted starts → merged closed intervals [s, s+k-1]; successive
    # starts with s <= last.e merge (s ascending ⇒ new e = s+k-1 ≥ last.e)
    iv_schema = "array<struct<s:int,e:int>>"
    intervals = F.aggregate(
        "__starts",
        F.expr(f"CAST(array() AS {iv_schema})"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["s"].alias("s"),
                    (s + k - 1).alias("e"),
                )),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(s.alias("s"), (s + k - 1).alias("e"))))
        ),
    )
    d = joined.withColumn("__iv", intervals)
    covered = lambda i: F.exists(  # noqa: E731 — tiny local predicate
        "__iv", lambda iv: (i >= iv["s"]) & (i <= iv["e"])
    )
    kept = F.filter("__toks", lambda t, i: ~covered(i))
    return d.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("text_clean"),
    )


def perplexity_bucket_mix(
    docs: DataFrame,
    n_buckets: int = 3,
    keep_rates: tuple[float, ...] = (1.0, 0.5, 0.1),
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing: within each language, rank
    documents by LM quality (here the corpus-unigram score of
    :func:`unigram_logprob` — the engine-portable stand-in for a KenLM
    perplexity) and split them into ``n_buckets`` equal tiers
    (head/middle/tail for the default 3), then apply a per-tier
    deterministic keep rate — CCNet keeps the head, samples the middle,
    and drops most of the tail.

    Determinism contract: the tier boundary is an exact per-language
    ``ntile`` over ``(logprob_avg DESC, doc_id)`` — the score is already
    6-dp rounded, so the sort order (and therefore every tier assignment)
    is engine-identical; the keep decision is the same md5 hash-threshold
    primitive as every sampling operator here, so a SQL oracle replays the
    SAMPLED corpus exactly.

    Scale shape: scoring is the :func:`unigram_logprob` plan (no token
    rides a join). The exact ntile is a per-language sort — the honest
    CCNet shape (it sorts each language shard by perplexity); at the
    100 TB tier swap the exact ntile for approx-quantile boundaries
    (one aggregate pass, |langs|×(n_buckets−1) thresholds broadcast back
    onto a narrow filter — the same exact→sketch trade documented for
    ``rolling_pctl_of_last``/``kmv_quantiles``).

    Output: ``lang, doc_id, n_tokens, logprob_avg, bucket, kept``.
    """
    from binance_futures_data_lake_spark.operators.sketch import uniform_hash

    if n_buckets < 1 or len(keep_rates) != n_buckets:
        raise ValueError("keep_rates must supply one rate per bucket")
    scored = unigram_logprob(docs, id_col=id_col, text_col=text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    ).join(scored, "doc_id")
    tiers = Window.partitionBy("lang").orderBy(
        F.col("logprob_avg").desc(), F.col("doc_id").asc()
    )
    b = base.withColumn("bucket", F.ntile(n_buckets).over(tiers))
    rate = F.lit(float(keep_rates[-1]))
    for i in range(n_buckets - 1, 0, -1):
        rate = F.when(F.col("bucket") == i, F.lit(float(keep_rates[i - 1]))).otherwise(
            rate
        )
    return b.withColumn(
        "kept", (uniform_hash(F.col("doc_id")) < rate).cast("int")
    )


def c4_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020) — the OTHER classic
    rule set next to Gopher's (:func:`gopher_flags`), and actionable like
    the scrub/redact operators: the cleaned page text is rebuilt, not
    just flagged.

    Line rules (a line survives iff ALL hold):
    - ends in terminal punctuation (``. ! ?`` or a closing quote) after
      trimming spaces;
    - has at least ``min_words_per_line`` words;
    - does not mention "javascript" (case-insensitive).
    Page rules: drop the page when it contains "lorem ipsum" (any case),
    a ``{`` (code), or fewer than ``min_sentences`` sentence enders
    (``[.!?]``) in the CLEANED text — dropped lines contribute nothing.

    One map-only columnar pass: split → array filters → rebuild via
    ``array_join`` — no explode, no shuffle, so at 100 TB this is a pure
    scan at parquet-read speed. Word counts use ``[^ \\t]+`` (not
    ``\\S+``): Java's ``\\s`` includes ``\\x0B``, RE2's does not — the
    same Java∩RE2 subset rule every oracle-compared regex here follows.

    Output: ``doc_id, n_lines, n_kept_lines, n_js_lines, n_sentences,
    has_lorem_ipsum, has_curly_brace, c4_keep, cleaned_text`` (bools as
    0/1 ints for engine-portable hashing).
    """
    if min_words_per_line < 1 or min_sentences < 1:
        raise ValueError("min_words_per_line and min_sentences must be >= 1")
    c = F.col(text_col)
    nb = F.filter(F.split(c, r"\n"), lambda ln: F.trim(ln) != "")

    def is_js(ln):
        return F.contains(F.lower(ln), F.lit("javascript"))

    def keep_line(ln):
        return (
            F.trim(ln).substr(-1, 1).isin(".", "!", "?", '"')
            & (F.regexp_count(ln, F.lit(r"[^ \t]+")) >= min_words_per_line)
            & ~is_js(ln)
        )

    kept = F.filter(nb, keep_line)
    cleaned = F.array_join(kept, "\n")
    n_sent = F.regexp_count(cleaned, F.lit(r"[.!?]"))
    has_lorem = F.contains(F.lower(c), F.lit("lorem ipsum"))
    has_brace = F.contains(c, F.lit("{"))
    keep = (~has_lorem) & (~has_brace) & (n_sent >= min_sentences)

    def i01(cond):
        return F.when(cond, F.lit(1)).otherwise(F.lit(0))

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(nb).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        F.size(F.filter(nb, is_js)).alias("n_js_lines"),
        n_sent.alias("n_sentences"),
        i01(has_lorem).alias("has_lorem_ipsum"),
        i01(has_brace).alias("has_curly_brace"),
        i01(keep).alias("c4_keep"),
        cleaned.alias("cleaned_text"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_id_col: str = "q_id",
    q_text_col: str = "q_text",
) -> DataFrame:
    """BM25 (Robertson/Okapi) lexical top-k retrieval — the sparse
    counterpart of the dense tiers in operators/similarity.py, scoring
    ``idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))`` summed over
    the query's DISTINCT terms, with ``idf = ln(1 + (N − df + 0.5) /
    (df + 0.5))``.

    Float discipline: each term's contribution is rounded onto the 1e-6
    grid and summed as LONGs, so a document's score is EXACT and
    independent of both join order and shuffle order (a double Σ over
    matched terms would be neither), and the top-k window orders by the
    integer score — no float-comparison ties. All idf/length inputs are
    identical longs in every engine, so the per-term doubles match
    bit-for-bit before rounding.

    Scale shape (r12 — TWO corpus scans, down from five, no skewed
    window): the query-vocabulary prune happens MAP-SIDE, before any
    exchange — exploded token instances broadcast-semi-join the query
    term set inside the scan stage, so the (doc, term) collapse
    shuffles only query-term instances, never the corpus vocabulary.
    Document length rides the exploded rows as one long (computed from
    the token array before the explode), so the old separate
    corpus-sized dlen scan/join is gone; ``n_docs`` + ``total_len``
    collapse into ONE full-corpus aggregate (they were two scans); and
    ``df`` is a map-side-combined ``groupBy(term)`` over the SAME
    (doc, term) exchange the scoring branch consumes — its aggregate
    deliberately references ``cnt`` and ``dl`` (a ``sum(when(cnt >= 1
    and dl >= 0, 1))`` that provably equals ``count(*)``: cnt is a
    group count ≥ 1, dl a non-negative array size) so column pruning
    cannot shrink its copy of the shared subtree, the two branches'
    exchanges canonicalize, and ReuseExchange runs the
    scan→explode→semi-join pass ONCE. The rejected alternative — df as
    a count-over-``term`` window on the (doc, term) rows — is the
    few-groups-window scale-killer this module's kmv_state avoids:
    a stopword query term puts its ENTIRE posting list in one task
    (measured 31+1/32 straggler tails at 10× sf0.1; billions of rows
    per task at deploy scale). The shared-exchange form keeps the df
    shuffle skew-free too: the exchange is keyed (doc_id, term), so a
    hot term's rows spread across partitions by doc, and the term
    re-aggregate rides partial map-side counts (guide §2.3/§2.4/§2.5).

    Output: ``q_id, doc_id, score, rnk`` (score 6-dp, rnk 1..k by score
    desc / doc_id asc).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # NOT widened (widen_narrow_scan): bm25's per-row work is one
    # whitespace split — the broadcast semi-join prunes everything else
    # map-side — and the r13 A/B measured the added exchange as a net
    # loss (0.94 -> 1.05 s best-of-6 at sf0.1, prebuilt plans).
    toks = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks")
    )
    qt = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.explode(words(F.col(q_text_col))).alias("term"),
    ).distinct()
    # map-side prune: only query-term instances survive into the
    # (doc, term) collapse — the semi-join against the broadcast query
    # vocabulary runs inside the scan stage, before any exchange. dl is
    # 8 bytes per surviving instance; it collapses in the same agg.
    dt_q = (
        toks.select(
            "doc_id",
            F.size("__toks").cast("long").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .join(F.broadcast(qt.select("term").distinct()), "term", "leftsemi")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("dl").alias("dl"))
    )
    # ONE full-corpus aggregate for both global stats (was two scans)
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks").cast("long")).alias("total_len"),
    )
    # df: skew-free map-side-combined aggregate over the SAME
    # (doc_id, term) exchange the scoring branch reads. The filter
    # clauses are tautologies (cnt >= 1: group count; dl >= 0: array
    # size), present ONLY so column pruning keeps this branch's partial
    # aggregate identical to the scoring branch's and ReuseExchange
    # shares the scan→explode→semi-join subtree (see docstring; a bare
    # count(*) prunes cnt/dl away and re-executes the whole pass).
    df_ = dt_q.groupBy("term").agg(
        F.sum(
            F.when(
                (F.col("cnt") >= 1) & (F.col("dl") >= 0), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("df")
    )
    df_k = df_.crossJoin(F.broadcast(stats))
    if max_df_frac is not None:
        # stopword guard applied to the |query-vocab|-row df table —
        # the fan-out this prunes never materializes
        df_k = df_k.filter(
            F.col("df") <= F.lit(float(max_df_frac)) * F.col("n_docs")
        )
    cand = dt_q.join(F.broadcast(df_k), "term").join(F.broadcast(qt), "term")
    avgdl = F.col("total_len") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("cnt") + F.lit(float(k1)) * (
        F.lit(1.0 - float(b)) + F.lit(float(b)) * F.col("dl") / avgdl
    )
    contrib = idf * F.col("cnt") * F.lit(float(k1) + 1.0) / denom
    ci = F.round(contrib * F.lit(1_000_000.0), 0).cast("long")
    scored = (
        cand.select("q_id", "doc_id", ci.alias("ci"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("ci").alias("score_int"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_int").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "doc_id",
            round6(F.col("score_int") / F.lit(1_000_000.0)).alias("score"),
            "rnk",
        )
    )


# Stand-in toxicity lexicon over the synthetic vocabulary: the operator
# owns the RULE FORM (weighted token-lexicon density scoring, the
# standard pre-classifier toxicity gate in crawl pipelines); real
# deployments pass their own term->weight map.
TOXICITY_LEXICON = {"slow": 3, "big": 2, "fat": 2, "hash": 1}


def toxicity_score(
    docs: DataFrame,
    lexicon: dict[str, int] | None = None,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted lexicon-density toxicity scoring — the lexicon gate that
    runs BEFORE any classifier in a crawl-filter stack (cheap, columnar,
    no model): ``score = Σ weight(t)·count(t) / n_tokens`` over exact
    lowercased whitespace tokens, flagged at ``score >= threshold``.

    Shape: tokens explode once and broadcast-hash-join the |lexicon|-row
    weight table (inner join — non-lexicon tokens die map-side, so the
    groupBy shuffles only lexicon-term instances, the same prune as
    bm25_topk's query-vocabulary semi-join); zero-hit documents come
    back via a left join from the map-only (doc, n_tokens) base. Per
    the module header, NO interpreted per-element array lambdas — the
    F.filter-per-term formulation walks every token |lexicon| times in
    the interpreter. Integer hit weights keep the score a single exact
    division, 6-dp rounded in both engines.

    Output: ``doc_id, n_tokens, tox_hits, tox_weighted, tox_score,
    is_toxic`` (empty docs score 0.0).
    """
    lex = TOXICITY_LEXICON if lexicon is None else lexicon
    if not lex:
        raise ValueError("toxicity lexicon must be non-empty")
    spark = docs.sparkSession
    lex_df = spark.createDataFrame(
        sorted(lex.items()), "term string, weight int"
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks")
    )
    base = toks.select("doc_id", F.size("__toks").cast("long").alias("n_tokens"))
    hits = (
        toks.select("doc_id", F.explode("__toks").alias("term"))
        .join(F.broadcast(lex_df), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("tox_hits"),
            F.sum("weight").cast("long").alias("tox_weighted"),
        )
    )
    score = F.when(
        F.col("n_tokens") > 0,
        round6(F.col("tox_weighted") / F.col("n_tokens")),
    ).otherwise(F.lit(0.0))
    return (
        base.join(hits, "doc_id", "left")
        .fillna({"tox_hits": 0, "tox_weighted": 0})
        .select(
            "doc_id",
            "n_tokens",
            "tox_hits",
            "tox_weighted",
            score.alias("tox_score"),
            (score >= F.lit(float(threshold))).alias("is_toxic"),
        )
    )
