"""Large-scale text deduplication (beyond-reference training-data ops).

Exact dedup is a hash-groupBy (driver_queries.doc_exact_dedup). The scale
path for NEAR-duplicate detection is implemented here:

- **MinHash + LSH**: word shingles → k independent min-hashes → band
  buckets → candidate pairs from bucket joins → exact-Jaccard verification
  of candidates only. The token self-join of the naive approach is
  replaced by a join on band hashes: at 100 TB the shuffle carries
  (doc_id, band_hash) pairs — ~b rows/doc — instead of one row per token
  occurrence, and bucket sizes stay bounded because collisions need
  r simultaneous equal min-hashes.
- **SimHash**: token-hash sign aggregation to a 32-bit fingerprint;
  near-dup candidates share at least one of 4 byte-bands (pigeonhole:
  hamming ≤ 3 ⇒ some band equal), verified by exact hamming distance.

All hashing is md5-derived and engine-portable, so the signature and
candidate computations are DuckDB-oracle-checkable (no dependence on
Spark's xxhash seed or Python's PYTHONHASHSEED).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from binance_futures_data_lake_spark.functions.scalars import round6

# prime > 2^32 for universal hashing h_j(t) = (a_j·t + b_j) mod P
MINHASH_P = 4_294_967_311


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Guarded input widening for CPU-heavy per-row text kernels
    (guide §2.5 input skew / §6 input split sizing).

    A parquet ROW GROUP is unsplittable, so a small file (every bench
    fixture is one row group, at the 10x replica too) pins the whole
    tokenize/shingle/md5 stage to a single task while every other core
    idles — the map-side work, not the shuffle, is the wall for these
    operators. Widen WITH A GUARD: round-robin repartition ONLY when the
    input's split count is below the session's scheduler width
    (``defaultParallelism``). At deploy scale a 100 TB table scan yields
    thousands of splits, the guard never fires, and no full-text shuffle
    is ever added on the big-data path (the §8 "shuffle heavy payloads
    for parallelism" anti-pattern stays out); when it DOES fire the
    exchange moves only the narrow input (fixture text, well under the
    split size) exactly once. Round-robin repartition is
    retry-deterministic (sortBeforeRepartition, SPARK-23207) and every
    consumer here is key-aggregated or key-joined, so results are
    row-order-independent.
    """
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    # "Too narrow" is a SIZE test, not a split-count test: split counts
    # overstate parallelism when one row group holds all the rows (the
    # other splits are empty), so compare the relation's estimated bytes
    # against what `width` busy splits would need. Size estimates only
    # shrink with pruning/filters, so a false negative (not widening a
    # big input) is the failure mode — never a 100 TB shuffle.
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df
    # the split size the file scan itself uses (already parsed by Spark)
    split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if size >= width * split_bytes:
        return df
    # No partition-count backstop: asking the RDD for its partition count
    # triggers full physical planning of the subtree at plan-BUILD time,
    # which cache_plan=False queries pay every run (measured: +0.2-0.7 s
    # per similarity-tier run). Composed operators that widen an
    # already-widened frame produce adjacent Repartition nodes that
    # Catalyst's CollapseRepartition folds to one exchange (verified:
    # incremental_corpus_dedup's plan is byte-identical with and without
    # the backstop).
    return df.repartition(width)


def words(col, lowercase: bool = True):
    c = F.lower(col) if lowercase else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def shingles_of_tokens(toks, n: int = 3):
    """Shingles from a token-array column (see ``words``).

    Built by zipping n shifted copies of the token array — per-element
    work is O(1). The obvious alternative, ``transform(sequence(0, L-n),
    i -> concat_ws(' ', slice(toks, i+1, n)))``, re-evaluates the OUTER
    ``toks`` expression once per lambda invocation (Spark higher-order
    lambdas don't CSE their captured expressions): with raw text as input
    that is O(L) regex splits per document, O(L²) token work overall —
    measured 31.7 s vs 4.7 s for the decontamination scan at 10x sf0.1.
    """
    if n <= 1:
        return F.array_distinct(toks)
    return F.array_distinct(
        F.when(F.size(toks) >= n, ngrams_of_tokens(toks, n)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def ngrams_of_tokens(toks, n: int):
    """Positional word n-grams from a token-array column — duplicates
    preserved, output length max(L-n+1, 0). Same zip-with-shifted-copies
    construction as ``shingles_of_tokens`` (see its docstring for why the
    transform-over-indices form is O(L²) and must not come back)."""
    if n <= 1:
        return toks
    sh = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(sh, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def token_hash(col, bits: int = 32):
    """Portable token hash: first ``bits/4`` hex chars of md5 as integer.
    (Identical in DuckDB: ('0x' || substring(md5(t),1,w))::BIGINT.)
    ``bits`` must be a multiple of 4, at most 60 — 15 hex chars is the
    widest prefix that stays inside signed-long range."""
    if bits % 4 != 0 or not (4 <= bits <= 60):
        raise ValueError(f"bits must be a multiple of 4 in [4, 60], got {bits}")
    return F.conv(F.substring(F.md5(col), 1, bits // 4), 16, 10).cast("long")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Long-format MinHash signatures: (doc_id, h [0..k), minhash).

    h_j(t) = ((2j+1)·t + 12345j + 1) mod P — odd multipliers, portable
    arithmetic. One explode of shingles × k hash indices, then a min
    aggregate; map-side partial aggregation keeps the shuffle at
    k rows/doc.
    """
    docs = widen_narrow_scan(docs)
    tok = (
        docs.select(F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks"))
        .select("doc_id", F.explode(shingles_of_tokens(F.col("__toks"), shingle_n)).alias("tok"))
        .withColumn("t", token_hash(F.col("tok")))
    )
    crossed = tok.select(
        "doc_id", "t", F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("h")
    )
    hashed = crossed.withColumn(
        "hv",
        ((2 * F.col("h") + 1) * F.col("t") + 12345 * F.col("h") + 1) % MINHASH_P,
    )
    return hashed.groupBy("doc_id", "h").agg(F.min("hv").alias("minhash"))


def band_hashes(sig: DataFrame, rows_per_band: int) -> DataFrame:
    """Collapse a long-format signature to one hash per (doc, band) — the
    unit of LSH collision. Shared by the in-corpus pair generator and the
    incremental snapshot-vs-corpus join."""
    return (
        sig.withColumn("band", F.floor(F.col("h") / rows_per_band))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list(F.concat_ws(":", F.col("h"), F.col("minhash")))))).alias(
                "band_hash"
            )
        )
    )


def _collect_hot_band_keys(
    banded: DataFrame, key_cols: list[str], max_band_freq: int, max_hot_keys: int
) -> dict:
    """Frequencies per band key (map-side-combinable agg), collected as a
    ``{band: [hot values]}`` dict. The collect is bounded by construction —
    at most |rows| / max_band_freq keys can exceed the cap — and guarded by
    ``max_hot_keys`` so a pathological cap choice fails loudly instead of
    OOMing the driver."""
    hot = (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_band_freq)
        .select(*key_cols)
        .collect()
    )
    if len(hot) > max_hot_keys:
        raise ValueError(
            f"{len(hot)} band keys exceed max_band_freq={max_band_freq} "
            f"(> max_hot_keys={max_hot_keys}); raise the cap or pre-filter "
            "the degenerate docs"
        )
    by_band: dict = {}
    for r in hot:
        by_band.setdefault(r[key_cols[0]], []).append(r[key_cols[1]])
    return by_band


def _hot_filter(key_col: str, by_band: dict):
    """In-row predicate marking rows whose (band, key) is hot — a literal
    expression chain, so dropping hot buckets costs no join or shuffle."""
    cond = F.lit(False)
    for band, vals in sorted(by_band.items()):
        cond = cond | ((F.col("band") == band) & F.col(key_col).isin(vals))
    return cond


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_band_freq: int | None = None,
    max_hot_keys: int = 100_000,
) -> DataFrame:
    """Band the long-format signature and emit candidate (doc_a, doc_b)
    pairs sharing at least one band. Jaccard s collides in a band with
    probability s^r; P(candidate) = 1-(1-s^r)^b — the classic LSH S-curve.

    **Skew guard** (``max_band_freq``): a band value shared by m docs
    contributes m²/2 candidate pairs to ONE join key — boilerplate-heavy
    crawl data (empty docs, license headers, templated pages) concentrates
    a quadratic candidate set on a handful of keys. Salting cannot help a
    self-join: splitting a hot key across s sub-keys still produces every
    one of the m² pairs, just on more tasks — the only scale-safe move is
    to CAP the bucket: band values collided by more than ``max_band_freq``
    docs are dropped from the join (both sides, an in-row literal
    predicate — no extra shuffle; the frequency aggregate itself is one
    map-side-combined pass over the banded rows). A pair is lost only if
    EVERY band it collides in is hot — the standard recall trade web-scale
    MinHash dedup makes (near-identical boilerplate should reach the
    exact-dedup or quality-filter tiers instead). Default None preserves
    exact all-pairs semantics. Audit the dropped keys with the same
    aggregate this function runs: ``band_hashes(sig, r).groupBy("band",
    "band_hash").count().filter("count > CAP")``.
    """
    banded = band_hashes(sig, rows_per_band)
    if max_band_freq is not None:
        by_band = _collect_hot_band_keys(
            banded, ["band", "band_hash"], max_band_freq, max_hot_keys
        )
        if by_band:
            banded = banded.filter(~_hot_filter("band_hash", by_band))
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only (the verify stage)."""
    docs = widen_narrow_scan(docs)
    sh = docs.select(
        F.col(id_col).alias("doc_id"), words(F.col(text_col)).alias("__toks")
    ).select("doc_id", shingles_of_tokens(F.col("__toks"), shingle_n).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / union.cast("double")
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", round6(F.col("jaccard")).alias("jaccard"))
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Full near-dup chain: sign → band → candidates → exact verify.
    ``max_band_freq`` caps degenerate band buckets (see
    :func:`lsh_candidate_pairs`)."""
    sig = minhash_signatures(docs, num_hashes=num_hashes, shingle_n=shingle_n)
    cand = lsh_candidate_pairs(
        sig, bands, num_hashes // bands, max_band_freq=max_band_freq
    )
    return jaccard_verify(docs, cand, shingle_n=shingle_n, threshold=threshold)


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash (default 32-bit): per token-hash bit, +count if set else
    −count; fingerprint bit set where the sum is positive. ``bits`` up to
    60 — the token hash widens with the fingerprint, so high bits carry
    real entropy (a fixed 32-bit token hash would leave bits 32+ constant
    across the corpus and degenerate any band built from them)."""
    docs = widen_narrow_scan(docs)
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words(F.col(text_col))).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("t", token_hash(F.col("tok"), bits=bits))
    )
    # one columnar conditional sum per bit instead of exploding each token
    # row `bits`-fold: same two shuffles, 1/32nd the aggregated rows, and
    # the 32 sums stay inside whole-stage codegen (2.5x on the bench SF).
    # Bit test is integer shift+mask: floor(t / 2^b) % 2 goes through
    # doubles and drops low bits once t exceeds 2^53.
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("t"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
                ).otherwise(-F.col("cnt"))
            ).alias(f"__s{b}")
            for b in range(bits)
        ]
    )
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"__s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select("doc_id", fingerprint.alias("simhash"))


def _pigeonhole_banded(
    df: DataFrame, fp_col: str, max_hamming: int, bits: int, n_bands: int | None
):
    """Explode every row of ``df`` into one ``(band, bv)`` row per disjoint
    bit band of its ``fp_col`` fingerprint. ``n_bands`` (default
    ``max_hamming + 1``) bands over ``bits`` bits: by pigeonhole, two
    fingerprints within ``max_hamming`` bits share at least one identical
    band, so a ``(band, bv)`` equi-join loses no qualifying pair. Bit
    extraction is unsigned shift + mask: ``floor(x / 2^k)`` goes through
    doubles and drops low bits past 2^53, and full 64-bit fingerprints
    (image aHash) use the sign bit. Returns ``(banded, widths, offsets)``."""
    if not (1 <= bits <= 64):
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if n_bands is None:
        n_bands = max_hamming + 1
    if not (max_hamming < n_bands <= bits):
        raise ValueError(
            f"need max_hamming < n_bands <= bits for pigeonhole recall, "
            f"got max_hamming={max_hamming}, n_bands={n_bands}, bits={bits}"
        )
    base, rem = divmod(bits, n_bands)
    widths = [base + 1] * rem + [base] * (n_bands - rem)
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col(fp_col), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("bv"),
            )
            for i in range(n_bands)
        ]
    )
    cols = df.columns
    banded = (
        df.select(*cols, F.explode(bands).alias("bb"))
        .select(*cols, "bb.band", "bb.bv")
    )
    return banded, widths, offsets


def hamming_near_pairs(
    sims: DataFrame,
    value_col: str,
    max_hamming: int,
    bits: int = 64,
    n_bands: int | None = None,
    id_col: str = "doc_id",
    max_band_freq: int | None = None,
    max_hot_keys: int = 100_000,
) -> DataFrame:
    """All pairs whose ``value_col`` fingerprints differ in at most
    ``max_hamming`` bits — the generalized banded-hamming join shared by
    text SimHash and image perceptual hashes.

    ``n_bands`` (default ``max_hamming + 1``) disjoint bit-bands cover
    the fingerprint; by pigeonhole, hamming <= n_bands - 1 forces at
    least one identical band, so the band equi-self-join loses no
    qualifying pair. Looser thresholds therefore need more/narrower
    bands — more candidate collisions — which is why web-scale dedup
    keeps thresholds tight (<=3 over 64 bits, 4x16-bit bands); this
    operator makes that trade explicit instead of silently losing
    recall.

    One EXPLODE over (band, value) then a single equi-self-join on both —
    not a per-band union, which would recompute the upstream fingerprint
    aggregation once per band per side (a prior version compiled to 16
    corpus scans; this shape compiles to 2, one per join side). The
    hamming verify runs INSIDE the join stage, BEFORE the pair dedup: a
    false band collision dies in whole-stage codegen without ever
    shuffling. Uniqueness WITHOUT a distinct: a true pair collides in
    every clean band, so it is emitted only from its SMALLEST matching
    band — whether an earlier band also matched is decidable in-row (xor
    restricted to that band == 0), so duplicate emissions die in the
    same codegen stage and the plan's only exchanges are the band-key
    join shuffles themselves (8.1 -> 2.8 s at the 10x bench replica).

    **Skew guard** (``max_band_freq``): a band value shared by m rows is
    ONE join key carrying m² candidate comparisons — degenerate corpora
    (millions of empty/near-empty docs collapsing to the same fingerprint
    bits) turn the band join quadratic on a single key. Salting cannot
    fix a self-join (it spreads the m² pairs across tasks without
    shrinking them), so the guard CAPS the bucket: band values with more
    than ``max_band_freq`` rows are dropped from the join via an in-row
    literal predicate (the hot-key set is collected from one map-side-
    combined frequency pass and is bounded by |rows| / cap, guarded by
    ``max_hot_keys``). The smallest-band uniqueness rule is hot-aware: a
    pair whose earlier clean band was dropped as hot is emitted from its
    first NON-hot clean band instead of being lost — so a pair is lost
    only when EVERY clean band it shares is hot, the explicit recall
    trade web-scale near-dup makes for boilerplate. Default None keeps
    exact all-pairs semantics. NOTE: when ``sims`` is an expensive
    upstream (the simhash aggregation), persist it before calling with a
    cap — the frequency pass re-evaluates it once.
    """
    banded, widths, offsets = _pigeonhole_banded(
        sims.select(F.col(id_col).alias("doc_id"), F.col(value_col).alias("__fp")),
        "__fp", max_hamming, bits, n_bands,
    )
    n_bands = len(widths)

    def _mask(i: int) -> int:
        m = ((1 << widths[i]) - 1) << offsets[i]
        return m - (1 << 64) if m >= (1 << 63) else m  # signed-long view

    hot_by_band: dict = {}
    if max_band_freq is not None:
        hot_by_band = _collect_hot_band_keys(
            banded, ["band", "bv"], max_band_freq, max_hot_keys
        )
        if hot_by_band:
            banded = banded.filter(~_hot_filter("bv", hot_by_band))
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("__fp").alias("sim_a"), "band", "bv"
    )
    # Self-join strategy: force sort-merge (r12). The planner's default is
    # a BroadcastHashJoin of the b side, and a broadcast side is REBUILT
    # from its subtree — the entire upstream (simhash aggregation, or the
    # media encode→decode→fingerprint Python pipeline) executes twice,
    # once per join side. With both sides shuffled on the same (band, bv)
    # key the two exchanges canonicalize identically and ReuseExchange
    # runs the upstream ONCE (guide §2.4/§7.2 duplicated-subtree): band
    # rows are ~16 bytes, so the extra exchange is noise next to a second
    # fingerprint pass at any scale, and sort-merge spills gracefully
    # where a broadcast has an 8 GB hard cap. Measured at sf0.1:
    # media_audio_near_dup 5.48→0.87 s, plan BroadcastHashJoin+duplicate
    # subtree → SortMergeJoin+ReusedExchange, rows bit-identical.
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("__fp").alias("sim_b"), "band", "bv"
    ).hint("merge")
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))

    def _band_clean(i: int):
        return (
            F.col("sim_a").bitwiseXOR(F.col("sim_b")).bitwiseAND(F.lit(_mask(i)))
            == 0
        )

    def _band_hot(i: int):
        # the pair's band-i key is derivable from either fingerprint when
        # the band is clean — hot membership is an in-row literal test
        vals = hot_by_band.get(i)
        if not vals:
            return F.lit(False)
        return (
            F.shiftrightunsigned(F.col("sim_a"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            .isin(vals)
        )

    first_match = F.lit(True)
    for j in range(n_bands - 1):
        # suppress a later-band emission only if an EARLIER band both
        # matched (clean) and actually joined (its bucket was not hot)
        first_match = first_match & F.when(
            F.col("band") > j, ~_band_clean(j) | _band_hot(j)
        ).otherwise(F.lit(True))
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_match)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def hamming_match_existing(
    existing: DataFrame,
    new: DataFrame,
    value_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 32,
    n_bands: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Min-id EXISTING match within ``max_hamming`` bits for each NEW row —
    the cross-set (snapshot-vs-corpus) variant of
    :func:`hamming_near_pairs`, the simhash tier of the daily-ingest
    dedup pattern. Same pigeonhole banding (``n_bands`` disjoint bit
    bands force ≥1 identical band for any qualifying pair, so recall is
    exact); the join shuffles ``n_bands`` narrow rows per fingerprint on
    each side instead of the |new|·|existing| cross product, and
    multi-band collisions collapse in the final per-doc aggregate
    (min-id match + that match's hamming, both replayable as SQL
    ``min`` / ``arg_min``).

    Output: one row per new doc that HAS a match —
    ``(doc_id, match_id, hamming)``."""
    e, _, _ = _pigeonhole_banded(
        existing.select(F.col(id_col).alias("e_id"), F.col(value_col).alias("e_fp")),
        "e_fp", max_hamming, bits, n_bands,
    )
    nn, _, _ = _pigeonhole_banded(
        new.select(F.col(id_col).alias("doc_id"), F.col(value_col).alias("n_fp")),
        "n_fp", max_hamming, bits, n_bands,
    )
    ham = F.bit_count(F.col("e_fp").bitwiseXOR(F.col("n_fp")))
    return (
        nn.join(e, ["band", "bv"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_id")
        .agg(
            F.min("e_id").alias("match_id"),
            F.min_by("hamming", "e_id").alias("hamming"),
        )
    )


def simhash_near_pairs(
    sims: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash — :func:`hamming_near_pairs` over the
    ``simhash`` column with the classic 4-band configuration (pigeonhole
    guarantees recall for hamming <= 3). With 32-bit fingerprints each
    band is 8 bits = 256 buckets — fine to ~10^5 docs; at corpus scale
    pass ``bits=60`` (the Charikar 64-bit standard adapted so fingerprint
    AND md5-prefix token hash stay in signed-long range, paired with
    ``simhash(docs, bits=60)``), whose 15-bit bands cut random collisions
    a further ~128x per band."""
    if bits % 4 != 0 or not (4 <= bits <= 60):
        raise ValueError(f"bits must be a multiple of 4 in [4, 60], got {bits}")
    return hamming_near_pairs(
        sims, "simhash", max_hamming=max_hamming, bits=bits, n_bands=4,
        max_band_freq=max_band_freq,
    )


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute force: every (a, b) with
    a < b and cos(a, b) >= threshold. Exact baseline — O(n²) similarity
    evaluations, viable per blocking group only; at corpus scale use
    ``embedding_near_dup_lsh`` (band-bucketed candidates, same verify).

    Returns the RAW cosine (no rounding) so callers choose presentation.
    """
    from binance_futures_data_lake_spark.operators.similarity import _dot, normalized

    base = normalized(emb, id_col, vec_col)
    a = base.select(F.col("id").alias("doc_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("id").alias("doc_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: random-hyperplane LSH
    banding generates candidates (pairs sharing >= 1 band bucket), exact
    cosine verifies. The self-join shuffles (id, band_key) — `bands` rows
    per vector — instead of the n² cross product, which is the difference
    between a band-key shuffle and an impossible job at 100 TB.

    Designed for the HIGH-threshold regime (true near-dups, cos >= ~0.9)
    where per-bit collision probability 1 - acos(cos)/pi makes recall
    ~0.99 at 16 planes / 4 bands; recall degrades at low thresholds —
    pytest gauges it against the brute-force baseline on planted dups.
    """
    from binance_futures_data_lake_spark.operators.similarity import (
        _band_keys,
        _dot,
        rh_signatures,
    )

    rpb = n_planes // bands
    sig = rh_signatures(emb, dim, n_planes, id_col, vec_col)
    banded = sig.select(
        "id", "vec", "nrm", F.explode(_band_keys(F.col("bits"), bands, rpb)).alias("band_key")
    )
    a = banded.select(
        F.col("id").alias("doc_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"), "band_key"
    )
    b = banded.select(
        F.col("id").alias("doc_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"), "band_key"
    )
    cand = (
        a.join(b, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_hits: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs that share word
    n-gram shingles with an evaluation/benchmark set.

    The standard pre-training hygiene step (the reference engine has no
    corpus tooling; this extends the LLM-pipeline family): any training
    document overlapping an eval benchmark inflates reported scores, so
    docs with ``n_overlap >= min_hits`` matching shingles are marked
    ``contaminated`` for removal.

    Scale shape: the benchmark side (eval sets are thousands of docs, not
    billions) collapses to a distinct shingle set that is broadcast, so
    the corpus — the 100 TB side — is ONE scan + explode + broadcast-hash
    left join + per-doc partial aggregation. No shuffle of corpus text,
    no self-join. Output: one row per corpus doc with distinct-shingle
    count, overlap count, overlap fraction and the contaminated flag.
    """
    corpus = widen_narrow_scan(corpus)
    benchmark = widen_narrow_scan(benchmark)
    bsh = (
        benchmark.select(words(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_of_tokens(F.col("__toks"), shingle_n)).alias("s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    csh = corpus.select(F.col(id_col), words(F.col(text_col)).alias("__toks")).select(
        id_col, F.explode(shingles_of_tokens(F.col("__toks"), shingle_n)).alias("s")
    )
    joined = csh.join(F.broadcast(bsh), "s", "left")
    n_sh = F.count(F.lit(1))
    n_ov = F.coalesce(F.sum("_hit"), F.lit(0))
    return (
        joined.groupBy(id_col)
        .agg(n_sh.alias("n_shingles"), n_ov.alias("n_overlap"))
        .withColumn(
            "overlap_frac",
            round6(F.col("n_overlap") / F.col("n_shingles").cast("double")),
        )
        .withColumn(
            "contaminated", (F.col("n_overlap") >= min_hits).cast("int")
        )
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with shingle-Jaccard >= threshold, with shingles compared
    by 64-bit hash (``xxhash64``): exact unless two distinct shingles of a
    candidate pair collide. Inverted-index self-join on the shingle hashes
    (never a doc×doc cross join).
    Ground truth for the MinHash path at test scale; at corpus scale the
    same shape runs on LSH candidates (minhash_dedup_pairs).

    Shape (r12): ONE scan+shingle pass total. The per-doc shingle count
    rides the exploded rows as one long (``shingles_of_tokens`` is
    array_distinct'ed, so ``size(arr)`` IS the old explode→groupBy
    count), which deletes the separate sz scan branch and both
    broadcast-backs; the self-join is forced sort-merge so the two
    sides' exchanges — identical (doc_id, n, s) projections keyed on
    ``s`` — canonicalize to ONE exchange and ReuseExchange runs the
    scan→tokenize→shingle→explode subtree once (a broadcast build side
    would re-execute it, and the old plan ran it three times: both join
    sides plus sz). Guide §2.4/§3.1; measured sf0.1 dedup_clusters
    4.41→2.49 s, plan 3 scans → 1, 2 BroadcastExchange of corpus-sized
    exploded rows → 0.

    r13: the self-join keys on ``xxhash64(shingle)`` instead of the
    shingle STRING — the exchange carries 8 bytes per instance instead
    of the ~40-byte shingle text and the SMJ sorts longs, not strings
    (guide §2.3 "shuffle keys, not payloads"; same documented
    engineering bet as scrub_cross_doc_spans' span keys: a 64-bit
    collision would need two distinct shingles in the same doc pair,
    ~1e-7 at corpus scale, and n_common is off by one only then)."""
    docs = widen_narrow_scan(docs)
    sh = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            shingles_of_tokens(words(F.col(text_col)), shingle_n).alias("__sh"),
        )
        .select(
            "doc_id",
            F.size("__sh").cast("long").alias("n"),
            F.explode("__sh").alias("__s"),
        )
        # hash BELOW the exchange in codegen (a transform() over the
        # array would run interpreted — the r12 in-row closed negative)
        .select("doc_id", "n", F.xxhash64("__s").alias("s"))
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s"
    ).hint("merge")
    inter = (
        a.join(b, (a["s"] == b["s"]) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.filter(jac >= threshold)
        .select("doc_a", "doc_b", round6(jac).alias("jaccard"))
    )


def incremental_dedup(
    existing: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    existing_sig: DataFrame | None = None,
    exact_tbl: DataFrame | None = None,
) -> DataFrame:
    """Snapshot-vs-corpus dedup — the daily-ingest pattern: classify every
    NEW document against the EXISTING corpus without ever re-pairing the
    corpus with itself. Two layers:

    - **exact**: md5(text) join against the per-hash min existing id;
    - **near**: MinHash band join of the new snapshot's signatures
      against the existing side's, then exact shingle-Jaccard
      verification on the cross-set candidates.

    Output: one row per new doc —
    ``doc_id, status ('exact_dup'|'near_dup'|'kept'), match_id, jaccard``
    with ``match_id`` the smallest matching existing id (exact wins over
    near; ``jaccard`` only for near matches, of THAT match).

    Scale, stated precisely: per call, the new snapshot is signed
    (O(|new|)); the existing side's signatures come from
    ``existing_sig`` when provided — the persisted, upsert-grown index a
    production lake maintains (``minhash_signatures`` output schema) —
    and are recomputed from text when not (fine for tests/small runs,
    a full-corpus scan otherwise). The md5 layer and the candidate
    Jaccard verification each scan the existing TEXT once (hash/shingle
    per doc, no pairing); only band-colliding candidates reach the
    pairwise verify.

    Verification joins each side against its OWN shingle frame (never a
    union), so an id colliding across sides — a re-delivered doc_id —
    still verifies new-text-vs-existing-text, not against itself.
    """
    existing = widen_narrow_scan(existing)
    new = widen_narrow_scan(new)
    ids = (F.col(id_col).alias("doc_id"),)
    if exact_tbl is not None:
        # persisted index contract: (text_md5, exact_id), upsert-grown
        # per ingest like existing_sig — no corpus re-hash per call
        exact_tbl = exact_tbl.select(
            F.col("text_md5").alias("__th"), "exact_id"
        )
    else:
        exact_tbl = (
            existing.select(F.md5(F.col(text_col)).alias("__th"), *ids)
            .groupBy("__th")
            .agg(F.min("doc_id").alias("exact_id"))
        )
    base = new.select(*ids, F.md5(F.col(text_col)).alias("__th")).join(
        exact_tbl, "__th", "left"
    ).select("doc_id", "exact_id")

    rows_per_band = num_hashes // bands
    if existing_sig is None:
        existing_sig = minhash_signatures(
            existing, text_col, id_col, num_hashes, shingle_n
        )
    band_e = band_hashes(existing_sig, rows_per_band).select(
        F.col("doc_id").alias("doc_b"), "band", "band_hash"
    )
    band_n = band_hashes(
        minhash_signatures(new, text_col, id_col, num_hashes, shingle_n),
        rows_per_band,
    ).select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    cand = (
        band_n.join(band_e, ["band", "band_hash"])
        .select("doc_a", "doc_b")
        .distinct()
    )

    def _shingle_frame(side: DataFrame, alias: str):
        return side.select(
            F.col(id_col).alias(alias),
            shingles_of_tokens(words(F.col(text_col)), shingle_n).alias(f"sh_{alias}"),
        )

    # shingle only the existing docs that actually collided: a semi-join
    # prefilter keeps the verify pass O(candidates), not O(corpus) — the
    # per-ingest contract when `existing` is the full corpus store
    existing_cand = existing.join(
        cand.select(F.col("doc_b").alias(id_col)).distinct(), id_col, "left_semi"
    )
    joined = cand.join(_shingle_frame(new, "doc_a"), "doc_a").join(
        _shingle_frame(existing_cand, "doc_b"), "doc_b"
    )
    inter = F.size(F.array_intersect("sh_doc_a", "sh_doc_b"))
    union_sz = F.size(F.array_union("sh_doc_a", "sh_doc_b"))
    jac = inter.cast("double") / union_sz.cast("double")
    verified = (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", round6(F.col("jaccard")).alias("jaccard"))
    )
    near_best = verified.groupBy("doc_a").agg(
        F.min("doc_b").alias("near_id"),
        F.min_by("jaccard", "doc_b").alias("near_jaccard"),
    )
    out = base.join(near_best, base.doc_id == near_best.doc_a, "left")
    status = (
        F.when(F.col("exact_id").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return out.select(
        base.doc_id,
        status.alias("status"),
        F.coalesce("exact_id", "near_id").alias("match_id"),
        F.when(
            F.col("exact_id").isNull() & F.col("near_id").isNotNull(),
            F.col("near_jaccard"),
        ).alias("jaccard"),
    )


def bloom_bitset(
    benchmark: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    m_bits: int = 65536,
    k: int = 4,
) -> list[int]:
    """Build a Bloom filter over the benchmark's distinct shingles as a
    list of 63-bit words — the MEMORY-BOUNDED variant of
    :func:`benchmark_overlap`'s broadcast shingle set. An eval suite of
    10⁸ shingles broadcast as strings is gigabytes per executor; the
    Bloom bitset is ``m_bits/8`` bytes at any benchmark size (false
    positives only — a contaminated doc can NEVER be missed, so the
    hygiene guarantee is one-sided in the safe direction).

    Engine-portable double hashing (Kirsch-Mitzenmacher): one md5 per
    shingle yields ``h1`` (hex chars 1-15) and ``h2`` (chars 17-31);
    position j is ``(h1 mod m + j·(h2 mod m)) mod m`` — h1/h2 reduced
    BEFORE the multiply so the probe can never overflow int64 at any k
    (identical positions to the textbook ``(h1 + j·h2) mod m`` by
    modular arithmetic). Words are 63 bits so every mask
    is a POSITIVE long in any engine (bit 63 of a signed 64-bit word
    flips sign and ``1 << 63`` is engine-dependent UB territory); masks
    are built as ``pow(2.0, bit)`` — exact for every bit ≤ 62, and the
    only shift spelling Spark's column API allows a COLUMN bit count.

    Scale shape: benchmark scan → explode k positions → per-word
    ``bit_or`` (map-side combined to ≤ ⌈m/63⌉ rows) → ONE bounded
    collect (the IVF-centroid / DSIR-λ literal pattern).
    """
    if m_bits < 64 or k < 1:
        raise ValueError(f"need m_bits >= 64, k >= 1; got {m_bits}, {k}")
    benchmark = widen_narrow_scan(benchmark)
    bsh = (
        benchmark.select(words(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_of_tokens(F.col("__toks"), shingle_n)).alias("s"))
        .distinct()
    )
    md5h = F.md5(F.col("s"))
    # reduce h1/h2 mod m BEFORE the j-multiply: (h1 + j*h2) mod m ==
    # (h1 mod m + j*(h2 mod m)) mod m, and the reduced form cannot
    # overflow int64 at ANY k (raw h1 + j*h2 wraps past k=8 in Spark and
    # ERRORS in ANSI engines — h1, h2 are 60-bit)
    pos = F.pmod(
        F.pmod(F.conv(F.substring(md5h, 1, 15), 16, 10).cast("long"), F.lit(m_bits))
        + F.col("j")
        * F.pmod(
            F.conv(F.substring(md5h, 17, 15), 16, 10).cast("long"), F.lit(m_bits)
        ),
        F.lit(m_bits),
    )
    rows = (
        bsh.select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"), "s"
        )
        .select(pos.alias("pos"))
        .select(
            ((F.col("pos") - F.pmod(F.col("pos"), F.lit(63))) / F.lit(63))
            .cast("long")
            .alias("w"),
            F.pow(F.lit(2.0), F.pmod(F.col("pos"), F.lit(63)).cast("double"))
            .cast("long")
            .alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )  # bounded: <= ceil(m_bits/63) rows by construction
    out = [0] * ((m_bits + 62) // 63)
    for r in rows:
        out[r["w"]] = r["bits"]
    return out


def bloom_decontam(
    corpus: DataFrame,
    bloom_words: Sequence[int],
    m_bits: int,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_hits: int = 3,
) -> DataFrame:
    """Flag corpus docs whose shingles hit the benchmark Bloom filter
    (:func:`bloom_bitset`) — decontamination when the eval set is too
    big to broadcast as strings. ZERO shuffles: the bitset rides the
    plan as a literal word array and each shingle's k membership probes
    are in-row bit tests, so the whole pass pipelines inside the corpus
    scan's stage. One md5 per shingle (computed once into a per-shingle
    struct; h1/h2 are substring slices of it), k add-mod-mask probes.

    Output mirrors :func:`benchmark_overlap`: ``doc_id, n_shingles,
    n_hits, hit_frac, contaminated`` — with ``n_hits >= n_overlap``
    (Bloom false positives can only ADD hits, never drop one; size
    ``m_bits`` for the target FP rate ``(1 - e^(-k·n/m))^k``).
    """
    corpus = widen_narrow_scan(corpus)
    n_words = (m_bits + 62) // 63
    if len(bloom_words) != n_words:
        raise ValueError(
            f"bloom_words has {len(bloom_words)} words, expected {n_words}"
        )
    # lit(list) — see dsir_logweights: both forms fold to the same
    # Literal; this one skips ~seconds of one-time analysis of an
    # 8k-child Cast(Literal) tree
    words_lit = F.lit([int(w) for w in bloom_words]).cast("array<long>")
    sh = shingles_of_tokens(words(F.col(text_col)), shingle_n)

    def _allset(h):
        cond = F.lit(True)
        for j in range(k):
            pos = F.pmod(
                F.pmod(h["h1"], F.lit(m_bits))
                + F.lit(j) * F.pmod(h["h2"], F.lit(m_bits)),
                F.lit(m_bits),
            )
            bit = F.pmod(pos, F.lit(63))
            mask = F.pow(F.lit(2.0), bit.cast("double")).cast("long")
            word_ix = ((pos - bit) / F.lit(63)).cast("int") + F.lit(1)
            cond = cond & (
                F.element_at(words_lit, word_ix).bitwiseAND(mask) == mask
            )
        return cond

    hashes = F.transform(
        F.transform(sh, lambda s: F.md5(s)),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 15), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 17, 15), 16, 10).cast("long").alias("h2"),
        ),
    )
    n_sh = F.size(sh).cast("long")
    n_hits = F.size(F.filter(hashes, _allset)).cast("long")
    return corpus.select(
        F.col(id_col),
        n_sh.alias("n_shingles"),
        n_hits.alias("n_hits"),
        round6(n_hits / n_sh.cast("double")).alias("hit_frac"),
        (n_hits >= min_hits).cast("int").alias("contaminated"),
    )
