"""Text dedup + analysis operators: recall of the LSH chain vs exact
Jaccard, SimHash banding guarantees, language-ID on constructed docs,
fingerprint invariances, and the ML surface."""

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.text import (
    fingerprint,
    lang_scores,
    quality_features,
)
from binance_futures_data_lake_spark.operators.textdedup import (
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    shingles_of_tokens,
    simhash,
    simhash_near_pairs,
    words,
)
from binance_futures_data_lake_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = load_table(spark, "documents", SF).cache()
    df.count()
    return df


def _exact_pairs(spark, docs, threshold):
    sh = docs.select("doc_id", shingles_of_tokens(words(F.col("text")), 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = a.join(b, F.col("doc_a") < F.col("doc_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return {
        (r.doc_a, r.doc_b)
        for r in joined.withColumn("j", jac).filter(F.col("j") >= threshold).collect()
    }


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """With 16 hashes in 8 bands (r=2), a pair at Jaccard 0.5 collides in a
    band w.p. 1-(1-0.25)^8 ≈ 0.90 — the chain should find most true pairs,
    and every pair it reports must be a true pair (verify stage is exact)."""
    truth = _exact_pairs(spark, docs, 0.5)
    found = {
        (r.doc_a, r.doc_b)
        for r in minhash_dedup_pairs(
            docs, threshold=0.5, num_hashes=16, bands=8, shingle_n=3
        ).collect()
    }
    assert found <= truth  # no false positives — exact verify
    if truth:
        assert len(found & truth) / len(truth) >= 0.7


def test_minhash_signature_is_min_over_hashes(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon")],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(docs, num_hashes=4, shingle_n=3).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r.doc_id, {})[r.h] = r.minhash
    # identical text → identical signature rows for every hash index
    assert by_doc[1] == by_doc[2]
    assert set(by_doc[1]) == {0, 1, 2, 3}


def test_lsh_identical_docs_always_candidates(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now")],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(docs, num_hashes=8, shingle_n=3)
    cand = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sig, 4, 2).collect()}
    assert (1, 2) in cand
    ver = jaccard_verify(docs, lsh_candidate_pairs(sig, 4, 2), threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in ver] == [(1, 2, 1.0)]


def test_simhash_identical_and_disjoint(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight"),
         (2, "one two three four five six seven eight"),
         (3, "nine ten eleven twelve thirteen fourteen")],
        ["doc_id", "text"],
    )
    sims = simhash(docs)
    vals = {r.doc_id: r.simhash for r in sims.collect()}
    assert vals[1] == vals[2]
    assert 0 <= vals[1] < 2 ** 32
    pairs = simhash_near_pairs(sims, max_hamming=3).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}
    assert pairs[0].hamming == 0


def test_simhash_banding_guarantee(spark, docs):
    """Pigeonhole: any pair with hamming<=3 differs in at most 3 of the 4
    byte-bands, so at least one band matches → banding finds ALL such
    pairs. Verify against a direct all-pairs hamming scan."""
    sims = simhash(docs).cache()
    a = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    truth = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("h", ham).filter(F.col("h") <= 3).collect()
    }
    found = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(sims, max_hamming=3).collect()}
    assert found == truth


def test_lang_id_on_constructed_docs(spark):
    docs = spark.createDataFrame(
        [(1, "the cat is in the house and it is warm", "en"),
         (2, "le chat est dans la maison et il est chaud", "fr"),
         (3, "der hund ist in das haus und er ist warm", "de"),
         (4, "el gato es de la casa y es un animal", "es"),
         (5, "zzz qqq xxx www", "und")],
        ["doc_id", "text", "expect"],
    )
    out = {r.doc_id: r.lang_pred for r in lang_scores(docs).collect()}
    expect = {r.doc_id: r.expect for r in docs.collect()}
    assert out == expect


def test_fingerprint_whitespace_case_invariant(spark):
    docs = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "  HELLO\tWORLD  "), (4, "goodbye world")],
        ["doc_id", "text"],
    )
    fps = {r.doc_id: r.fp for r in docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]
    assert 0 <= fps[1] < 2_147_483_647


def test_quality_features_values(spark):
    docs = spark.createDataFrame([(1, "ab cd ef gh ij kl")], ["doc_id", "text"])
    r = quality_features(docs).collect()[0]
    assert r.n_tokens == 6
    assert r.avg_token_len == 2.0
    assert r.punct_ratio == 0.0
    assert r.quality_keep is True
    short = quality_features(
        spark.createDataFrame([(2, "one two")], ["doc_id", "text"])
    ).collect()[0]
    assert short.quality_keep is False  # fewer than 5 tokens


def test_lr_on_embeddings_machinery(spark):
    """The testdata labels are independent of the embeddings (holdout
    nearest-centroid = chance), so no accuracy gate is meaningful here —
    assert the evaluation machinery: counts reconcile, metrics well-formed,
    and the deterministic split makes repeated runs identical."""
    from binance_futures_data_lake_spark.operators.ml import lr_on_embeddings

    emb = load_table(spark, "embeddings", SF)
    rows = lr_on_embeddings(emb).collect()
    labels = {r.label for r in rows}
    assert labels <= set(range(10))
    total_true = sum(r.n_true for r in rows)
    total_pred = sum(r.n_pred for r in rows)
    total_correct = sum(r.n_correct for r in rows)
    assert total_true == total_pred  # every test row predicted exactly once
    assert 0 <= total_correct <= total_true
    for r in rows:
        assert r.n_correct <= min(r.n_true, r.n_pred)
        if r.precision is not None:
            assert 0.0 <= r.precision <= 1.0
        if r.recall is not None:
            assert 0.0 <= r.recall <= 1.0
    rows2 = lr_on_embeddings(emb).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_pattern_counts_planted_pii(spark):
    from binance_futures_data_lake_spark.operators.text import (
        PII_PATTERNS,
        pattern_counts,
    )

    df = spark.createDataFrame(
        [
            (1, "contact me at alice.smith+x@example.co.uk or bob@ex.io today"),
            (2, "see https://example.com/a/b?q=1 and http://t.co/x for info"),
            (3, "call 5551234567 now; ref 12345678901"),
            (4, "a clean short doc with no sensitive content at all"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pattern_counts(df, PII_PATTERNS).collect()
    }
    assert out[1]["n_email"] == 2 and out[1]["n_url"] == 0
    assert out[2]["n_url"] == 2 and out[2]["n_email"] == 0
    assert out[3]["n_long_digits"] == 2
    assert (
        out[4]["n_email"] == out[4]["n_url"] == out[4]["n_long_digits"] == 0
    )


def test_benchmark_overlap_flags_planted_contamination(spark):
    from binance_futures_data_lake_spark.operators.textdedup import benchmark_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox jumps over something"),
            (2, "completely unrelated text about spark shuffles and parquet"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in benchmark_overlap(corpus, bench, min_hits=3).collect()}
    # doc 1 shares the 4 shingles of "the quick brown fox jumps over"
    assert out[1]["contaminated"] == 1 and out[1]["n_overlap"] == 4
    assert out[2]["contaminated"] == 0 and out[2]["n_overlap"] == 0
    assert out[2]["overlap_frac"] == 0.0


def test_stratified_sample_rates_and_determinism(spark):
    from binance_futures_data_lake_spark.operators.sampling import stratified_sample

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    kept = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.25, "fr": 0.25}, default_rate=0.1
    )
    again = stratified_sample(
        docs.repartition(7), "doc_id", "lang", {"en": 0.5, "de": 0.25, "fr": 0.25},
        default_rate=0.1,
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # per-stratum achieved rates within loose binomial bounds
    tot = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    en_rate = got.get("en", 0) / tot["en"]
    assert 0.3 < en_rate < 0.7, en_rate
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stratified_sample(docs, "doc_id", "lang", {"en": 1.5})


def test_token_stats_arrow_edge_docs(spark):
    """Arrow kernel semantics on docs the parquet fixtures never contain:
    null text, empty, whitespace-only, mixed separators, stopword
    multiplicity."""
    from binance_futures_data_lake_spark.operators.text import token_stats_arrow

    df = spark.createDataFrame(
        [
            (1, "The the  THE a", "en", "s", 14),
            (2, "", "en", "s", 0),
            (3, "   ", "en", "s", 3),
            (4, "one\ttwo\nthree", "en", "s", 13),
            (5, None, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.doc_id: r
        for r in token_stats_arrow(df, ("the", "a")).collect()
    }
    assert (out[1].n_tokens, out[1].n_stopwords) == (4, 4)  # case-folded, multiplicity
    assert out[1].avg_token_len == pytest.approx((3 * 3 + 1) / 4, abs=1e-6)
    assert (out[2].n_tokens, out[2].n_stopwords) == (0, 0)
    assert out[2].avg_token_len is None
    assert (out[3].n_tokens, out[3].avg_token_len) == (0, None)
    assert (out[4].n_tokens, out[4].n_stopwords) == (3, 0)
    assert out[5].n_tokens is None and out[5].avg_token_len is None


def test_bpe_token_stats_classes_partition(spark):
    from binance_futures_data_lake_spark.operators.text import bpe_token_stats

    docs = spark.createDataFrame(
        [
            (1, "hello world  it's 42,7% done\nnew-line"),
            (2, "only words here"),
            (3, "12345"),
            (4, "'x isn't counted as contraction-prefix alone"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in bpe_token_stats(docs).collect()}
    for r in rows.values():
        # the five classes are disjoint and exhaustive over the pattern
        assert r.n_word + r.n_num + r.n_punct + r.n_ws + r.n_contr == r.n_bpe
        assert r.avg_bpe_chars > 0
    # hand-tokenized: hello| world|(2sp)|it|'s| 42|,|7|%| done|\n|new|-|line
    r1 = rows[1]
    assert (r1.n_bpe, r1.n_word, r1.n_num, r1.n_punct, r1.n_ws, r1.n_contr) == (
        14, 6, 2, 3, 2, 1
    )
    assert rows[2].n_bpe == 3 and rows[2].n_word == 3
    assert rows[3].n_bpe == 1 and rows[3].n_num == 1


def test_incremental_dedup_classifies_planted_dups(spark):
    from binance_futures_data_lake_spark.operators.textdedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    existing = spark.createDataFrame(
        [
            (1, base),
            (2, "completely different text about spark shuffles and joins ok"),
            (3, base),  # second copy: exact layer must pick the MIN id (1)
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, base),                                   # exact copy
            (11, base.replace("dog", "cat")),             # near copy
            (12, "entirely novel content nothing shared with corpus at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           incremental_dedup(existing, new, threshold=0.5).collect()}
    assert out[10].status == "exact_dup" and out[10].match_id == 1
    assert out[10].jaccard is None                        # exact wins over near
    assert out[11].status == "near_dup" and out[11].match_id in (1, 3)
    assert out[11].jaccard is not None and 0.5 <= out[11].jaccard < 1.0
    assert out[12].status == "kept" and out[12].match_id is None
    assert len(out) == 3                                  # one row per new doc


def test_bpe_counts_equal_findall_on_adversarial_strings(spark):
    """The regexp_count reformulation (no token array) must equal a real
    leftmost-first findall of BPE_PATTERN on scanner edge cases:
    apostrophes that do/don't start contractions, absorbed single
    spaces, tab runs, boundary positions."""
    import re

    from binance_futures_data_lake_spark.operators.text import (
        BPE_PATTERN,
        bpe_token_stats,
    )

    cases = [
        "it's we're don't y'all 'start mid'dle end'",
        "''s double apostrophe '42 'Q ' x",
        "a b  c\td \t e\nf  \n g",
        " leading and trailing ",
        "'s",
        "'",
        "tabs\tonly\there",
        "num42bers 7x 8'9 '' ok",
        "I'll we've he'd she's can't I'm you're",
        "punct,,!! mix-ed: 50% (a'b) [c]",
    ]
    docs = spark.createDataFrame(list(enumerate(cases)), ["doc_id", "text"])
    got = {r.doc_id: r for r in bpe_token_stats(docs).collect()}
    pat = re.compile(BPE_PATTERN)
    for i, s in enumerate(cases):
        toks = pat.findall(s)
        if not toks:
            assert i not in got
            continue
        def full(p, t):
            return re.fullmatch(p, t) is not None
        want = (
            len(toks),
            sum(full(" ?[A-Za-z]+", t) for t in toks),
            sum(full(" ?[0-9]+", t) for t in toks),
            sum(full(" ?[^A-Za-z0-9\\s']+", t) for t in toks),
            sum(full("\\s+", t) for t in toks),
            sum(full("'(?:s|t|re|ve|m|ll|d)", t) for t in toks),
        )
        g = got[i]
        assert (g.n_bpe, g.n_word, g.n_num, g.n_punct, g.n_ws, g.n_contr) == want, (
            f"case {i!r}: {s!r} -> {toks}"
        )
        assert abs(g.avg_bpe_chars - sum(len(t) for t in toks) / len(toks)) < 1e-6


def test_incremental_dedup_id_collision_across_sides(spark):
    """A re-delivered doc_id (same id, UPDATED text, in both sides) must
    verify new-text-vs-existing-text — never against its own side."""
    from binance_futures_data_lake_spark.operators.textdedup import (
        incremental_dedup,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    existing = spark.createDataFrame(
        [(1, base), (2, "some other corpus document entirely unrelated ok")],
        ["doc_id", "text"],
    )
    # id 1 re-delivered with a near-identical update; id 3 is novel
    new = spark.createDataFrame(
        [(1, base.replace("dog", "cat")), (3, "fresh novel content here")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           incremental_dedup(existing, new, threshold=0.5).collect()}
    # the updated text is a NEAR dup of its own previous version (id 1 in
    # existing): must verify against the OLD text, so jaccard < 1.0
    assert out[1].status == "near_dup" and out[1].match_id == 1
    assert out[1].jaccard is not None and out[1].jaccard < 1.0
    assert out[3].status == "kept"

    # precomputed signature index path gives the identical answer
    sig = minhash_signatures(existing)
    out2 = {r.doc_id: r for r in
            incremental_dedup(existing, new, threshold=0.5,
                              existing_sig=sig).collect()}
    assert {k: (v.status, v.match_id, v.jaccard) for k, v in out.items()} == {
        k: (v.status, v.match_id, v.jaccard) for k, v in out2.items()
    }


def test_pii_redact_planted(spark):
    """Redaction removes every planted PII shape, leaves clean text
    byte-identical, and the per-stage counts agree with the audit."""
    from binance_futures_data_lake_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "contact alice.smith+x@example.co.uk or bob@ex.io today"),
            (2, "see https://example.com/a/b?q=1 for info; ref 12345678901"),
            (3, "a clean short doc with no sensitive content at all"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert out[1]["n_email"] == 2
    assert out[1]["redacted_text"] == "contact [EMAIL] or [EMAIL] today"
    assert out[2]["n_url"] == 1 and out[2]["n_long_digits"] == 1
    assert out[2]["redacted_text"] == "see [URL] for info; ref [LONG_DIGITS]"
    assert out[3]["redacted_text"] == out[3]["text"]
    # redaction is idempotent: placeholders never re-match any pattern
    again = pii_redact(
        spark.createDataFrame(
            [(1, out[1]["redacted_text"])], "doc_id int, text string"
        )
    ).collect()[0]
    assert again["redacted_text"] == out[1]["redacted_text"]
    assert again["n_email"] == again["n_url"] == again["n_long_digits"] == 0


def test_simhash_wide_fingerprint_banding_guarantee(spark, docs):
    """bits=60 production config: the token hash widens with the
    fingerprint (high bits carry real entropy — a fixed 32-bit hash would
    leave bits 32+ constant and degenerate their bands), bit extraction
    is integer shift+mask (double division drops low bits past 2^53),
    and 15-bit banding still finds EXACTLY the brute-force hamming<=3
    pair set."""
    sims = simhash(docs, bits=60).cache()
    vals = [r.simhash for r in sims.collect()]
    # real entropy above bit 32 somewhere in the corpus
    assert any(v >> 32 for v in vals)
    assert all(0 <= v < (1 << 60) for v in vals)
    a = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    truth = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("h", ham).filter(F.col("h") <= 3).collect()
    }
    rows = simhash_near_pairs(sims, max_hamming=3, bits=60).collect()
    found = {(r.doc_a, r.doc_b) for r in rows}
    assert found == truth
    # no-distinct construction really is duplicate-free
    assert len(rows) == len(found)


def test_simhash_near_pairs_rejects_bad_bits(spark, docs):
    import pytest as _pytest

    sims = simhash(docs)
    with _pytest.raises(ValueError):
        simhash_near_pairs(sims, bits=63)
    with _pytest.raises(ValueError):
        simhash(docs, bits=64)


def test_hamming_near_pairs_generalized_vs_bruteforce(spark):
    """Banded-hamming at arbitrary (bits, n_bands, threshold) — including
    full 64-bit fingerprints using the sign bit — must equal brute force
    exactly, with no duplicate emissions."""
    import random

    from binance_futures_data_lake_spark.operators.textdedup import (
        hamming_near_pairs,
    )

    rng = random.Random(11)
    base = [rng.getrandbits(64) for _ in range(40)]
    vals = list(base)
    for v in base[:15]:  # plant near-dups at small hamming distances
        w = v
        for _ in range(rng.randint(1, 9)):
            w ^= 1 << rng.randrange(64)
        vals.append(w)
    signed = [v - (1 << 64) if v >= (1 << 63) else v for v in vals]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(signed)], "doc_id long, fp long"
    )
    for max_h, n_bands in ((3, 4), (10, 11), (10, None), (6, 16)):
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in hamming_near_pairs(
                df, "fp", max_hamming=max_h, bits=64, n_bands=n_bands
            ).collect()
        }
        want = {}
        for i in range(len(signed)):
            for j in range(i + 1, len(signed)):
                h = bin((signed[i] ^ signed[j]) & ((1 << 64) - 1)).count("1")
                if h <= max_h:
                    want[(i, j)] = h
        assert got == want, (max_h, n_bands)

    with pytest.raises(ValueError):
        hamming_near_pairs(df, "fp", max_hamming=5, bits=64, n_bands=5)
    with pytest.raises(ValueError):
        hamming_near_pairs(df, "fp", max_hamming=3, bits=70)


def test_hamming_near_pairs_skew_guard(spark):
    """Adversarial skew (VERDICT r5 #3): a degenerate corpus where
    thousands of rows share one fingerprint must not build a quadratic
    candidate stage. With ``max_band_freq`` the hot buckets drop out of
    the join while pairs among NON-hot rows survive — including a pair
    whose smallest clean band is hot, which must be emitted from its
    first non-hot band instead of being lost."""
    import pandas as pd

    from binance_futures_data_lake_spark.operators.textdedup import (
        hamming_near_pairs,
    )

    n_hot = 5000
    hot_fp = 0  # all four 8-bit bands collide for every hot row
    # two clean near-pairs, far from the hot value and from each other:
    # ids 100000/100001 (hamming 1) and 100002/100003 (hamming 2)
    a, c = 0x5A5A5A5A, 0x0F0F0F0F
    rows = pd.DataFrame({
        "doc_id": list(range(n_hot)) + [100000, 100001, 100002, 100003],
        "fp": [hot_fp] * n_hot + [a, a ^ 1, c, c ^ 0x21],
    })
    df = spark.createDataFrame(rows)
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in hamming_near_pairs(
            df, "fp", max_hamming=3, bits=32, n_bands=4, max_band_freq=100
        ).collect()
    }
    # hot-bucket pairs (n_hot^2/2 of them) are capped away; clean pairs kept
    assert got == {(100000, 100001): 1, (100002, 100003): 2}

    # hot-aware smallest-band rule: make band 0 hot for a pair that is
    # ALSO clean in band 1 — the pair must still be emitted (from band 1)
    b = 0x11111111
    rows2 = pd.DataFrame({
        "doc_id": list(range(n_hot)) + [200000, 200001],
        # hot rows share ONLY band 0 (low byte) with the pair
        "fp": [b & 0xFF] * n_hot + [b, b ^ (1 << 30)],
    })
    got2 = {
        (r.doc_a, r.doc_b): r.hamming
        for r in hamming_near_pairs(
            spark.createDataFrame(rows2), "fp",
            max_hamming=3, bits=32, n_bands=4, max_band_freq=100,
        ).collect()
    }
    assert (200000, 200001) in got2 and got2[(200000, 200001)] == 1
    assert all(x >= 200000 for p in got2 for x in p)

    # uncapped semantics unchanged on the small clean set
    clean = spark.createDataFrame(rows.tail(4))
    base = {
        (r.doc_a, r.doc_b): r.hamming
        for r in hamming_near_pairs(
            clean, "fp", max_hamming=3, bits=32, n_bands=4
        ).collect()
    }
    assert base == {(100000, 100001): 1, (100002, 100003): 2}


def test_lsh_candidate_pairs_skew_guard(spark):
    """MinHash twin of the adversarial-skew test: one shared band value
    across thousands of docs must not reach the self-join when capped;
    distinct near-dup docs still produce their candidate pair."""
    import pandas as pd

    from binance_futures_data_lake_spark.operators.textdedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n_hot = 2000
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    docs = pd.DataFrame({
        "doc_id": list(range(n_hot)) + [100000, 100001],
        "text": [boiler] * n_hot + [
            "a genuinely unique document about sparks and rivers flowing east",
            "a genuinely unique document about sparks and rivers flowing west",
        ],
    })
    sig = minhash_signatures(spark.createDataFrame(docs))
    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sig, 8, 2, max_band_freq=100).collect()
    }
    assert (100000, 100001) in capped
    assert all(x >= 100000 for p in capped for x in p)


def test_hamming_match_existing_vs_bruteforce(spark):
    """Cross-set banded-hamming matcher (streaming simhash tier): min-id
    existing match + that match's hamming must equal the brute-force
    answer for every new row, across band configs."""
    import random

    from binance_futures_data_lake_spark.operators.textdedup import (
        hamming_match_existing,
    )

    rng = random.Random(7)

    def s64(x):  # fold to the signed-long domain (two's complement)
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= (1 << 63) else x

    exist = [(i, rng.getrandbits(64) - (1 << 63)) for i in range(60)]
    new = [(100 + i, rng.getrandbits(64) - (1 << 63)) for i in range(25)]
    # plant guaranteed matches: copies and 1/3-bit flips of existing rows
    # (incl. a SIGN-bit flip — the bit a doubles-based extraction drops)
    new += [(200, exist[3][1]), (201, s64(exist[5][1] ^ 1)),
            (202, s64(exist[5][1] ^ 0b111)), (203, s64(exist[9][1] ^ (1 << 63)))]
    e_df = spark.createDataFrame(exist, ["doc_id", "fp"])
    n_df = spark.createDataFrame(new, ["doc_id", "fp"])
    for max_h, n_bands in ((3, 4), (10, 11)):
        got = {
            r.doc_id: (r.match_id, r.hamming)
            for r in hamming_match_existing(
                e_df, n_df, value_col="fp", max_hamming=max_h,
                bits=64, n_bands=n_bands,
            ).collect()
        }
        want = {}
        for nid, nfp in new:
            best = [
                (eid, bin((nfp ^ efp) & ((1 << 64) - 1)).count("1"))
                for eid, efp in exist
                if bin((nfp ^ efp) & ((1 << 64) - 1)).count("1") <= max_h
            ]
            if best:
                eid = min(b[0] for b in best)
                want[nid] = (eid, dict(best)[eid])
        assert got == want, (max_h, n_bands)


def test_bloom_decontam_no_false_negatives_vs_exact(spark):
    """Bloom membership is one-sided: every exact-overlap hit must also
    be a bloom hit (n_hits >= n_overlap per doc), and the planted
    contamination must be flagged identically at a sane m_bits."""
    from binance_futures_data_lake_spark.operators.textdedup import (
        benchmark_overlap, bloom_bitset, bloom_decontam,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    exact = {
        r["doc_id"]: r
        for r in benchmark_overlap(corpus, bench, min_hits=3).collect()
    }
    wordsv = bloom_bitset(bench, m_bits=1 << 17, k=4)
    assert len(wordsv) == ((1 << 17) + 62) // 63
    assert any(w != 0 for w in wordsv)
    bl = {
        r["doc_id"]: r
        for r in bloom_decontam(
            corpus, wordsv, m_bits=1 << 17, k=4, min_hits=3
        ).collect()
    }
    assert set(bl) == set(exact)
    for d, e in exact.items():
        assert bl[d]["n_shingles"] == e["n_shingles"]
        assert bl[d]["n_hits"] >= e["n_overlap"]  # never misses a real hit
        if e["contaminated"]:
            assert bl[d]["contaminated"] == 1
    # at this load factor FPs should be rare: total spurious hits small
    spurious = sum(bl[d]["n_hits"] - exact[d]["n_overlap"] for d in bl)
    total_sh = sum(e["n_shingles"] for e in exact.values())
    assert spurious <= max(5, total_sh // 100)


def test_bloom_bitset_self_membership_and_word_edges(spark):
    """Every benchmark shingle must test positive against its own bitset,
    including positions landing in the last PARTIAL 63-bit word."""
    from binance_futures_data_lake_spark.operators.textdedup import (
        bloom_bitset, bloom_decontam,
    )

    bench = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma delta epsilon zeta{i}") for i in range(40)],
        "doc_id int, text string",
    )
    m = 1000  # NOT a multiple of 63: 16 words, last one 55 bits wide
    wordsv = bloom_bitset(bench, m_bits=m, k=5)
    out = bloom_decontam(bench, wordsv, m_bits=m, k=5, min_hits=1).collect()
    for r in out:
        assert r["n_hits"] == r["n_shingles"], r  # self-membership exact
        assert r["contaminated"] == 1


def test_bloom_empty_benchmark_flags_nothing(spark):
    from binance_futures_data_lake_spark.operators.textdedup import (
        bloom_bitset, bloom_decontam,
    )

    bench = spark.createDataFrame([], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "some perfectly ordinary text here")], "doc_id long, text string"
    )
    wordsv = bloom_bitset(bench, m_bits=256, k=3)
    assert all(w == 0 for w in wordsv)
    out = bloom_decontam(corpus, wordsv, m_bits=256, k=3).collect()
    assert out[0]["n_hits"] == 0 and out[0]["contaminated"] == 0


def test_bpe_learn_merges_sennrich_example(spark):
    import pytest

    from binance_futures_data_lake_spark.operators.text import bpe_learn_merges

    # the canonical BPE walkthrough: vocab {low:5, lower:2, newest:6,
    # widest:3} learns es -> est -> lo -> low (hand-derivable)
    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2)),
         (2, " ".join(["newest"] * 6)),
         (3, " ".join(["widest"] * 3))],
        "doc_id long, text string",
    )
    rows = bpe_learn_merges(docs, n_merges=4).orderBy("step").collect()
    got = [(r.step, r.pair_a, r.pair_b, r.merged, r.cnt) for r in rows]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
    ]
    # deterministic: identical table on re-run
    rows2 = bpe_learn_merges(docs, n_merges=4).orderBy("step").collect()
    assert [(r.step, r.pair_a, r.pair_b, r.merged, r.cnt) for r in rows2] == got
    # repeated-symbol pass semantics: "aaa" merges left-to-right
    # non-overlapping -> (a,a) count is 1 per "aaa" occurrence... the
    # FIRST merge counts pairs (a,a) twice per word occurrence, so cnt
    # reflects raw adjacency; after merging, [aa, a] remains
    tri = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    t = bpe_learn_merges(tri, n_merges=2).orderBy("step").collect()
    assert (t[0].pair_a, t[0].pair_b, t[0].cnt) == ("a", "a", 4)
    assert (t[1].pair_a, t[1].pair_b, t[1].merged) == ("aa", "a", "aaa")
    with pytest.raises(ValueError):
        bpe_learn_merges(docs, n_merges=0)


def test_bpe_tokenize_stats_applies_learned_merges(spark):
    from binance_futures_data_lake_spark.operators.text import (
        bpe_learn_merges,
        bpe_tokenize_stats,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2)),
         (2, " ".join(["newest"] * 6)),
         (3, " ".join(["widest"] * 3))],
        "doc_id long, text string",
    )
    merges = [
        (r.pair_a, r.pair_b)
        for r in bpe_learn_merges(docs, n_merges=4).orderBy("step").collect()
    ]
    # learned: es, est, lo, low -> newest = [n,e,w,est] (4 tokens),
    # widest = [w,i,d,est] (4), low = [low] (1), lower = [low,e,r] (3)
    out = {r.doc_id: r for r in bpe_tokenize_stats(docs, merges).collect()}
    assert out[1].n_words == 7 and out[1].n_bpe_tokens == 5 * 1 + 2 * 3
    assert out[2].n_words == 6 and out[2].n_bpe_tokens == 6 * 4
    assert out[3].n_words == 3 and out[3].n_bpe_tokens == 3 * 4
    assert out[2].n_chars_tok == 6 * 6  # chars = no-merge baseline
    assert out[3].avg_tokens_per_word == 4.0
    # empty merge table degenerates to character tokenization
    none = {r.doc_id: r for r in bpe_tokenize_stats(docs, []).collect()}
    assert none[2].n_bpe_tokens == none[2].n_chars_tok


def test_bpe_batched_passes_match_sequential_reference(spark):
    """The batched trainer (several merges per vocab aggregation) must be
    bit-identical to classic one-merge-at-a-time BPE; pure-Python
    sequential reference, rich corpus with shared prefixes/suffixes."""
    import re

    from binance_futures_data_lake_spark.operators.text import bpe_learn_merges

    stems = ["walk", "talk", "jump", "read", "light", "dark", "quick", "slow"]
    sufs = ["", "ing", "ed", "er", "est", "s"]
    words = []
    for i, st in enumerate(stems):
        for j, su in enumerate(sufs):
            words += [st + su] * ((i * 7 + j * 3) % 11 + 1)
    words += ["the"] * 40 + ["and"] * 30 + ["banana"] * 9 + ["bandana"] * 7
    text = " ".join(words)

    def reference(text, n):
        vocab = {}
        for w in re.findall(r"[a-z0-9]+", text.lower()):
            vocab[w] = vocab.get(w, 0) + 1
        seqs = {w: list(w) for w in vocab}
        out = []
        for step in range(1, n + 1):
            counts = {}
            for w, toks in seqs.items():
                for x, y in zip(toks, toks[1:]):
                    counts[(x, y)] = counts.get((x, y), 0) + vocab[w]
            if not counts:
                break
            (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((step, a, b, a + b, cnt))
            for w, toks in seqs.items():
                new, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        new.append(a + b)
                        i += 2
                    else:
                        new.append(toks[i])
                        i += 1
                seqs[w] = new
        return out

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    want = reference(text, 40)
    got = [
        (r.step, r.pair_a, r.pair_b, r.merged, r.cnt)
        for r in bpe_learn_merges(docs, n_merges=40).orderBy("step").collect()
    ]
    assert got == want
    # a tiny scan window degrades batching, never correctness
    got_narrow = [
        (r.step, r.pair_a, r.pair_b, r.merged, r.cnt)
        for r in bpe_learn_merges(docs, n_merges=12, scan_width=2)
        .orderBy("step").collect()
    ]
    assert got_narrow == want[:12]


def test_widen_narrow_scan_guard(spark):
    """r13 plan pin for the guarded scan widening (VERDICT r12 #4): the
    round-robin repartition must appear when the input is provably too
    small to fill the scheduler's width, must NOT appear when the input
    could fill it (simulated by shrinking maxPartitionBytes so
    width x split <= the relation's size estimate — the same inequality
    a 100 TB scan fails)."""
    import os

    from binance_futures_data_lake_spark.operators.textdedup import (
        widen_narrow_scan,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):  # pragma: no cover - fixture layout
        import pytest

        pytest.skip("testdata fixture not present")
    docs = spark.read.parquet(path)

    def has_rr(df) -> bool:
        # logical optimized plan spells round-robin as `Repartition N, true`
        return "Repartition " in df._jdf.queryExecution().optimizedPlan().toString()

    split = "spark.sql.files.maxPartitionBytes"
    old_split = spark.conf.get(split)
    try:
        # narrow input, width 8 => widened
        assert has_rr(widen_narrow_scan(docs))
        # "wide" input: width x split covered by the relation's size
        spark.conf.set(split, "1")
        assert not has_rr(widen_narrow_scan(docs))
    finally:
        spark.conf.set(split, old_split)
