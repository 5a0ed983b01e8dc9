"""Filter/featurize operators (operators/textquality.py): repetition
metrics on constructed docs, Gopher rule semantics, TF-IDF ranking, chunk
coverage/overlap properties, and leakage-free cluster splits."""

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.graph import cluster_holdout_split
from binance_futures_data_lake_spark.operators.textquality import (
    bigram_stats,
    chunk_documents,
    gopher_flags,
    line_stats,
    tfidf_top_terms,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def docs(spark):
    from binance_futures_data_lake_spark.sources.testdata import load_table

    df = load_table(spark, "documents", "/root/testdata/sf0.001").cache()
    df.count()
    return df


def test_line_stats_counts_duplicates(spark):
    d = _docs(spark, ["a\nb\na\n\n a ", "x\ny\nz"])
    rows = {r.doc_id: r for r in line_stats(d).collect()}
    # doc 1: lines [a, b, a, " a "] — "a" twice (blank dropped, " a " differs)
    assert rows[1].n_lines == 4
    assert rows[1].n_dup_lines == 2
    assert rows[1].dup_line_frac == pytest.approx(0.25)
    assert rows[2].n_dup_lines == 0
    assert rows[2].dup_line_frac == 0.0


def test_bigram_stats_top_fraction(spark):
    d = _docs(spark, ["to be or not to be", "one token"])
    rows = {r.doc_id: r for r in bigram_stats(d).collect()}
    # bigrams: [to be, be or, or not, not to, to be] — "to be" twice of 5
    assert rows[1].n_bigrams == 5
    assert rows[1].top_bigram_cnt == 2
    assert rows[1].top_bigram_frac == pytest.approx(0.4)
    assert rows[2].n_bigrams == 1  # single bigram "one token"


def test_gopher_flags_rules(spark):
    good = "the quick brown fox jumps over the lazy dog and runs to the hills"
    symbols = "the # fox # and # dog # to # be # have # that # with # more #"
    repeat = "\n".join(["the same line of text and more"] * 10)
    short = "tiny doc"
    rows = {
        r.doc_id: r
        for r in gopher_flags(_docs(spark, [good, symbols, repeat, short])).collect()
    }
    assert rows[1].gopher_keep == 1
    assert rows[2].rule_symbol_ratio == 0 and rows[2].gopher_keep == 0
    assert rows[3].rule_dup_lines == 0 and rows[3].gopher_keep == 0
    assert rows[4].rule_word_count == 0 and rows[4].gopher_keep == 0


def test_tfidf_ranks_distinctive_terms(spark):
    d = _docs(
        spark,
        [
            "common common zebra",
            "common common yak",
            "common common yak yak",
        ],
    )
    top = {
        r.doc_id: r.term
        for r in tfidf_top_terms(d, k=1).collect()
    }
    # "common" has df=3 → idf=0; the rare term wins in each doc
    assert top == {1: "zebra", 2: "yak", 3: "yak"}


def test_chunk_documents_cover_and_overlap(spark):
    import random

    rng = random.Random(7)
    texts = [
        "".join(rng.choice("abcdef ") for _ in range(n))
        for n in (1, 150, 200, 201, 350, 351, 1000)
    ]
    d = _docs(spark, texts)
    out = chunk_documents(d, chunk_chars=200, stride=150)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts, start=1):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert chunks[0].start == 0
        # contiguous stride, correct substring, full coverage to the tail
        for j, r in enumerate(chunks):
            assert r.start == j * 150
            assert r.chunk_text == t[r.start : r.start + 200]
            assert r.chunk_chars == len(r.chunk_text) > 0
        assert chunks[-1].start + chunks[-1].chunk_chars == len(t)
        if len(chunks) > 1:  # 50-char overlap between consecutive chunks
            for a, b in zip(chunks, chunks[1:]):
                assert a.chunk_text[150:] == b.chunk_text[: a.chunk_chars - 150]


def test_chunk_documents_drops_empty(spark):
    d = _docs(spark, [""])
    assert chunk_documents(d).count() == 0


def test_cluster_holdout_split_no_leakage(spark):
    clustered = spark.createDataFrame(
        [(i, i % 7, 1 if i == i % 7 else 0, 3) for i in range(200)],
        "doc_id long, cluster_id long, is_canonical int, cluster_size long",
    )
    out = cluster_holdout_split(clustered, val_pct=10, test_pct=10)
    # every doc of a cluster lands in the same split
    assert (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
        == 0
    )
    assert set(r.split for r in out.select("split").distinct().collect()) <= {
        "train", "val", "test",
    }
    with pytest.raises(ValueError):
        cluster_holdout_split(clustered, val_pct=60, test_pct=50)


def test_cross_doc_spans_finds_planted_boilerplate(spark):
    from binance_futures_data_lake_spark.operators.textquality import cross_doc_spans

    boiler = "all rights reserved contact us for more info"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + boiler),
            (2, boiler + " gamma delta"),
            (3, "totally original words with no shared span at all here"),
            (4, boiler + " " + boiler),  # repeats within one doc too
        ],
        ["doc_id", "text"],
    )
    out = {r["span"]: r for r in cross_doc_spans(docs, span_tokens=8).collect()}
    assert boiler in out
    assert out[boiler]["n_docs"] == 3
    # doc 4 contributes 2 occurrences of the exact span
    assert out[boiler]["n_occurrences"] == 4
    # nothing from the original doc appears in any shared span
    assert not any("totally original" in s for s in out)


def test_unigram_logprob_hand_case(spark):
    import math

    from binance_futures_data_lake_spark.operators.textquality import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")],
        ["doc_id", "text"],
    )
    # corpus: a=3, b=1, c=1, total=5
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    exp1 = (2 * math.log10(3 / 5) + math.log10(1 / 5)) / 3
    exp2 = (math.log10(3 / 5) + math.log10(1 / 5)) / 2
    assert out[1]["n_tokens"] == 3 and abs(out[1]["logprob_avg"] - exp1) < 1e-6
    assert out[2]["n_tokens"] == 2 and abs(out[2]["logprob_avg"] - exp2) < 1e-6
    # common-token doc scores higher than rare-token doc
    docs2 = spark.createDataFrame(
        [(1, "the the the the"), (2, "zyx qwv")], ["doc_id", "text"]
    )
    o2 = {r["doc_id"]: r["logprob_avg"] for r in unigram_logprob(docs2).collect()}
    assert o2[1] > o2[2]


def test_scrub_cross_doc_spans_keep_one_copy(spark):
    from binance_futures_data_lake_spark.operators.textquality import (
        scrub_cross_doc_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),        # canonical owner of shared span "a b c"
            (2, "p q a b c r"),        # loses the shared occurrence
            (3, "a b c a b c"),        # BOTH occurrences scrubbed (non-owner)
            (4, "u v w t1 t2"),        # unique text, untouched
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in scrub_cross_doc_spans(docs, span_tokens=3, min_docs=2).collect()
    }
    assert out[1].text_clean == "a b c x y z" and out[1].n_removed == 0
    assert out[2].text_clean == "p q r" and out[2].n_removed == 3
    assert out[3].text_clean == "" and out[3].n_removed == 6
    assert out[4].text_clean == "u v w t1 t2" and out[4].n_removed == 0
    assert all(out[i].n_tokens == 6 for i in (1, 2, 3)) and out[4].n_tokens == 5


def test_scrub_cross_doc_spans_overlap_composes(spark):
    from binance_futures_data_lake_spark.operators.textquality import (
        scrub_cross_doc_spans,
    )

    # a 4-token shared run yields two OVERLAPPING 3-spans; coverage must
    # remove the union (4 tokens), not double-count or truncate
    docs = spark.createDataFrame(
        [(1, "m n o p xx"), (2, "yy m n o p zz")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r
        for r in scrub_cross_doc_spans(docs, span_tokens=3, min_docs=2).collect()
    }
    assert out[1].n_removed == 0
    assert out[2].text_clean == "yy zz" and out[2].n_removed == 4


# ---------------------------------------------------------------------------
# perplexity_bucket_mix: CCNet head/middle/tail tiers
# ---------------------------------------------------------------------------


def test_perplexity_buckets_balanced_and_ordered(spark, docs):
    from binance_futures_data_lake_spark.operators.textquality import (
        perplexity_bucket_mix,
    )

    pb = perplexity_bucket_mix(docs, n_buckets=3, keep_rates=(1.0, 0.5, 0.1))
    rows = pb.collect()
    assert {r["bucket"] for r in rows} <= {1, 2, 3}
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        counts = [sum(1 for r in rs if r["bucket"] == b) for b in (1, 2, 3)]
        present = [c for c in counts if c > 0]
        # ntile: bucket sizes within a language differ by at most 1
        assert max(present) - min(present) <= 1, (lang, counts)
        # tiers are ordered: every head score >= every tail score
        head = [r["logprob_avg"] for r in rs if r["bucket"] == 1]
        tail = [r["logprob_avg"] for r in rs if r["bucket"] == 3]
        if head and tail:
            assert min(head) >= max(tail) - 1e-12, lang
    # head keeps everything at rate 1.0
    assert all(r["kept"] == 1 for r in rows if r["bucket"] == 1)
    # determinism: a second build yields identical assignments
    again = {
        (r["doc_id"]): (r["bucket"], r["kept"])
        for r in perplexity_bucket_mix(docs).collect()
    }
    for r in rows:
        assert again[r["doc_id"]] == (r["bucket"], r["kept"])


def test_perplexity_bucket_rates_thin_the_tail(spark, docs):
    from binance_futures_data_lake_spark.operators.textquality import (
        perplexity_bucket_mix,
    )

    pb = perplexity_bucket_mix(docs, n_buckets=3, keep_rates=(1.0, 0.5, 0.1))
    agg = {
        r["bucket"]: r
        for r in pb.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("kept").alias("k"),
        )
        .collect()
    }
    frac = {b: agg[b]["k"] / agg[b]["n"] for b in agg}
    assert frac[1] == 1.0
    # md5 thresholds are uniform: observed keep fraction tracks the rate
    assert 0.25 <= frac[2] <= 0.75
    assert frac[3] <= 0.35


def test_perplexity_bucket_mix_validation(spark, docs):
    from binance_futures_data_lake_spark.operators.textquality import (
        perplexity_bucket_mix,
    )

    with pytest.raises(ValueError):
        perplexity_bucket_mix(docs, n_buckets=3, keep_rates=(1.0, 0.5))


def test_c4_flags_hand_case(spark):
    """Every C4 rule on a hand-built page: line punctuation/word-count/
    javascript filters, lorem-ipsum and curly-brace page kills, the
    ≥3-sentences gate on CLEANED text only, and the rebuilt page."""
    from binance_futures_data_lake_spark.operators.textquality import c4_flags

    good1 = "This is a fine first sentence."
    good2 = "Another proper sentence ends with a question mark?"
    short = "too short."                      # ends '.', but 2 words
    nopunct = "this line has plenty of words but no terminal punctuation"
    js = "You must enable JavaScript to continue reading this."
    docs = spark.createDataFrame(
        [
            # 3 sentences in kept text (2 in good1? no: 1 + 1 + the extra)
            (1, "\n".join([good1, short, good2, "He said stop right there. Now."])),
            # only 2 sentences survive -> page dropped by sentence rule
            (2, "\n".join([good1, nopunct, good2])),
            # lorem ipsum kills the page even though lines are fine
            (3, "\n".join([good1, good2, "Sprinkle Lorem IPSUM dolor here.",
                           "One more sentence to pass the count."])),
            # curly brace kills the page
            (4, "\n".join([good1, good2, "if (x) { y(); } is code here."])),
            # javascript line dropped AND counted; blank lines ignored
            (5, "\n".join([good1, "", js, good2,
                           "Third good sentence right here friend."])),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_flags(docs).collect()}
    r1 = out[1]
    assert (r1["n_lines"], r1["n_kept_lines"]) == (4, 3)
    # 'He said stop. Now.' contributes 2 enders -> 1 + 1 + 2 = 4
    assert r1["n_sentences"] == 4 and r1["c4_keep"] == 1
    assert r1["cleaned_text"] == "\n".join([good1, good2, "He said stop right there. Now."])
    assert out[2]["n_sentences"] == 2 and out[2]["c4_keep"] == 0
    assert out[3]["has_lorem_ipsum"] == 1 and out[3]["c4_keep"] == 0
    assert out[4]["has_curly_brace"] == 1 and out[4]["c4_keep"] == 0
    r5 = out[5]
    assert r5["n_lines"] == 4  # blank line ignored
    assert r5["n_js_lines"] == 1 and r5["n_kept_lines"] == 3
    assert "JavaScript" not in r5["cleaned_text"] and r5["c4_keep"] == 1
    with pytest.raises(ValueError):
        c4_flags(docs, min_sentences=0)


def test_bm25_topk_hand_case(spark):
    """BM25 fundamentals on a hand corpus: rare terms outrank common
    ones, higher tf wins within a term, length normalization demotes the
    padded document, and max_df_frac prunes stopword fan-out."""
    import math

    from binance_futures_data_lake_spark.operators.textquality import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana the the"),
            (2, "apple apple banana the"),
            (3, "apple " + "pad " * 40 + "the"),
            (4, "cherry the"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(1, "apple"), (2, "cherry the")], "q_id int, q_text string"
    )
    out = bm25_topk(docs, q, k=4)
    rows = {(r["q_id"], r["rnk"]): r for r in out.collect()}
    # q1: doc2 (tf=2) > doc1 (tf=1) > doc3 (tf=1 but 42-token doc, length
    # normalization demotes it); doc4 has no 'apple'
    assert [rows[(1, i)]["doc_id"] for i in (1, 2, 3)] == [2, 1, 3]
    assert (1, 4) not in rows
    # q2: 'cherry' (df=1) dominates 'the' (df=4, idf ~ ln(1+0.5/4.5));
    # doc4 must rank first and every 'the' doc still appears
    assert rows[(2, 1)]["doc_id"] == 4
    assert {rows[(2, i)]["doc_id"] for i in (2, 3, 4)} == {1, 2, 3}
    # exact idf spot check on the winner: doc4 = cherry + the contribs
    n, dl, avgdl = 4, 2, (4 + 4 + 42 + 2) / 4
    def contrib(df_, tf, dl_):
        idf = math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
        return round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl_ / avgdl))
                     * 1e6) / 1e6
    want = round(contrib(1, 1, dl) + contrib(4, 1, dl), 6)
    assert rows[(2, 1)]["score"] == pytest.approx(want, abs=2e-6)
    # stopword guard: df('the') = 4 = N -> pruned at max_df_frac=0.9,
    # so q2 reduces to the cherry-only match
    pruned = bm25_topk(docs, q, k=4, max_df_frac=0.9)
    got = [(r["q_id"], r["doc_id"]) for r in pruned.filter(F.col("q_id") == 2).collect()]
    assert got == [(2, 4)]
    with pytest.raises(ValueError):
        bm25_topk(docs, q, k=0)
