"""Text-analysis expressions: token counts, quality, lang-id,
fingerprints, shingles."""

from pyspark.sql import functions as F

from schema_validata_spark.functions.text import (bpe_ish_token_count,
                                                  fingerprint, lang_id,
                                                  quality_score, shingles,
                                                  token_count)


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], "t: string") \
        .select(expr.alias("v")).collect()[0]["v"]


def test_token_count(spark):
    assert _one(spark, "a b  c", token_count("t")) == 3
    assert _one(spark, "", token_count("t")) == 0
    assert _one(spark, "single", token_count("t")) == 1


def test_bpe_ish_count_scales_with_length(spark):
    short = _one(spark, "hello", bpe_ish_token_count("t"))
    long = _one(spark, "hello world, this is 1 test!", bpe_ish_token_count("t"))
    assert long > short > 0


def test_quality_score_ordering(spark):
    good = _one(spark, "the quick brown fox jumps over the lazy dog and "
                       "keeps running for a while in the field", quality_score("t"))
    junk = _one(spark, "!!! ??? ### $$$ %%%", quality_score("t"))
    empty = _one(spark, "", quality_score("t"))
    assert 0.0 <= junk < good <= 1.0
    assert empty == 0.0


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog is in the house", lang_id("t")) == "en"
    assert _one(spark, "der hund und die katze ist nicht da", lang_id("t")) == "de"
    assert _one(spark, "zzz qqq xxx", lang_id("t")) == "und"


def test_fingerprint_normalizes_case_and_space(spark):
    a = _one(spark, "Hello   World", fingerprint("t"))
    b = _one(spark, "hello world", fingerprint("t"))
    c = _one(spark, "hello there", fingerprint("t"))
    assert a == b != c


def test_shingles(spark):
    got = _one(spark, "a b c d", shingles("t", 3))
    assert got == ["a b c", "b c d"]
    assert _one(spark, "a b", shingles("t", 3)) == ["a b"]


# --- PII scan --------------------------------------------------------------

def test_pii_scan_counts(spark):
    from schema_validata_spark.functions.text import pii_scan, pii_summary
    rows = [
        (1, "contact me at jane.doe+work@example.co.uk or (555) 123-4567"),
        (2, "ssn 123-45-6789 twice: 987-65-4321; server at 10.0.0.1"),
        (3, "clean text with no identifiers at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_scan(df, "text", "doc_id").collect()}
    assert got[1]["email"] == 1 and got[1]["phone_us"] == 1
    assert got[2]["ssn"] == 2 and got[2]["ipv4"] == 1
    assert got[3]["email"] == got[3]["ssn"] == 0
    assert got[4]["email"] == 0          # NULL text → zero counts
    summary = {r["pii_type"]: (r["total_matches"], r["docs_affected"])
               for r in pii_summary(df, "text").collect()}
    assert summary["ssn"] == (2, 1)
    assert summary["email"] == (1, 1)


def test_repetition_stats(spark):
    from schema_validata_spark.functions.text import repetition_stats
    rows = [
        (1, "buy buy buy buy"),                      # one token repeated
        (2, "all words here are fully distinct"),
        (3, "spam ham spam ham spam ham spam ham"),  # repeated trigrams
        (4, ""), (5, None),                          # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           repetition_stats(df, "text", "doc_id").collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["top_token_frac"] == 1.0
    assert got[1]["dup_trigram_frac"] == 0.5  # 'buy buy buy' ×2 → 1 distinct of 2
    assert abs(got[2]["top_token_frac"] - 1 / 6) < 1e-6
    assert got[2]["dup_trigram_frac"] == 0.0
    assert got[3]["dup_trigram_frac"] > 0.5


def test_clean_text(spark):
    from schema_validata_spark.functions.text import clean_text
    rows = [
        ("“Hi” —\tthere",),   # curly quotes, nbsp, emdash, tab
        ("a\x07b\x00c",),                         # control chars stripped
        ("  multi   space\n\nlines  ",),
        ("it’s … fine",),               # curly apostrophe + ellipsis
        (None,),
        ("",),
    ]
    df = spark.createDataFrame(rows, "t string")
    got = [r["c"] for r in
           df.select(clean_text("t").alias("c")).collect()]
    assert got[0] == '"Hi" - there'
    assert got[1] == "abc"
    assert got[2] == "multi space lines"
    assert got[3] == "it's ... fine"
    assert got[4] is None
    assert got[5] == ""


def test_fertility_stats(spark):
    from schema_validata_spark.functions.text import fertility_stats
    df = spark.createDataFrame(
        [("en", "hello world"),        # 2 words; bpe: hell+o wor+ld = 4
         ("en", None),                 # zero mass, still a doc
         ("de", "Donaudampfschiff")],  # 1 word, 4 bpe pieces
        "lang string, text string")
    got = {r["lang"]: r for r in
           fertility_stats(df, "text", "lang").collect()}
    en = got["en"]
    assert (en["n_docs"], en["n_words"], en["n_bpe_tokens"]) == (2, 2, 4)
    assert en["n_chars"] == 11
    assert en["fertility"] == 2.0
    assert en["chars_per_token"] == 2.75
    de = got["de"]
    assert (de["n_words"], de["n_bpe_tokens"]) == (1, 4)
    assert de["fertility"] == 4.0


def test_fertility_stats_all_empty_group(spark):
    from schema_validata_spark.functions.text import fertility_stats
    df = spark.createDataFrame([("x", ""), ("x", None)],
                               "lang string, text string")
    r = fertility_stats(df, "text", "lang").collect()[0]
    assert (r["n_docs"], r["n_words"]) == (2, 0)
    assert r["fertility"] is None and r["chars_per_token"] is None


def test_ngram_diversity(spark):
    from schema_validata_spark.functions.text import ngram_diversity
    rows = [(1, "a b a b", "s1"), (2, "a", "s1"),      # short doc: no grams
            (3, "x y", "s2"), (4, "", "s2"), (5, None, "s2")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    got = {r["source"]: r
           for r in ngram_diversity(df, "text", "source", n=2).collect()}
    s1 = got["s1"]  # grams: "a b", "b a", "a b"
    assert s1["n_ngrams"] == 3 and s1["n_distinct"] == 2
    assert abs(s1["distinct_ratio"] - 0.666667) < 1e-6
    assert got["s2"]["n_ngrams"] == 1 and got["s2"]["n_distinct"] == 1


# --- unigram LM scoring ----------------------------------------------------

def test_unigram_lm_hand_computed(spark):
    import math
    from schema_validata_spark.functions.text import (
        train_unigram_lm, unigram_logprob_scores)
    # corpus: "a a b" / "a c" -> N=5, tokens a:3 b:1 c:1, V=3
    df = spark.createDataFrame([(1, "a a b"), (2, "a c")], ["id", "text"])
    lm = {r.token: r.logp for r in
          train_unigram_lm(df, "text", vocab_size=10).collect()}
    denom = 5 + 3 + 1
    assert lm["a"] == round(math.log(4 / denom), 8)
    assert lm["b"] == round(math.log(2 / denom), 8)
    assert lm[""] == round(math.log(1 / denom), 8)       # OOV sentinel
    out = {r.id: r for r in
           unigram_logprob_scores(df, "text", "id",
                                  vocab_size=10).collect()}
    exp1 = -(2 * lm["a"] + lm["b"]) / 3
    assert out[1].n_tokens == 3
    assert abs(out[1].avg_neg_logp - exp1) < 1e-3


def test_unigram_oov_scores_higher(spark):
    from schema_validata_spark.functions.text import (
        train_unigram_lm, unigram_logprob_scores)
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)], ["id", "text"])
    lm = train_unigram_lm(train, "text", vocab_size=100)
    score = spark.createDataFrame(
        [(1, "the cat sat"), (2, "zzyx qwfp vbnm")], ["id", "text"])
    out = {r.id: r.avg_neg_logp for r in
           unigram_logprob_scores(score, "text", "id", lm=lm).collect()}
    assert out[2] > out[1]          # gibberish = all-OOV = worse score


def test_unigram_vocab_cutoff_and_empty_docs(spark):
    from schema_validata_spark.functions.text import (
        train_unigram_lm, unigram_logprob_scores)
    df = spark.createDataFrame(
        [(1, "x x x y y z"), (2, None), (3, "   ")], ["id", "text"])
    # vocab_size=2 keeps x,y (count desc); z is OOV
    lm = {r.token for r in
          train_unigram_lm(df, "text", vocab_size=2).collect()}
    assert lm == {"x", "y", ""}
    out = unigram_logprob_scores(df, "text", "id", vocab_size=2).collect()
    assert {r.id for r in out} == {1}     # NULL/blank docs emit no row


def test_unigram_empty_corpus_raises(spark):
    import pytest
    from schema_validata_spark.functions.text import train_unigram_lm
    df = spark.createDataFrame([(1, None)], "id: bigint, text: string")
    with pytest.raises(ValueError):
        train_unigram_lm(df, "text")


def test_long_doc_shingle_paths_are_linear(spark):
    """Regression guard for the O(len^2) HOF trap (functions/exprs.py
    let_col): on 2k x 400-word docs the un-bound forms took ~26s+ PER
    OP (re-evaluating the split per element); the let-bound forms run
    in well under a second each. A generous wall-clock bound catches a
    reintroduction without being host-noise flaky."""
    import time
    from pyspark.sql import functions as F
    from schema_validata_spark.functions.text import (ngram_diversity,
                                                      shingles)
    doc = " ".join(f"w{i % 977}x{i % 31}" for i in range(400))
    df = spark.range(2000).select(F.lit("g").alias("src"),
                                  F.lit(doc).alias("text"))
    t0 = time.time()
    df.select(F.sum(F.size(shingles("text", 3)))).collect()
    ngram_diversity(df, "text", "src").collect()
    assert time.time() - t0 < 20.0


def test_distinctive_terms_hand_computed(spark):
    import math
    from schema_validata_spark.functions.text import distinctive_terms
    df = spark.createDataFrame(
        [("A", "apple apple banana"), ("A", "apple common"),
         ("B", "cherry common"), ("B", "cherry cherry"),
         (None, "ghost ghost"), ("A", None), ("B", "   ")],
        "src: string, text: string")
    out = distinctive_terms(df, "text", "src", k=3).collect()
    rows = {(r["group"], r["rank"]): r for r in out}
    # NULL group and NULL/blank texts contribute nothing
    assert all(r["group"] in ("A", "B") for r in out)
    assert not any(r["token"] == "ghost" for r in out)
    a1 = rows[("A", 1)]
    assert a1["token"] == "apple" and a1["tf"] == 3
    assert a1["n_groups_with_token"] == 1
    assert abs(a1["score"] - round(3 * math.log(2), 6)) < 1e-9
    assert rows[("A", 2)]["token"] == "banana"
    # token present in every group scores 0
    common = [r for r in out if r["token"] == "common"]
    assert common and all(r["score"] == 0.0 for r in common)
    b = sorted([r for r in out if r["group"] == "B"], key=lambda r: r["rank"])
    assert b[0]["token"] == "cherry" and b[0]["tf"] == 3
