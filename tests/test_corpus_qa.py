"""Corpus-QA operators added in round 3: encoding/mojibake QA, markup
density, incremental (cross-snapshot) dedup and CCNet-style line-level
dedup."""

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.functions.text import (encoding_qa,
                                                  encoding_summary,
                                                  markup_stats)
from schema_validata_spark.operators.dedup import (dedup_lines,
                                                   frequent_lines,
                                                   incremental_dedup,
                                                   snapshot_fingerprints)


# --- encoding QA ------------------------------------------------------------

def test_encoding_qa_per_doc(spark):
    df = spark.createDataFrame(
        [(1, "clean prose, nothing wrong"),
         (2, "bad�byte and cafÃ© mojibake"),
         (3, "ctrl\x01char"),
         (4, "curly â€™ quote"),   # â€™
         (5, None)],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in encoding_qa(df, "text", "doc_id")
            .collect()}
    assert rows[1]["is_clean"] == 1
    assert rows[2]["replacement_chars"] == 1
    assert rows[2]["mojibake_seqs"] == 1
    assert rows[2]["is_clean"] == 0
    assert rows[3]["control_chars"] == 1 and rows[3]["is_clean"] == 0
    assert rows[4]["mojibake_seqs"] == 1
    # NULL text: counts coalesce to 0 → clean by contract
    assert rows[5]["is_clean"] == 1


def test_encoding_summary_groups(spark):
    df = spark.createDataFrame(
        [("a", "ok"), ("a", "x�y"), ("b", "ok too")],
        ["src", "text"])
    out = {r["src"]: r for r in
           encoding_summary(df, "text", group_col="src").collect()}
    assert out["a"]["n_docs"] == 2
    assert out["a"]["replacement_chars_total"] == 1
    assert out["a"]["replacement_chars_docs"] == 1
    assert out["a"]["dirty_docs"] == 1
    assert out["b"]["dirty_docs"] == 0


def test_encoding_summary_global(spark):
    df = spark.createDataFrame([("x\x02",), ("ok",)], ["text"])
    row = encoding_summary(df, "text").collect()[0]
    assert row["n_docs"] == 2 and row["control_chars_total"] == 1


# --- markup density ----------------------------------------------------------

def test_markup_stats_counts_and_ratio(spark):
    df = spark.createDataFrame(
        [(1, "<p>hi</p> see https://x.example/a &amp; done"),
         (2, "plain text"),
         (3, "")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in markup_stats(df, "text", "doc_id")
            .collect()}
    assert rows[1]["html_tags"] == 2
    assert rows[1]["urls"] == 1
    assert rows[1]["html_entities"] == 1
    assert 0.0 < rows[1]["markup_char_ratio"] < 1.0
    assert rows[2]["markup_char_ratio"] == 0.0
    assert rows[3]["markup_char_ratio"] is None  # empty text → undefined


# --- incremental dedup --------------------------------------------------------

def test_incremental_dedup_by_content_not_id(spark):
    prior = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, "seen before"),            # same content, new id → drop
         (11, "SEEN   before"),          # normalizes equal → drop
         (12, "genuinely new")],
        ["doc_id", "text"])
    seen = snapshot_fingerprints(prior, "text")
    kept = [r["doc_id"] for r in
            incremental_dedup(new, seen, "text").collect()]
    assert kept == [12]


def test_incremental_dedup_null_contract(spark):
    prior = spark.createDataFrame([(1, None)], "doc_id int, text string")
    new = spark.createDataFrame([(2, None), (3, "real")],
                                "doc_id int, text string")
    seen = snapshot_fingerprints(prior, "text")
    kept = sorted(r["doc_id"] for r in
                  incremental_dedup(new, seen, "text").collect())
    # a seen NULL doc screens later NULL docs (documented contract)
    assert kept == [3]


def test_incremental_dedup_keeps_within_batch_dups(spark):
    seen = snapshot_fingerprints(
        spark.createDataFrame([(0, "x")], ["doc_id", "text"]), "text")
    new = spark.createDataFrame(
        [(1, "twice"), (2, "twice")], ["doc_id", "text"])
    assert incremental_dedup(new, seen, "text").count() == 2


# --- line-level dedup -----------------------------------------------------------

def _mk_docs(spark, n=6):
    rows = []
    for i in range(n):
        rows.append((i, "COMMON HEADER\nbody line %d\nCOMMON FOOTER" % i))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_frequent_lines_counts_docs_not_occurrences(spark):
    df = spark.createDataFrame(
        [(1, "dup\ndup\ndup"), (2, "dup\nother")], ["doc_id", "text"])
    freq = frequent_lines(df, "text", min_docs=2).collect()
    # 'dup' appears 4 times but in 2 docs; 'other' in 1 doc only
    assert len(freq) == 1 and freq[0]["n_docs"] == 2


def test_dedup_lines_removes_frequent_keeps_order(spark):
    df = _mk_docs(spark)
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines(df, "text", "doc_id", min_docs=3)
           .collect()}
    for i in out:
        assert out[i] == "body line %d" % i


def test_dedup_lines_preserves_blank_and_unique(spark):
    df = spark.createDataFrame(
        [(1, "FREQ\n\nkeep me\nFREQ"),
         (2, "FREQ\nother body"),
         (3, "FREQ\nthird body"),
         (4, None)],
        "doc_id int, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines(df, "text", "doc_id", min_docs=3)
           .collect()}
    assert out[1] == "\nkeep me"        # blank line survives, order kept
    assert out[2] == "other body"
    assert out[4] is None               # NULL text passes through


def test_dedup_lines_all_frequent_becomes_empty(spark):
    df = spark.createDataFrame(
        [(i, "ONLY LINE") for i in range(4)], ["doc_id", "text"])
    out = dedup_lines(df, "text", "doc_id", min_docs=2).collect()
    assert all(r["text"] == "" for r in out)


def test_dedup_lines_precomputed_frequent_frame(spark):
    df = _mk_docs(spark)
    freq = frequent_lines(df, "text", min_docs=3)
    out = dedup_lines(df, "text", "doc_id", frequent=freq).collect()
    assert all(r["text"].startswith("body line") for r in out)


def test_dedup_lines_partition_independent(spark):
    df = _mk_docs(spark, n=8)
    a = {(r["doc_id"], r["text"])
         for r in dedup_lines(df.repartition(7), "text", "doc_id",
                              min_docs=3).collect()}
    b = {(r["doc_id"], r["text"])
         for r in dedup_lines(df.coalesce(1), "text", "doc_id",
                              min_docs=3).collect()}
    assert a == b


# --- vocab_stats -------------------------------------------------------------

def test_vocab_stats_counts(spark):
    from schema_validata_spark.functions.text import vocab_stats
    df = spark.createDataFrame(
        [("a b a",), ("B c",), (None,), ("  ",)], "text string")
    r = vocab_stats(df, "text").collect()[0]
    # tokens: a b a b c → 5 occurrences, 3 types (case-folded)
    assert (r["n_tokens"], r["n_types"]) == (5, 3)
    assert r["n_hapax"] == 1                       # only 'c'
    assert r["type_token_ratio"] == round(3 / 5, 6)
    assert r["hapax_share"] == round(1 / 3, 6)
    assert r["top_share"] == round(2 / 5, 6)       # 'a' or 'b' = 2/5


def test_vocab_stats_empty_corpus(spark):
    from schema_validata_spark.functions.text import vocab_stats
    df = spark.createDataFrame([(None,), ("",)], "text string")
    r = vocab_stats(df, "text").collect()[0]
    assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (0, 0, 0)
    assert r["type_token_ratio"] is None
    assert r["top_share"] is None


# --- incremental_near_dedup --------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_near_dedup_screens_edited_clones(spark):
    from schema_validata_spark.operators.dedup import (
        incremental_near_dedup, snapshot_minhash_signatures)
    base = " ".join(f"w{i}" for i in range(60))
    prior = _docs(spark, [(1, base), (2, "totally different thing here")])
    seen = snapshot_minhash_signatures(prior, "text", "doc_id")
    new = _docs(spark, [
        (10, base + " extra"),          # near-dup of 1 → screened
        (11, base),                     # exact content of 1 → screened
        (12, " ".join(f"z{i}" for i in range(60))),  # novel → kept
        (13, None),                     # NULL text → passes through
    ])
    kept = sorted(r["doc_id"] for r in
                  incremental_near_dedup(new, seen, "text", "doc_id",
                                         threshold=0.5).collect())
    assert kept == [12, 13]


def test_incremental_near_dedup_signature_estimate_threshold(spark):
    """A doc overlapping ~half its shingles with the snapshot doc must
    survive a high threshold and be screened by a low one."""
    from schema_validata_spark.operators.dedup import (
        incremental_near_dedup, snapshot_minhash_signatures)
    half_a = " ".join(f"a{i}" for i in range(30))
    half_b = " ".join(f"b{i}" for i in range(30))
    half_c = " ".join(f"c{i}" for i in range(30))
    prior = _docs(spark, [(1, half_a + " " + half_b)])
    seen = snapshot_minhash_signatures(prior, "text", "doc_id",
                                       num_hashes=64)
    new = _docs(spark, [(10, half_a + " " + half_c)])  # J ≈ 1/3
    # low-threshold screening needs many short bands (2-row bands →
    # per-band collision J², ~98% recall over 32 bands at J=1/3);
    # the default 8-row bands would rarely even surface the candidate
    hi = incremental_near_dedup(new, seen, "text", "doc_id",
                                threshold=0.8, num_hashes=64,
                                bands=32).count()
    lo = incremental_near_dedup(new, seen, "text", "doc_id",
                                threshold=0.1, num_hashes=64,
                                bands=32).count()
    assert hi == 1   # survives: estimate well under 0.8
    assert lo == 0   # screened: estimate well over 0.1


def test_incremental_near_dedup_cap_telemetry(spark):
    """Oversized snapshot buckets are capped AND reported."""
    from schema_validata_spark.operators.dedup import (
        incremental_near_dedup, snapshot_minhash_signatures)
    same = "identical boilerplate page content repeated verbatim"
    prior = _docs(spark, [(i, same) for i in range(50)])
    seen = snapshot_minhash_signatures(prior, "text", "doc_id")
    new = _docs(spark, [(1000, same), (1001, "fresh novel content")])
    telemetry = {}
    kept = incremental_near_dedup(new, seen, "text", "doc_id",
                                  max_bucket=10,
                                  telemetry_out=telemetry).collect()
    # every snapshot bucket is 50-identical → all capped → clone kept
    assert sorted(r["doc_id"] for r in kept) == [1000, 1001]
    assert telemetry["capped_buckets"] > 0


# --- url_domains -------------------------------------------------------------

def test_url_domains_counts(spark):
    from schema_validata_spark.functions.text import url_domains
    df = _docs(spark, [
        (1, "see https://A.com/x and https://a.com/y plus http://b.org"),
        (2, "again https://a.com/z"),
        (3, "no links here"),
        (4, None),
    ])
    got = {r["domain"]: (r["n_occurrences"], r["n_docs"])
           for r in url_domains(df, "text", "doc_id", k=5).collect()}
    assert got == {"a.com": (3, 2), "b.org": (1, 1)}


def test_url_domains_topk_ordering(spark):
    from schema_validata_spark.functions.text import url_domains
    rows = [(i, f"https://h{i % 3}.net/p https://h{i % 3}.net/q")
            for i in range(9)]
    got = url_domains(_docs(spark, rows), "text", "doc_id",
                      k=2).collect()
    assert len(got) == 2
    assert [r["domain"] for r in got] == ["h0.net", "h1.net"]  # tie→asc
    assert all(r["n_occurrences"] == 6 and r["n_docs"] == 3 for r in got)
