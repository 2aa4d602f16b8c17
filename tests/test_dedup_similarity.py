"""Dedup operators over a small corpus with known near-duplicates."""

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.dedup import (dedup_exact,
                                                   exact_duplicates,
                                                   minhash_lsh_candidates,
                                                   minhash_near_duplicates,
                                                   ngram_jaccard_pairs,
                                                   simhash,
                                                   simhash_near_duplicates)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),        # near dup of 1
    (4, "completely different content about spark aggregation"),
    (5, "THE QUICK  brown fox jumps over the lazy dog"),         # exact after norm
    (6, "spark aggregation pipelines shuffle data across executors"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string").cache()


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["member_ids"] == [1, 2, 5]
    assert groups[0]["group_size"] == 3


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in dedup_exact(docs, "text", "doc_id").collect())
    assert kept == [1, 3, 4, 6]


def test_minhash_candidates_contain_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_candidates(docs, "text", "doc_id").collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup should bucket


def test_minhash_near_duplicates_verified(docs):
    nd = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
          minhash_near_duplicates(docs, "text", "doc_id",
                                  threshold=0.5).collect()}
    assert nd[(1, 2)] == 1.0
    assert (1, 4) not in nd
    assert any(k in nd for k in [(1, 3), (2, 3)])


def test_ngram_jaccard_exact(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0


def test_simhash_near_duplicates(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in
            simhash(docs, "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    nd = {(r["id_a"], r["id_b"]) for r in
          simhash_near_duplicates(docs, "text", "doc_id",
                                  max_hamming=16).collect()}
    assert (1, 2) in nd


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """10k identical docs must not explode candidate counts: the bucket
    cap drops the degenerate bucket (exact dedup owns identical docs)."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.dedup import (
        minhash_lsh_candidates, simhash_near_duplicates)
    base = spark.range(10_000).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("the same boilerplate text repeated in every document "
              "again and again for this skew test").alias("text"))
    distinct_tail = spark.range(10_000, 10_020).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("unique document number "), F.col("id"),
                 F.lit(" with its own words entirely")).alias("text"))
    df = base.union(distinct_tail)
    mh = minhash_lsh_candidates(df, "text", "doc_id", max_bucket=100)
    assert mh.count() < 1_000              # not ~5×10^7
    sh = simhash_near_duplicates(df, "text", "doc_id", max_hamming=3,
                                 max_bucket=100)
    assert sh.count() < 1_000
    # with the cap disabled the degenerate bucket would emit O(k²) pairs —
    # guard the contract on a smaller clone set to keep the test fast
    small = spark.range(200).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("same text for everyone in this tiny corpus").alias("text"))
    uncapped = minhash_lsh_candidates(small, "text", "doc_id",
                                      max_bucket=None)
    assert uncapped.count() == 200 * 199 // 2


def test_cap_buckets_reports_drops(spark):
    """VERDICT r2 #2: capped runs must not be silent — telemetry_out
    reports the dropped cluster (bucket/row/pair counts) instead of
    nothing."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.dedup import (
        minhash_near_duplicates, simhash_near_duplicates)
    base = spark.range(500).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("the same boilerplate text repeated in every document "
              "again and again for this skew test").alias("text"))
    tail = spark.range(500, 520).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("unique document number "), F.col("id"),
                 F.lit(" with its own words entirely")).alias("text"))
    df = base.union(tail)
    tel: dict = {}
    minhash_near_duplicates(df, "text", "doc_id", max_bucket=100,
                            telemetry_out=tel).count()
    # 500 identical docs share every band bucket (8 bands → 8 dropped
    # buckets of 500 rows each, 8·C(500,2) pairs avoided)
    assert tel["capped_buckets"] == 8
    assert tel["capped_rows"] == 8 * 500
    assert tel["capped_candidate_pairs"] == 8 * (500 * 499 // 2)
    tel2: dict = {}
    simhash_near_duplicates(df, "text", "doc_id", max_hamming=3,
                            max_bucket=100, telemetry_out=tel2).count()
    assert tel2["capped_buckets"] >= 4        # ≥ the 4 chunks of the clone sig
    assert tel2["capped_rows"] >= 4 * 500
    # no drops → explicit zeros, not missing keys
    tel3: dict = {}
    minhash_near_duplicates(tail, "text", "doc_id", max_bucket=100,
                            telemetry_out=tel3).count()
    assert tel3 == {"capped_buckets": 0, "capped_rows": 0,
                    "capped_candidate_pairs": 0}


# --- cluster resolution (connected components) -----------------------------

def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_near_dup_clusters_path_and_star(spark):
    from schema_validata_spark.operators.dedup import near_dup_clusters
    # component A: path 1-2-3-4-5 (transitive chain); component B: star
    # 10-{11,12,13}; component C: single pair 20-21
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (10, 12), (10, 13), (20, 21)]
    got = {(r["id"], r["cluster_id"])
           for r in near_dup_clusters(_pairs(spark, edges)).collect()}
    want = {(i, 1) for i in (1, 2, 3, 4, 5)} \
        | {(i, 10) for i in (10, 11, 12, 13)} \
        | {(i, 20) for i in (20, 21)}
    assert got == want


def test_near_dup_clusters_long_path_converges(spark):
    """Pointer jumping must collapse a 40-node path well inside
    max_iter (plain propagation alone would need 40 rounds)."""
    from schema_validata_spark.operators.dedup import near_dup_clusters
    edges = [(i, i + 1) for i in range(40)]
    out = near_dup_clusters(_pairs(spark, edges), max_iter=12).collect()
    assert len(out) == 41
    assert {r["cluster_id"] for r in out} == {0}


def test_near_dup_clusters_empty(spark):
    from schema_validata_spark.operators.dedup import near_dup_clusters
    out = near_dup_clusters(_pairs(spark, []))
    assert out.count() == 0
    assert out.columns == ["id", "cluster_id"]


def test_dedup_keep_canonical(spark):
    from schema_validata_spark.operators.dedup import dedup_keep_canonical
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string")
    # clusters {1,2,3} and {5,6}; 4 and 7 unclustered
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_canonical(docs, pairs, "doc_id").collect())
    assert kept == [1, 4, 5, 7]


def test_top_k_per_group_with_ties(spark):
    from schema_validata_spark.operators.selection import top_k_per_group
    rows = [("en", 1, 0.9), ("en", 2, 0.9), ("en", 3, 0.5), ("en", 4, 0.1),
            ("de", 5, 0.3), ("de", 6, 0.7)]
    df = spark.createDataFrame(rows, "lang string, id long, s double")
    out = top_k_per_group(df, ["lang"], "s", 2, tiebreak_cols=["id"])
    got = {(r["lang"], r["id"], r["rank"]) for r in out.collect()}
    # tie at 0.9 broken by ascending id — deterministic
    assert got == {("en", 1, 1), ("en", 2, 2), ("de", 6, 1), ("de", 5, 2)}


def test_duplicate_share_by_group(spark):
    from schema_validata_spark.operators.dedup import (
        duplicate_share_by_group)
    rows = [
        (1, "alpha beta", "s1"), (2, "ALPHA   beta", "s2"),  # cross-group dup
        (3, "unique one", "s1"),
        (4, None, "s1"), (5, None, "s2"),   # NULL-content dup pair
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    got = {r["source"]: r
           for r in duplicate_share_by_group(df, "text", "source")
           .collect()}
    assert got["s1"]["n_docs"] == 3 and got["s1"]["n_dup_rows"] == 2
    assert abs(got["s1"]["dup_share"] - 0.666667) < 1e-6
    assert got["s2"]["n_docs"] == 2 and got["s2"]["n_dup_rows"] == 2


# --------------------------------------------------------- slice_similarity

def test_slice_similarity_identical_disjoint_and_estimate(spark):
    from schema_validata_spark.operators.dedup import slice_similarity
    base = " ".join(f"w{i}" for i in range(60))
    other = " ".join(f"z{i}" for i in range(60))
    # half of C's shingles overlap A's (same first 30 tokens run)
    half = " ".join([f"w{i}" for i in range(30)]
                    + [f"q{i}" for i in range(30)])
    df = spark.createDataFrame(
        [("A", base), ("B", base), ("D", other), ("C", half),
         ("A", None), (None, base), ("E", "   ")],
        "src: string, text: string")
    out = {(r["group_a"], r["group_b"]): r for r in
           slice_similarity(df, "text", "src", k=32).collect()}
    # identical slices: every signature component matches
    assert out[("A", "B")]["est_jaccard"] == 1.0
    assert out[("A", "B")]["n_matches"] == 32
    # disjoint vocabularies: no component matches
    assert out[("A", "D")]["est_jaccard"] == 0.0
    # ~28/86 true shingle Jaccard: estimate lands in a wide sane band
    est = out[("A", "C")]["est_jaccard"]
    assert 0.05 <= est <= 0.65
    # NULL text / NULL group / blank-only slices carry nothing
    assert not any("E" in p or None in p for p in out)
    # all pairs among {A,B,C,D} present, ordered a < b
    assert len(out) == 6 and all(pa < pb for pa, pb in out)


def test_slice_similarity_partition_invariant(spark):
    from schema_validata_spark.operators.dedup import slice_similarity
    rows = [(f"s{i % 3}", f"doc {i} common tokens run " * 3 + f"tail{i}")
            for i in range(30)]
    df = spark.createDataFrame(rows, "src: string, text: string")
    r1 = sorted(map(tuple, slice_similarity(df, "text", "src", k=16)
                    .collect()))
    r2 = sorted(map(tuple, slice_similarity(df.repartition(7), "text",
                                            "src", k=16).collect()))
    assert r1 == r2
