"""Dedup + similarity operators over a small corpus with known
near-duplicates."""

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.dedup import (dedup_exact,
                                                   exact_duplicates,
                                                   minhash_lsh_candidates,
                                                   minhash_near_duplicates,
                                                   ngram_jaccard_pairs,
                                                   simhash,
                                                   simhash_near_duplicates)
from schema_validata_spark.operators.similarity import (brute_force_topk,
                                                        cosine_expr,
                                                        ivf_route,
                                                        lsh_ann_topk)

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


VECS = [
    (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0]),
    (4, [0.0, 0.9, 0.1]), (5, [0.0, 0.0, 1.0]), (6, [0.5, 0.5, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id: long, embedding: array<float>").cache()


def test_brute_force_topk(vecs):
    top = brute_force_topk(vecs, vecs.where("vec_id = 1"), k=2).collect()
    assert [r["neighbor_id"] for r in top] == [2, 6]
    assert top[0]["cos"] > 0.99


def test_cosine_expr_value(spark):
    df = spark.createDataFrame([([1.0, 0.0], [1.0, 1.0])],
                               "a: array<double>, b: array<double>")
    v = df.select(F.round(cosine_expr(F.col("a"), F.col("b")), 4).alias("c")) \
          .collect()[0]["c"]
    assert abs(v - 0.7071) < 1e-4


def test_lsh_ann_recall_on_tight_neighbors(vecs):
    """ANN must find the near-identical neighbor (same bucket w.h.p.
    given 4 tables)."""
    got = lsh_ann_topk(vecs, vecs.where("vec_id = 1"), k=3,
                       n_planes=6, n_tables=4).collect()
    ids = [r["neighbor_id"] for r in got]
    assert 2 in ids


def test_ivf_route_buckets(vecs):
    routed = ivf_route(vecs).collect()
    by_id = {r["vec_id"]: r["ivf_bucket"] for r in routed}
    assert by_id[1] == by_id[2] == 1   # x-dominant
    assert by_id[3] == by_id[4] == 2   # y-dominant
    assert by_id[5] == 3


def test_embedding_near_dup_lsh_recall(spark, sf_dir):
    """Scale-path recall vs the exact all-pairs baseline (VERDICT r1 #7):
    hyperplane-bucketed candidates + exact verify must recover most true
    pairs, with identical cos values on the pairs it finds."""
    from schema_validata_spark.operators.dedup import (
        embedding_near_duplicates, embedding_near_duplicates_lsh)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]): r["cos"] for r in
             embedding_near_duplicates(emb, threshold=0.45).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cos"] for r in
           embedding_near_duplicates_lsh(
               emb, threshold=0.45, n_planes=4, n_tables=16).collect()}
    assert set(lsh) <= set(exact)          # no false positives (exact verify)
    recall = len(lsh) / max(1, len(exact))
    assert recall >= 0.7, (recall, len(exact))
    for k, v in lsh.items():
        assert exact[k] == v               # identical cosines


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
        minhash_near_duplicates, simhash_near_duplicates,
        embedding_near_duplicates_lsh)
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
    # embedding path: one degenerate (table, code) bucket per table
    vecs = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)).alias("embedding"))
    tel4: dict = {}
    embedding_near_duplicates_lsh(vecs, max_bucket=50, n_planes=4,
                                  n_tables=2, telemetry_out=tel4).count()
    assert tel4["capped_buckets"] == 2 and tel4["capped_rows"] == 600


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


def test_embedding_dim_qa(spark):
    from schema_validata_spark.operators.similarity import embedding_dim_qa
    rows = [
        (1, [1.0, 2.0]), (2, [float("nan"), 1.0]),
        (3, [0.0, 0.0]), (4, [1.0, 2.0, 3.0]),
        (5, None), (6, [None, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    got = {r["dim"]: r for r in embedding_dim_qa(df).collect()}
    d2 = got[2]
    assert d2["n_vectors"] == 4 and d2["n_with_nan"] == 1
    assert d2["n_with_null_elem"] == 1 and d2["n_zero_vectors"] == 1
    assert got[3]["n_vectors"] == 1 and got[3]["n_zero_vectors"] == 0
    assert got[None]["n_vectors"] == 1 and got[None]["n_with_nan"] == 0


def test_embedding_centroid_drift(spark):
    from schema_validata_spark.operators.similarity import (
        embedding_centroid_drift)
    a = spark.createDataFrame([( [1.0, 0.0],), ([1.0, 0.0],)],
                              "embedding array<double>")
    b = spark.createDataFrame([( [0.0, 1.0],), ([0.0, 1.0],), (None,)],
                              "embedding array<double>")
    r = embedding_centroid_drift(a, b).collect()[0]
    # centroids (1,0) vs (0,1): orthogonal
    assert r["n_dims"] == 2
    assert r["norm_a"] == 1.0 and r["norm_b"] == 1.0
    assert r["cosine"] == 0.0


def test_embedding_centroid_drift_identical(spark):
    from schema_validata_spark.operators.similarity import (
        embedding_centroid_drift)
    df = spark.createDataFrame([([3.0, 4.0],)], "embedding array<double>")
    r = embedding_centroid_drift(df, df).collect()[0]
    assert r["cosine"] == 1.0 and r["norm_a"] == 5.0


def test_ivf_train_deterministic_across_partitionings(vecs):
    """k-means centroids are content-derived (hash-ordered init,
    rounded Lloyd means): repartitioning must not move them."""
    from schema_validata_spark.operators.similarity import train_ivf_centroids
    a = train_ivf_centroids(vecs, n_clusters=3, n_iters=3)
    b = train_ivf_centroids(vecs.repartition(5), n_clusters=3, n_iters=3)
    assert a == b


def test_ivf_exact_mode_matches_brute_force(vecs):
    """n_probe == n_clusters probes every cluster → byte-identical to
    the brute-force baseline (this is the oracle mode)."""
    from schema_validata_spark.operators.similarity import (brute_force_topk,
                                                            ivf_topk)
    q = vecs.where("vec_id <= 3")
    got = set(map(tuple, ivf_topk(vecs, q, k=3, n_clusters=3,
                                  n_probe=3, n_iters=3).collect()))
    want = set(map(tuple, brute_force_topk(vecs, q, k=3).collect()))
    assert got == want and len(want) > 0


def test_ivf_single_probe_finds_tight_neighbor(vecs):
    """With 3 axis-aligned clusters and n_probe=1, the near-identical
    neighbor shares the query's cluster and must be found."""
    from schema_validata_spark.operators.similarity import ivf_topk
    got = ivf_topk(vecs, vecs.where("vec_id = 1"), k=2,
                   n_clusters=3, n_probe=1, n_iters=4).collect()
    assert 2 in [r["neighbor_id"] for r in got]


def test_ivf_assign_null_and_mixed_dim(spark):
    """NULL embeddings and off-dimension vectors get NULL cluster —
    excluded, never crashing the matmul batch."""
    from schema_validata_spark.operators.similarity import (ivf_assign,
                                                            train_ivf_centroids)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, None),
         (4, [1.0, 0.0]), (5, [0.1, 0.9, 0.0])],
        "vec_id: long, embedding: array<double>")
    cents = train_ivf_centroids(df.where("vec_id in (1,2,5)"),
                                n_clusters=2, n_iters=2)
    by_id = {r["vec_id"]: r["ivf_cluster"]
             for r in ivf_assign(df, cents).collect()}
    assert by_id[3] is None and by_id[4] is None
    assert by_id[2] == by_id[5] is not None
    assert by_id[1] is not None and by_id[1] != by_id[2]


def test_pq_train_encode_deterministic(vecs, spark):
    """PQ codebooks are content-derived; codes are NULL for NULL or
    off-dimension vectors; indivisible dim raises."""
    from schema_validata_spark.operators.similarity import (pq_encode,
                                                            train_pq_codebooks)
    books = train_pq_codebooks(vecs, m=3, k=4, n_iters=3)
    books2 = train_pq_codebooks(vecs.repartition(5), m=3, k=4, n_iters=3)
    assert books == books2
    assert len(books) == 3 and len(books[0]) <= 4
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["pq_codes"]
           for r in pq_encode(df, books).collect()}
    assert got[2] is None and got[3] is None
    assert got[1] is not None and len(got[1]) == 3
    import pytest as _pt
    with _pt.raises(ValueError, match="not divisible"):
        train_pq_codebooks(vecs, m=2, k=4)


def test_pq_topk_finds_tight_neighbor(vecs):
    """ADC + exact rerank must recover the near-identical neighbor on
    the axis-cluster fixture."""
    from schema_validata_spark.operators.similarity import (pq_topk,
                                                            train_pq_codebooks)
    books = train_pq_codebooks(vecs, m=3, k=4, n_iters=4)
    got = pq_topk(vecs, vecs.where("vec_id = 1"), books, k=2,
                  batch_k=4).collect()
    assert 2 in [r["neighbor_id"] for r in got]


def test_pq_recall_on_normalized_corpus(spark, sf_dir):
    """Deterministic end-to-end recall floor vs brute force on the
    L2-normalized driver fixture (ADC is an L2 machine — cosine and L2
    rankings agree on the unit sphere)."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.similarity import (
        brute_force_topk, pq_topk, train_pq_codebooks)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    nemb = emb.select("vec_id",
                      F.transform(v, lambda x: x / n).alias("embedding"))
    books = train_pq_codebooks(nemb, m=8, k=16, n_iters=3)
    q = nemb.where("vec_id < 10")
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          brute_force_topk(nemb, q, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in
           pq_topk(nemb, q, books, k=5, batch_k=100).collect()}
    # beam=100 of a 500-vector corpus: deterministic 0.92 measured;
    # the beam (batch_k) is THE recall lever — document, don't hide
    assert len(got & bf) / len(bf) >= 0.8


def test_ann_model_save_load_roundtrip(spark, tmp_path, vecs):
    """IVF centroids + PQ codebooks survive a parquet round trip with
    ordering intact, and a loaded model reproduces assignments."""
    from schema_validata_spark.operators.similarity import (
        ivf_assign, load_ann_model, save_ann_model, train_ivf_centroids,
        train_pq_codebooks)
    cents = train_ivf_centroids(vecs, n_clusters=3, n_iters=3)
    books = train_pq_codebooks(vecs, m=3, k=4, n_iters=2)
    p = str(tmp_path / "ann_model")
    save_ann_model(spark, p, centroids=cents, codebooks=books)
    m = load_ann_model(spark, p)
    assert m["centroids"] == cents
    assert m["codebooks"] == books
    a = {r["vec_id"]: r["ivf_cluster"]
         for r in ivf_assign(vecs, cents).collect()}
    b = {r["vec_id"]: r["ivf_cluster"]
         for r in ivf_assign(vecs, m["centroids"]).collect()}
    assert a == b


def test_ivf_pq_topk_recall_and_routing(spark, sf_dir, vecs):
    """The composed IVF×PQ index: full-probe recall floor vs brute
    force on the normalized fixture (PQ beam is then the only loss),
    and single-probe routing still finds the tight neighbor."""
    from pyspark.sql import functions as F
    from schema_validata_spark.operators.similarity import (
        brute_force_topk, ivf_pq_topk)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    nemb = emb.select("vec_id",
                      F.transform(v, lambda x: x / n).alias("embedding"))
    q = nemb.where("vec_id < 10")
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          brute_force_topk(nemb, q, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in
           ivf_pq_topk(nemb, q, k=5, n_clusters=4, n_probe=4, m=8,
                       pq_k=16, batch_k=100).collect()}
    assert len(got & bf) / len(bf) >= 0.8     # measured 0.88, deterministic
    tight = ivf_pq_topk(vecs, vecs.where("vec_id = 1"), k=2,
                        n_clusters=3, n_probe=1, m=3, pq_k=4,
                        batch_k=6).collect()
    assert 2 in [r["neighbor_id"] for r in tight]


# ---------------------------------------------------------- pool_embeddings

def test_pool_embeddings_hand_computed(spark):
    from schema_validata_spark.operators.similarity import pool_embeddings
    rows = [("A", [1.0, 2.0]), ("A", [3.0, 4.0]),
            ("B", [10.0, 0.0]), ("B", None),
            ("C", [1.0, 2.0, 3.0]), ("C", [3.0, 4.0])]
    df = spark.createDataFrame(rows, "g: string, embedding: array<double>")
    out = {r["group"]: r for r in pool_embeddings(df, "g").collect()}
    assert out["A"]["embedding"] == [2.0, 3.0]
    assert out["A"]["n_vectors"] == 2
    # NULL vector excluded
    assert out["B"]["embedding"] == [10.0, 0.0]
    assert out["B"]["n_vectors"] == 1
    # mixed dims: dim 2 averages over the one vector that has it
    assert out["C"]["embedding"] == [2.0, 3.0, 3.0]


def test_pool_embeddings_feeds_topk(spark):
    """Pooled frame plugs straight into brute_force_topk."""
    from schema_validata_spark.operators.similarity import (brute_force_topk,
                                                            pool_embeddings)
    rows = [(f"g{i % 3}", [float(i % 3 == 0), float(i % 3 == 1),
                           float(i % 3 == 2)]) for i in range(9)]
    df = spark.createDataFrame(rows, "g: string, embedding: array<double>")
    pooled = pool_embeddings(df, "g").withColumnRenamed("group", "id")
    q = spark.createDataFrame([("q0", [1.0, 0.0, 0.0])],
                              "id: string, embedding: array<double>")
    top = brute_force_topk(pooled, q, id_col="id", qid_col="id",
                           k=1).collect()
    assert len(top) == 1 and top[0]["neighbor_id"] == "g0"


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
