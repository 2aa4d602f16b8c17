"""Round-4: engine-portable (md5) signature modes for the LSH near-dup
family — the modes the DuckDB oracles replay end-to-end (VERDICT r3 #1).
These tests pin the Spark-side semantics; cross-engine byte-parity is
enforced by scripts/check_oracle.py on the registered queries
(minhash_near_duplicates, simhash_near_duplicates,
incremental_near_dedup)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from schema_validata_spark.operators.dedup import (
    incremental_near_dedup, minhash_near_duplicates, minhash_signatures,
    simhash, simhash_near_duplicates, snapshot_minhash_signatures)


def _docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    rows = [(i, base + f" tail{i}") for i in range(6)]
    # 3 near-identical variants of doc 0 (one token changed)
    rows += [(100 + i, base + " tail0 extra" + str(i)) for i in range(2)]
    # unrelated docs
    rows += [(200, "completely different words entirely unrelated content"),
             (201, None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_md5_minhash_signature_matches_python(spark):
    """md5-mode signature component = lexicographic min of
    substr(md5('i:' || shingle), 1, 16) — checked against hashlib on a
    one-doc corpus (the convention the oracle replays)."""
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sig = (minhash_signatures(df, "text", "doc_id", num_hashes=4,
                              shingle_k=3, hasher="md5")
           .first()["sig"])
    shingle_set = {"a b c", "b c d"}
    for i in range(4):
        expect = min(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:16]
                     for s in shingle_set)
        assert sig[i] == expect


def test_md5_minhash_finds_planted_near_dups(spark):
    pairs = (minhash_near_duplicates(_docs(spark), "text", "doc_id",
                                     threshold=0.5, num_hashes=32,
                                     bands=16, shingle_k=3, hasher="md5")
             .collect())
    found = {(r.id_a, r.id_b) for r in pairs}
    # the planted variants of doc 0 are ~0.85 Jaccard — 16 bands of 2
    # rows give recall ≈ 1 at that similarity
    assert (0, 100) in found and (0, 101) in found
    assert all(r.jaccard >= 0.5 for r in pairs)
    assert not any(200 in p or 201 in p for p in found)


def test_md5_and_xxhash_minhash_verify_identically(spark):
    """Banding recall differs by hash, but every pair BOTH modes emit
    must carry the same exact-Jaccard value (verification is
    hash-independent)."""
    kw = dict(threshold=0.3, num_hashes=32, bands=16, shingle_k=3)
    a = {(r.id_a, r.id_b): r.jaccard
         for r in minhash_near_duplicates(_docs(spark), "text", "doc_id",
                                          hasher="md5", **kw).collect()}
    b = {(r.id_a, r.id_b): r.jaccard
         for r in minhash_near_duplicates(_docs(spark), "text", "doc_id",
                                          hasher="xxhash64", **kw).collect()}
    common = set(a) & set(b)
    assert common, "expected overlapping pairs between hash modes"
    for p in common:
        assert a[p] == b[p]


def test_md5_simhash_bit_convention(spark):
    """md5-mode SimHash bit b = bit (b % 4) of hex nibble (b // 4) of
    md5(shingle) — checked against hashlib on a single-shingle doc."""
    df = spark.createDataFrame([(1, "hello world")],
                               "doc_id long, text string")
    got = simhash(df, "text", "doc_id", shingle_k=2,
                  hasher="md5").first()["simhash"]
    h = hashlib.md5(b"hello world").hexdigest()
    expect = 0
    for b in range(64):
        nib = int(h[b // 4], 16)
        bit = (nib >> (b % 4)) & 1
        mask = (1 << b) if b < 63 else -(2 ** 63)
        expect += bit * mask
    assert got == expect


def test_md5_simhash_near_duplicates(spark):
    """A doc repeated verbatim plus one with a single appended token:
    hamming 0 for the exact pair; the one-token edit shifts only the
    few bit-majorities its 2 new shingles tip."""
    base = " ".join(f"word{i} common{i % 7}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra"),
         (50, "entirely different content with other words altogether")],
        "doc_id long, text string")
    pairs = (simhash_near_duplicates(df, "text", "doc_id",
                                     max_hamming=3, shingle_k=2,
                                     hasher="md5").collect())
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found[(1, 2)] == 0
    assert (1, 3) in found and found[(1, 3)] <= 3
    assert all(50 not in p for p in found)


def test_md5_incremental_near_dedup_screens_clones(spark):
    docs = _docs(spark).where(F.col("text").isNotNull())
    prior = docs.where(F.col("doc_id") < 100)
    seen = snapshot_minhash_signatures(prior, "text", "doc_id",
                                       hasher="md5")
    clones = (prior.withColumn("doc_id", F.col("doc_id") + 1000)
                   .withColumn("text", F.concat("text", F.lit(" edited"))))
    fresh = spark.createDataFrame(
        [(2000, "totally novel content nothing like the prior snapshot "
                "at all in any way")], "doc_id long, text string")
    out = incremental_near_dedup(clones.unionByName(fresh), seen,
                                 "text", "doc_id", threshold=0.5,
                                 hasher="md5")
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert 2000 in kept
    assert not any(k >= 1000 and k < 2000 for k in kept)


def test_bad_hasher_rejected(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="hasher"):
        minhash_signatures(df, "text", "doc_id", hasher="sha1").collect()
