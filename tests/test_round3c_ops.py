"""Round-3 curation operators: quality-aware near-dup resolution,
exact-n per-group sampling, conversation forks."""

from pyspark.sql import Row


# ------------------------------------------------------------ dedup_keep_best

def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, score=s) for i, s in rows],
        "doc_id int, score int")


def _pairs(spark, pairs):
    return spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in pairs],
        "id_a int, id_b int")


def test_keep_best_keeps_highest_score_per_cluster(spark):
    from schema_validata_spark.operators.dedup import dedup_keep_best
    df = _docs(spark, [(1, 10), (2, 30), (3, 20), (4, 5), (9, 99)])
    pairs = _pairs(spark, [(1, 2), (2, 3)])  # cluster {1,2,3}
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_best(df, pairs, "doc_id", "score").collect())
    assert kept == [2, 4, 9]  # 2 wins its cluster; 4, 9 unpaired


def test_keep_best_tie_breaks_to_min_id_and_null_loses(spark):
    from schema_validata_spark.operators.dedup import dedup_keep_best
    df = spark.createDataFrame(
        [Row(doc_id=1, score=7), Row(doc_id=2, score=7),
         Row(doc_id=3, score=None)],
        "doc_id int, score int")
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_best(df, pairs, "doc_id", "score").collect())
    assert kept == [1]  # tie 1v2 -> min id; NULL score never wins


def test_keep_best_matches_canonical_when_score_is_neg_id(spark):
    # score = -id makes "best" == "min id" == dedup_keep_canonical
    from schema_validata_spark.operators.dedup import (
        dedup_keep_best, dedup_keep_canonical)
    import pyspark.sql.functions as F
    df = _docs(spark, [(i, 0) for i in range(1, 11)]) \
        .withColumn("neg", -F.col("doc_id"))
    pairs = _pairs(spark, [(1, 2), (3, 4), (4, 5), (7, 8)])
    a = sorted(r["doc_id"] for r in
               dedup_keep_best(df, pairs, "doc_id", "neg").collect())
    b = sorted(r["doc_id"] for r in
               dedup_keep_canonical(df, pairs, "doc_id").collect())
    assert a == b


# -------------------------------------------------------- sample_n_per_group

def test_sample_n_per_group_exact_n_and_small_groups_whole(spark):
    from schema_validata_spark.functions.sampling import sample_n_per_group
    rows = [Row(k=f"k{i}", g="big") for i in range(50)] \
        + [Row(k=f"s{i}", g="small") for i in range(3)]
    out = sample_n_per_group(spark.createDataFrame(rows), "k", "g", 5)
    counts = {r["g"]: r["n"] for r in
              out.groupBy("g").agg(
                  __import__("pyspark").sql.functions.count("*").alias("n")
              ).collect()}
    assert counts == {"big": 5, "small": 3}


def test_sample_n_per_group_partitioning_invariant(spark):
    from schema_validata_spark.functions.sampling import sample_n_per_group
    rows = [Row(k=f"k{i}", g=f"g{i % 4}") for i in range(200)]
    df = spark.createDataFrame(rows)
    a = sorted((r["g"], r["k"]) for r in
               sample_n_per_group(df, "k", "g", 7).collect())
    b = sorted((r["g"], r["k"]) for r in
               sample_n_per_group(df.repartition(13), "k", "g", 7).collect())
    assert a == b and len(a) == 28


def test_sample_n_per_group_null_group_sampled_not_dropped(spark):
    from schema_validata_spark.functions.sampling import sample_n_per_group
    rows = [Row(k=f"k{i}", g=None) for i in range(20)] \
        + [Row(k=f"x{i}", g="a") for i in range(20)]
    df = spark.createDataFrame(rows, "k string, g string")
    out = sample_n_per_group(df, "k", "g", 4).collect()
    by_g = {}
    for r in out:
        by_g[r["g"]] = by_g.get(r["g"], 0) + 1
    assert by_g == {None: 4, "a": 4}


def test_sample_n_per_group_salt_changes_pick(spark):
    from schema_validata_spark.functions.sampling import sample_n_per_group
    rows = [Row(k=f"k{i}", g="g") for i in range(100)]
    df = spark.createDataFrame(rows)
    a = {r["k"] for r in sample_n_per_group(df, "k", "g", 10).collect()}
    b = {r["k"] for r in
         sample_n_per_group(df, "k", "g", 10, salt="v2").collect()}
    assert len(a) == len(b) == 10 and a != b


# ---------------------------------------------------------- conversation_forks

def _conv(spark, convs):
    """convs: dict conv_id -> list of turn texts."""
    rows = [Row(conv=c, idx=i, text=t)
            for c, turns in convs.items() for i, t in enumerate(turns)]
    return spark.createDataFrame(rows, "conv string, idx int, text string")


def _forks(spark, convs, **kw):
    from schema_validata_spark.operators.dedup import conversation_forks
    out = conversation_forks(_conv(spark, convs), "conv", ["idx"],
                             "text", **kw)
    return {r["example_conv"]:
            (r["n_conversations"], r["min_turns"], r["max_turns"])
            for r in out.collect()}


def test_forks_group_shared_prefix_divergent_tail(spark):
    got = _forks(spark, {
        "a": ["sys", "hi", "q1", "ans-long", "followup"],
        "b": ["sys", "hi", "q1", "different-answer"],
        "c": ["sys", "hi", "OTHER", "x"],
        "d": ["unrelated", "turns", "here"],
    }, k=3)
    # a+b share the 3-prefix and diverge after; c differs at turn 3
    assert got == {"a": (2, 4, 5)}


def test_short_conversations_group_only_with_same_length_prefix(spark):
    got = _forks(spark, {
        "a": ["sys", "hi"],
        "b": ["sys", "hi"],
        "c": ["sys", "hi", "more"],   # 3-turn prefix: hashes apart
    }, k=3)
    assert got == {"a": (2, 2, 2)}


def test_null_turn_participates_in_prefix_identity(spark):
    got = _forks(spark, {
        "a": ["sys", None, "q"],
        "b": ["sys", None, "q"],
        "c": ["sys", "", "q"],        # empty != NULL
    }, k=3)
    assert got == {"a": (2, 3, 3)}


def test_min_group_threshold_and_partition_invariance(spark):
    convs = {f"c{i}": ["seed", "prompt", f"rollout-{i}"] for i in range(6)}
    convs["solo"] = ["own", "thing", "entirely"]
    df = _conv(spark, convs)
    from schema_validata_spark.operators.dedup import conversation_forks
    a = sorted(map(tuple, conversation_forks(
        df, "conv", ["idx"], "text", k=2, min_group=6).collect()))
    b = sorted(map(tuple, conversation_forks(
        df.repartition(5), "conv", ["idx"], "text",
        k=2, min_group=6).collect()))
    assert a == b and len(a) == 1 and a[0][1] == 6
