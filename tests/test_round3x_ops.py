"""Round-3 continuation: the statistical and text QA operators."""

import pytest
from pyspark.sql import Row, functions as F


# ------------------------------------------------------- sampling table

def test_unigram_sampling_table_smoothing_and_cdf(spark):
    from schema_validata_spark.functions.text import unigram_sampling_table
    df = spark.createDataFrame(
        [Row(text="x x x x x x x x y"), Row(text="x x x x x x x y z"),
         Row(text=None), Row(text="   ")], "text string")
    out = unigram_sampling_table(df, "text", vocab_size=2).collect()
    out.sort(key=lambda r: r["rank"])
    assert [r["token"] for r in out] == ["x", "y"]       # z truncated
    assert [r["n"] for r in out] == [15, 2]
    sx, sy = 15 ** 0.75, 2 ** 0.75
    assert out[0]["p"] == pytest.approx(sx / (sx + sy), abs=1e-6)
    assert out[1]["cum_p"] == pytest.approx(1.0, abs=1e-6)
    # smoothing flattens: head share drops below the raw 15/17
    assert out[0]["p"] < 15 / 17


# ------------------------------------------------------ mixture weights

def test_mixture_weights_upsamples_small_sources(spark):
    from schema_validata_spark.functions.sampling import mixture_weights
    df = spark.createDataFrame(
        [Row(src="big", text="a" * 100)] + [Row(src="small", text="b" * 10)]
        + [Row(src=None, text="zz")], "src string, text string")
    out = {r["group"]: r for r in
           mixture_weights(df, "src", F.length("text"),
                           alpha=0.5).collect()}
    assert set(out) == {"big", "small"}
    w_big, w_small = 100 ** 0.5, 10 ** 0.5
    assert out["big"]["weight"] == pytest.approx(
        w_big / (w_big + w_small), abs=1e-6)
    assert out["small"]["sampling_factor"] > 1.0   # small gets upsampled
    assert out["big"]["sampling_factor"] < 1.0
    assert out["big"]["raw_share"] == pytest.approx(100 / 110, abs=1e-6)


def test_mixture_weights_alpha_one_is_proportional(spark):
    from schema_validata_spark.functions.sampling import mixture_weights
    df = spark.createDataFrame(
        [Row(src="a", n=30), Row(src="b", n=70)], "src string, n int")
    out = {r["group"]: r for r in
           mixture_weights(df, "src", F.col("n"), alpha=1.0).collect()}
    for g in ("a", "b"):
        assert out[g]["weight"] == pytest.approx(out[g]["raw_share"],
                                                 abs=1e-6)
        assert out[g]["sampling_factor"] == pytest.approx(1.0, abs=1e-5)


# ----------------------------------------------------- reliability bins

def test_reliability_bins_perfectly_calibrated(spark):
    from schema_validata_spark.operators.statqa import reliability_bins
    # score 0.25 with 1-of-4 positives, score 0.75 with 3-of-4: gap ~ 0
    rows = ([Row(s=0.25, f=True)] + [Row(s=0.25, f=False)] * 3
            + [Row(s=0.75, f=True)] * 3 + [Row(s=0.75, f=False)])
    df = spark.createDataFrame(rows, "s double, f boolean")
    out = {r["bin"]: r for r in
           reliability_bins(df, "s", F.col("f"), 0.0, 1.0, 4).collect()}
    assert set(out) == {1, 3}
    assert out[1]["positive_rate"] == pytest.approx(0.25)
    assert out[1]["calibration_gap"] == pytest.approx(0.0)
    assert out[3]["calibration_gap"] == pytest.approx(0.0)
    assert (out[1]["bin_lo"], out[1]["bin_hi"]) == (0.25, 0.5)


def test_reliability_bins_clamps_and_excludes_nulls(spark):
    from schema_validata_spark.operators.statqa import reliability_bins
    rows = [Row(s=-5.0, f=True), Row(s=99.0, f=False),
            Row(s=None, f=True), Row(s=0.5, f=None)]
    df = spark.createDataFrame(rows, "s double, f boolean")
    out = {r["bin"]: r for r in
           reliability_bins(df, "s", F.col("f"), 0.0, 1.0, 10).collect()}
    assert set(out) == {0, 9}                  # clamped; NULLs dropped
    assert out[0]["n"] == 1 and out[9]["n"] == 1
    with pytest.raises(ValueError):
        reliability_bins(df, "s", F.col("f"), 1.0, 1.0, 10)


# ---------------------------------------------------- template distance

def test_template_distance_modal_is_zero(spark):
    from schema_validata_spark.operators.sequence import template_distance
    rows = []
    for u, seq in [("u1", "abc"), ("u2", "abc"), ("u3", "abd")]:
        rows += [Row(u=u, i=i, v=ch) for i, ch in enumerate(seq)]
    df = spark.createDataFrame(rows, "u string, i int, v string")
    out = {r["part"]: r for r in
           template_distance(df, "u", ["i"], "v").collect()}
    assert out["u1"]["distance"] == 0 and out["u2"]["distance"] == 0
    assert out["u3"]["distance"] == 1          # c -> d, one substitution
    assert out["u3"]["seq_len"] == 3


def test_template_distance_caps_sequence_and_breaks_ties(spark):
    from schema_validata_spark.operators.sequence import template_distance
    # two sequences tie at 1 occurrence each: lexicographically smaller
    # ("x>y") must win over "y>z"
    rows = [Row(u="a", i=0, v="x"), Row(u="a", i=1, v="y"),
            Row(u="b", i=0, v="y"), Row(u="b", i=1, v="z"),
            Row(u="b", i=2, v="q")]            # capped away at max_len=2
    df = spark.createDataFrame(rows, "u string, i int, v string")
    out = {r["part"]: r for r in
           template_distance(df, "u", ["i"], "v", max_len=2).collect()}
    assert out["a"]["distance"] == 0
    assert out["b"]["seq_len"] == 2            # the cap held
    assert out["b"]["distance"] == 2           # "x>y" vs "y>z"
    with pytest.raises(ValueError):
        template_distance(df, "u", ["i"], "v", max_len=0)


# ------------------------------------------------------ rule suggestions

def test_suggest_rules_hand_frame(spark):
    from schema_validata_spark.rules import suggest_rules
    df = spark.createDataFrame(
        [Row(uid=1, cat="a", score=1.5), Row(uid=2, cat="b", score=None),
         Row(uid=3, cat="a", score=9.25)],
        "uid int, cat string, score double")
    out = {r["column_name"]: r for r in suggest_rules(df).collect()}
    uid = out["uid"]
    assert uid["suggested_type"] == "Integer" and uid["suggest_unique"]
    assert not uid["allow_null"]
    assert (uid["range_min"], uid["range_max"]) == (1.0, 3.0)
    cat = out["cat"]
    assert cat["suggested_type"] == "String"
    assert cat["allowed_values"] == "a,b" and cat["length_max"] == 1
    assert not cat["suggest_unique"]
    sc = out["score"]
    assert sc["suggested_type"] == "Numeric" and sc["allow_null"]
    assert sc["range_max"] == pytest.approx(9.25)
    assert sc["allowed_values"] is None        # non-string: never listed


def test_suggest_rules_allowed_cap_and_datetime(spark):
    import datetime as dt
    from schema_validata_spark.rules import suggest_rules
    rows = [Row(tag=f"t{i:02d}", ts=dt.datetime(2024, 1, 1 + i))
            for i in range(11)]
    df = spark.createDataFrame(rows, "tag string, ts timestamp")
    out = {r["column_name"]: r for r in
           suggest_rules(df, allowed_max=10).collect()}
    assert out["tag"]["n_distinct"] == 11
    assert out["tag"]["allowed_values"] is None     # over the cap
    assert out["ts"]["suggested_type"] == "Datetime"
    # smaller cap honored the other way
    out5 = {r["column_name"]: r for r in
            suggest_rules(df.limit(5), allowed_max=10).collect()}
    assert out5["tag"]["allowed_values"] is not None


# ---------------------------------------------------------- plan guards

def _plan(df):
    import io
    import contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_reliability_bins_single_exchange_plan(spark):
    from schema_validata_spark.operators.statqa import reliability_bins
    df = spark.createDataFrame([Row(s=0.5, f=True)], "s double, f boolean")
    p = _plan(reliability_bins(df, "s", F.col("f")))
    # one bin-keyed hash aggregate; no second row-level shuffle
    assert p.count("Arguments: hashpartitioning") == 1, p


def test_ewma_single_rowlevel_exchange_plan(spark):
    import datetime as dt
    from schema_validata_spark.operators.statqa import ewma_anomalies
    df = spark.createDataFrame([Row(ts=dt.datetime(2024, 1, 1))],
                               "ts timestamp")
    p = _plan(ewma_anomalies(df, "ts"))
    # the day aggregate is the only hashpartitioning; the later window
    # runs on the single-partition #days frame
    assert p.count("Arguments: hashpartitioning") == 1, p


def test_template_distance_one_rowlevel_shuffle(spark):
    from schema_validata_spark.operators.sequence import template_distance
    df = spark.createDataFrame([Row(u=1, i=1, v="x")],
                               "u int, i int, v string")
    p = _plan(template_distance(df, "u", ["i"], "v"))
    # window + per-key agg share ONE row-level hashpartitioning; the
    # remaining exchanges run on sequence-sized frames (modal pick)
    assert p.count("Arguments: hashpartitioning") <= 3, p
    assert "Arguments: hashpartitioning(u#" in p.replace("cast", ""), p


# ------------------------------------------------------- golden records

def test_golden_records_field_level_survivorship(spark):
    from schema_validata_spark.operators.dedup import golden_records
    df = spark.createDataFrame(
        [Row(id=1, ts=3, email=None, name="Ann"),
         Row(id=2, ts=2, email="a@x.com", name=None),
         Row(id=3, ts=1, email="old@x.com", name="Anne"),
         Row(id=9, ts=9, email="z@x.com", name="Zed")],
        "id int, ts int, email string, name string")
    pairs = spark.createDataFrame([Row(id_a=1, id_b=2), Row(id_a=2, id_b=3)])
    out = golden_records(df, pairs, "id",
                         [F.col("ts").desc_nulls_last(),
                          F.col("id").asc()],
                         ["email", "name"]).collect()
    assert len(out) == 1                       # singleton 9 not merged
    r = out[0]
    assert r["cluster_id"] == 1 and r["n_members"] == 3
    # best row (ts=3) lacks email -> inherits from second-best (ts=2)
    assert r["email"] == "a@x.com"
    assert r["name"] == "Ann"


def test_golden_records_all_null_field_stays_null(spark):
    from schema_validata_spark.operators.dedup import golden_records
    df = spark.createDataFrame(
        [Row(id=1, ts=2, email=None), Row(id=2, ts=1, email=None)],
        "id int, ts int, email string")
    pairs = spark.createDataFrame([Row(id_a=1, id_b=2)])
    r = golden_records(df, pairs, "id",
                       [F.col("ts").desc_nulls_last(),
                        F.col("id").asc()], ["email"]).collect()[0]
    assert r["email"] is None and r["n_members"] == 2


def test_expected_calibration_error_rollup(spark):
    from schema_validata_spark.operators.statqa import \
        expected_calibration_error
    rows = ([Row(s=0.25, f=True)] + [Row(s=0.25, f=False)] * 3
            + [Row(s=0.9, f=False)] * 4)      # second bin is way off
    df = spark.createDataFrame(rows, "s double, f boolean")
    r = expected_calibration_error(df, "s", F.col("f"),
                                   0.0, 1.0, 4).collect()[0]
    assert (r["n"], r["n_bins_used"]) == (8, 2)
    assert r["ece"] == pytest.approx(0.45)
    assert r["mce"] == pytest.approx(0.9)
    assert r["share_in_bad_bins"] == pytest.approx(0.5)
    assert expected_calibration_error(
        df.limit(0), "s", F.col("f")).count() == 0


# ------------------------------------------------- daily percentiles

def test_daily_value_percentiles_exact(spark):
    import datetime as dt
    from schema_validata_spark.operators.statqa import \
        daily_value_percentiles
    rows = [Row(ts=dt.datetime(2024, 6, 1, 10), v=float(i))
            for i in range(101)]          # 0..100: p50=50, p95=95
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = daily_value_percentiles(df, "ts", "v").collect()[0]
    assert r["n"] == 101
    assert r["p50"] == pytest.approx(50.0)
    assert r["p95"] == pytest.approx(95.0)
    assert r["p99"] == pytest.approx(99.0)


# ------------------------------------------------------- rolling psi

def test_rolling_psi_flags_distribution_shift(spark):
    import datetime as dt
    from schema_validata_spark.operators.drift import rolling_psi
    rows = []
    for k in range(28):
        day = dt.datetime(2024, 3, 1) + dt.timedelta(days=k)
        # first 21 days low values, then a hard shift to high values
        v = 10.0 if k < 21 else 90.0
        rows += [Row(ts=day, v=v)] * 20
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = {str(r["day"]): r for r in
           rolling_psi(df, "ts", "v", 0.0, 100.0, n_buckets=10,
                       window_days=7).collect()}
    assert out["2024-03-01"]["psi"] is None            # warm-up
    assert out["2024-03-14"]["psi"] == pytest.approx(0.0, abs=1e-6)
    assert out["2024-03-22"]["psi"] > 0.25             # shift flagged
    assert out["2024-03-22"]["n_obs"] == 140
    with pytest.raises(ValueError):
        rolling_psi(df, "ts", "v", 0.0, 100.0, window_days=0)


# ------------------------------------------------------ vocab coverage

def test_vocab_coverage_curve(spark):
    from schema_validata_spark.functions.text import vocab_coverage
    df = spark.createDataFrame(
        [Row(text="a a a a b b c")], "text string")
    out = {r["rank_k"]: r for r in
           vocab_coverage(df, "text", ranks=(1, 2, 10)).collect()}
    assert out[1]["covered"] == 4 and out[1]["total"] == 7
    assert out[1]["coverage"] == pytest.approx(4 / 7, abs=1e-6)
    assert out[2]["covered"] == 6
    assert out[10]["coverage"] == pytest.approx(1.0)
    assert out[10]["n_types"] == 3


# --------------------------------------------------- quantile normalize

def test_quantile_normalize_aligns_shifted_source(spark):
    from schema_validata_spark.operators.selection import \
        quantile_normalize
    # source "low" scores 0..9, source "high" scores 100..109: after
    # normalization, same within-source rank -> same normalized value
    rows = ([Row(id=i, g="low", s=float(i)) for i in range(10)]
            + [Row(id=100 + i, g="high", s=100.0 + i)
               for i in range(10)])
    df = spark.createDataFrame(rows, "id int, g string, s double")
    out = {r["id"]: r for r in
           quantile_normalize(df, "s", "g", "id").collect()}
    for i in range(10):
        assert out[i]["normalized"] == pytest.approx(
            out[100 + i]["normalized"], abs=1e-6)
    # the min of each source maps to the global min, max to global max
    assert out[0]["normalized"] == pytest.approx(0.0)
    assert out[109]["normalized"] == pytest.approx(109.0)
    assert out[0]["src_pctl"] == 0.0 and out[109]["src_pctl"] == 1.0


def test_quantile_normalize_single_row_group(spark):
    from schema_validata_spark.operators.selection import \
        quantile_normalize
    df = spark.createDataFrame(
        [Row(id=1, g="a", s=5.0), Row(id=2, g="b", s=1.0),
         Row(id=3, g="b", s=9.0)], "id int, g string, s double")
    out = {r["id"]: r for r in
           quantile_normalize(df, "s", "g", "id").collect()}
    # singleton group: percent_rank 0 -> global minimum
    assert out[1]["normalized"] == pytest.approx(1.0)


# -------------------------------------------------------- doc keywords

def test_doc_keywords_idf_zeroes_ubiquitous_terms(spark):
    from schema_validata_spark.functions.text import doc_keywords
    df = spark.createDataFrame(
        [Row(id=1, text="common alpha alpha"),
         Row(id=2, text="common beta"),
         Row(id=3, text="common gamma gamma gamma")],
        "id int, text string")
    out = {(r["id"], r["rank"]): r for r in
           doc_keywords(df, "text", "id", k=2).collect()}
    # 'common' appears in every doc: idf = ln(1) = 0 -> never rank 1
    assert out[(1, 1)]["token"] == "alpha"
    assert out[(3, 1)]["token"] == "gamma"
    assert out[(1, 1)]["score"] == pytest.approx(
        2 * __import__("math").log(3 / 1), abs=1e-6)
    assert out[(1, 2)]["score"] == pytest.approx(0.0)   # 'common'


# ------------------------------------------------------- jaccard sweep

def test_jaccard_sweep_counts_cutoffs(spark):
    from schema_validata_spark.operators.dedup import \
        jaccard_threshold_sweep
    pairs = spark.createDataFrame(
        [Row(jaccard=j) for j in (0.01, 0.07, 0.12, 0.5, 0.95)],
        "jaccard double")
    out = {r["threshold"]: r for r in
           jaccard_threshold_sweep(
               pairs, thresholds=(0.05, 0.1, 0.9)).collect()}
    assert out[0.05]["n_pairs"] == 4
    assert out[0.1]["n_pairs"] == 3
    assert out[0.9]["n_pairs"] == 1
    assert out[0.9]["share"] == pytest.approx(0.2)


# ----------------------------------------------------- hash uniformity

def test_hash_uniformity_healthy_and_excludes_nulls(spark):
    from schema_validata_spark.functions.sampling import hash_uniformity
    df = spark.range(4096).withColumnRenamed("id", "k") \
        .union(spark.createDataFrame([(None,)], "k bigint"))
    r = hash_uniformity(df, "k", prefix_len=2).collect()[0]
    assert r["n"] == 4096 and r["k"] == 256 and r["dof"] == 255
    # healthy hash: chi2 within a loose band around dof
    assert 150 < r["chi2"] < 400
    assert r["buckets_hit"] == 256
    with pytest.raises(ValueError):
        hash_uniformity(df, "k", prefix_len=0)


def test_hash_uniformity_degenerate_ids_flagged(spark):
    from schema_validata_spark.functions.sampling import hash_uniformity
    from pyspark.sql import functions as FF
    # constant id: everything lands in one bucket -> chi2 explodes
    df = spark.range(1000).select(FF.lit(7).alias("k"))
    r = hash_uniformity(df, "k", prefix_len=2).collect()[0]
    assert r["buckets_hit"] == 1 and r["max_share"] == 1.0
    assert r["chi2"] > 100_000


# ---------------------------------------------- quantile map accuracy

def test_quantile_map_accuracy_exact_on_edges(spark):
    from schema_validata_spark.operators.statqa import \
        quantile_map_accuracy
    # uniform 0..999: every probe that lands ON an equi-depth edge is
    # recovered exactly; interior probes interpolate within one bucket
    df = spark.range(1000).selectExpr("cast(id as double) AS v")
    out = {r["p"]: r for r in
           quantile_map_accuracy(df, "v", bins=4,
                                 probes=(0.25, 0.5, 0.6)).collect()}
    assert out[0.25]["abs_err"] == pytest.approx(0.0, abs=1e-5)
    assert out[0.5]["abs_err"] == pytest.approx(0.0, abs=1e-5)
    # 0.6 interpolates inside the (0.5, 0.75] bucket of a uniform
    # distribution -> still near-exact
    assert out[0.6]["abs_err"] < 2.0
    assert out[0.6]["rel_err"] < 0.005


def test_quantile_map_accuracy_flags_coarse_map_on_skew(spark):
    from pyspark.sql import functions as FF
    from schema_validata_spark.operators.statqa import \
        quantile_map_accuracy
    # heavy-tailed: v = exp(id/100) — a 2-bucket map cannot place p99
    df = spark.range(1000).select(
        FF.exp(FF.col("id").cast("double") / 100.0).alias("v"))
    r = {x["p"]: x for x in
         quantile_map_accuracy(df, "v", bins=2,
                               probes=(0.99,)).collect()}[0.99]
    # even equi-depth pays a visible price at p99 with 2 buckets (the
    # top bucket spans half the mass of an exponential); the audit
    # surfaces a non-trivial relative error where uniform data shows ~0
    assert r["rel_err"] > 0.05
    with pytest.raises(ValueError):
        quantile_map_accuracy(df, "v", probes=(1.5,))


# -------------------------------------------------------- dedup impact

def test_dedup_impact_cross_source_keeper_attribution(spark):
    from schema_validata_spark.operators.dedup import dedup_impact
    rows = [Row(id=1, text="same text here", src="clean"),
            Row(id=2, text="same  TEXT here ", src="mirror"),  # dup
            Row(id=3, text="unique alpha beta", src="mirror"),
            Row(id=4, text=None, src="clean")]
    df = spark.createDataFrame(rows, "id int, text string, src string")
    out = {r["group"]: r for r in
           dedup_impact(df, "text", "id", "src").collect()}
    clean, mirror = out["clean"], out["mirror"]
    # keeper (id=1) is in 'clean': clean loses nothing
    assert clean["n_docs"] == 2 and clean["n_docs_kept"] == 2
    assert clean["doc_dup_share"] == 0.0
    # mirror's copy (id=2) is the duplicate
    assert mirror["n_docs"] == 2 and mirror["n_docs_kept"] == 1
    assert mirror["doc_dup_share"] == pytest.approx(0.5)
    assert mirror["tokens"] == 6 and mirror["tokens_kept"] == 3
    assert mirror["token_dup_share"] == pytest.approx(0.5)
    # NULL text carries no tokens but counts as a (kept) doc
    assert clean["tokens"] == 3


# ---------------------------------------------------- label entropy

def test_label_entropy_per_key_hand_case(spark):
    from schema_validata_spark.operators.sequence import \
        label_entropy_per_key
    rows = ([Row(u="bot", v="ping")] * 8
            + [Row(u="human", v=x) for x in "abcdabcd"]
            + [Row(u=None, v="x")])
    df = spark.createDataFrame(rows, "u string, v string")
    out = {r["part"]: r for r in
           label_entropy_per_key(df, "u", "v").collect()}
    assert set(out) == {"bot", "human"}
    assert out["bot"]["entropy"] == pytest.approx(0.0)
    assert out["bot"]["n_labels"] == 1
    assert out["human"]["entropy"] == pytest.approx(2.0)   # 4 uniform


# ----------------------------------------------------- lang confusion

def test_lang_confusion_matrix(spark):
    from schema_validata_spark.functions.text import lang_confusion
    rows = [
        Row(lang="en", text="the cat and the dog is that for"),
        Row(lang="en", text="the quick fox is in that house for fun"),
        Row(lang="en", text="der hund ist nicht ein der die und"),  # DE!
        Row(lang="de", text="der hund und die katze ist nicht ein"),
        Row(lang=None, text="the dropped row"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    out = {(r["declared"], r["detected"]): r for r in
           lang_confusion(df, "text", "lang").collect()}
    assert out[("en", "en")]["n"] == 2
    assert not out[("en", "en")]["mismatch"]
    # the mislabeled German doc shows as en->de off-diagonal mass
    assert out[("en", "de")]["n"] == 1 and out[("en", "de")]["mismatch"]
    assert out[("en", "de")]["share_of_declared"] \
        == pytest.approx(1 / 3, abs=1e-6)
    assert out[("de", "de")]["share_of_declared"] == pytest.approx(1.0)
    assert ("None", "en") not in out          # NULL declared excluded


# ------------------------------------------------------- pii by group

def test_pii_by_group_rates_and_zero_rows(spark):
    from schema_validata_spark.functions.text import pii_by_group
    rows = [Row(src="dirty", text="mail me at a@b.com or c@d.org"),
            Row(src="dirty", text="nothing here"),
            Row(src="clean", text="totally fine"),
            Row(src=None, text="x@y.com dropped")]
    df = spark.createDataFrame(rows, "src string, text string")
    out = {(r["group"], r["pii_type"]): r for r in
           pii_by_group(df, "text", "src").collect()}
    em = out[("dirty", "email")]
    assert em["total_matches"] == 2 and em["docs_affected"] == 1
    assert em["doc_rate"] == pytest.approx(0.5)
    # zero rows are present, not missing
    assert out[("clean", "email")]["total_matches"] == 0
    assert out[("clean", "ssn")]["doc_rate"] == 0.0
    assert ("None", "email") not in out
    # every group emits one row per pattern
    assert len([k for k in out if k[0] == "dirty"]) == 4
