"""Round-9 regression tests: the ADVICE r8 fixes (sparse-table chi2
densification, PSI/calibration negative-bin clamps, non-integral
score_max, Column-API quantile-normalize windows)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_chi2_sparse_table_includes_zero_cells(spark):
    from event_streaming_service_spark.operators.anomaly import (
        chi2_independence)

    # (b, y) never observed: margins rt(a)=8, rt(b)=4, ct(x)=10,
    # ct(y)=2, N=12 -> E(b,y) = 4*2/12 = 2/3 and the zero cell
    # contributes (0-E)^2/E = E = 2/3 to chi2. Computing only over
    # observed cells would understate the statistic by that term.
    rows = ([("a", "x")] * 6 + [("a", "y")] * 2 + [("b", "x")] * 4)
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(r["row_value"], r["col_value"]): r
           for r in chi2_independence(
               df, F.col("r"), F.col("c")).collect()}
    assert len(out) == 4  # dense 2x2 grain, not the 3 observed cells
    zero = out[("b", "y")]
    assert zero["observed"] == 0
    assert zero["expected_micro"] == math.floor(2 / 3 * 1e6 + 0.5)
    assert zero["term_micro"] == math.floor(2 / 3 * 1e6 + 0.5)
    # chi2 is the sum over ALL four cells (exact rational check:
    # E(a,x)=20/3, E(a,y)=4/3, E(b,x)=10/3, E(b,y)=2/3)
    terms = {
        ("a", "x"): (6 - 20 / 3) ** 2 / (20 / 3),
        ("a", "y"): (2 - 4 / 3) ** 2 / (4 / 3),
        ("b", "x"): (4 - 10 / 3) ** 2 / (10 / 3),
        ("b", "y"): 2 / 3,
    }
    expect_chi2 = sum(math.floor(t * 1e6 + 0.5) for t in terms.values())
    for r in out.values():
        assert r["term_micro"] == math.floor(
            terms[(r["row_value"], r["col_value"])] * 1e6 + 0.5)
        assert r["chi2_micro"] == expect_chi2
        assert r["dof"] == 1


def test_psi_negative_values_clamp_to_bin_zero(spark):
    from event_streaming_service_spark.operators.anomaly import (
        psi_drift)

    # A negative value used to produce bin -1, which the dense-spine
    # left join silently dropped from the counts AND the totals.
    rows = [(1, "g", -10.0), (2, "g", 5.0), (3, "g", 120.0),
            (4, "g", -0.5), (5, "g", 480.0), (6, "g", 9999.0)]
    df = spark.createDataFrame(rows, "event_id bigint, t string, value double")
    out = psi_drift(df, "t", "value", (F.col("event_id") % 2 == 1)
                    ).collect()
    assert {r["bin"] for r in out} == set(range(10))
    # every row is counted: 3 odd ids in period b, 3 even in period a
    assert sum(r["cnt_a"] for r in out) == 3
    assert sum(r["cnt_b"] for r in out) == 3
    # the two negatives (ids 1, 4) clamp into bin 0 alongside 5.0 (id 2)
    b0 = next(r for r in out if r["bin"] == 0)
    assert b0["cnt_a"] + b0["cnt_b"] == 3


def test_calibration_non_integral_score_max_and_clamp(spark):
    from event_streaming_service_spark.operators.analytics import (
        calibration_bins)

    # probability-style scores with score_max = 0.5: int() truncation
    # would divide by zero; micro-unit DIV keeps conf exact. The
    # negative score clamps into bin 0 instead of vanishing into a
    # negative bin.
    rows = ([(0.1, "p")] * 2 + [(0.1, "n")] * 8
            + [(0.4, "p")] * 8 + [(0.4, "n")] * 2
            + [(-0.2, "n")])
    df = spark.createDataFrame(rows, "value double, lbl string")
    out = {r["bin"]: r for r in calibration_bins(
        df, "value", F.col("lbl") == "p", score_max=0.5).collect()}
    # 0.1 / 0.5 = 200000 ppm; 0.4 / 0.5 = 800000 ppm
    assert out[8]["conf_ppm"] == 800_000
    assert out[8]["rate_ppm"] == 800_000
    # bin 0 holds the clamped -0.2 row: mean_micro = (-200000) DIV 1
    assert out[0]["n_rows"] == 1
    # bin 2 = scores 0.1 (bin floor(0.1 * 20) = 2)
    assert out[2]["conf_ppm"] == 200_000

    with pytest.raises(ValueError):
        calibration_bins(df, "value", F.col("lbl") == "p",
                         score_max=0.0)
    with pytest.raises(ValueError):
        calibration_bins(df, "value", F.col("lbl") == "p",
                         score_max=-1.0)


def test_quantile_normalize_handles_backtick_names(spark):
    from event_streaming_service_spark.operators.analytics import (
        quantile_normalize)

    # column names that need backticks (spaces) broke the old
    # interpolated-SQL window; the Column API binds them correctly
    rows = ([(i, "a", float(i)) for i in range(1, 6)]
            + [(10 + i, "b", 100.0 + i) for i in range(1, 6)])
    df = (spark.createDataFrame(
        rows, "event_id bigint, g string, value double")
        .withColumnRenamed("event_id", "id col")
        .withColumnRenamed("g", "group name"))
    out = quantile_normalize(df, "group name", "value", "id col")
    by_grp = {}
    for r in out.collect():
        by_grp.setdefault(r["group name"], []).append(r["qnorm_cents"])
    assert sorted(by_grp["a"]) == sorted(by_grp["b"])
    assert min(by_grp["a"]) == 100
    assert max(by_grp["a"]) == 10500


def test_auc_decimal_survives_wide_key(spark):
    from event_streaming_service_spark.operators.analytics import (
        auc_binary)

    # 5M rows on ONE key with perfect separation: the pre-decimal
    # bigint form ((sr2 - n_pos*(n_pos+1)) * 1e6) wraps past ~4.3M
    # rows per key (sr2 ~ n^2); DECIMAL(38,0) keeps AUC exact at 1.0.
    n = 5_000_000
    df = (spark.range(n)
          .select(F.lit(1).alias("k"),
                  F.col("id").cast("double").alias("value"),
                  (F.col("id") >= n // 2).alias("lbl")))
    r = auc_binary(df, "k", "value", F.col("lbl")).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (n - n // 2, n // 2)
    assert r["auc_ppm"] == 1_000_000


def test_bpe_learn_merges_textbook_example(spark):
    from event_streaming_service_spark.operators.curation import (
        bpe_learn_merges)

    # the Sennrich et al. walkthrough corpus: low, lower, lowest.
    # pair counts round 1: (l,o)=3 (o,w)=3 (w,e)=2 (e,r)=1 (e,s)=1
    # (s,t)=1 -> tie 3/3 broken lhs asc -> (l,o); then (lo,w)=3,
    # (low,e)=2, then all-1 tie -> (lowe,r) by lhs/rhs asc.
    df = spark.createDataFrame(
        [(1, "low lower lowest")], "doc_id bigint, text string")
    out = {r["merge_rank"]: (r["lhs"], r["rhs"], r["pair_count"])
           for r in bpe_learn_merges(df, n_merges=4).collect()}
    assert out[1] == ("l", "o", 3)
    assert out[2] == ("lo", "w", 3)
    assert out[3] == ("low", "e", 2)
    assert out[4] == ("lowe", "r", 1)


def test_bpe_merge_application_is_nonoverlapping(spark):
    from event_streaming_service_spark.operators.curation import (
        bpe_learn_merges)

    # 'aaa' must merge leftmost-non-overlapping: (a,a) count 2 from
    # 'aaa' + 2 from 'aa' x2 -> merge1 = (a,a,4); applying it to 'aaa'
    # yields [aa, a] (NOT [aa, aa]), so round 2 sees (aa,a)=1 from
    # 'aaa' and no pair from 'aa' -> merge2 = (aa, a, 1).
    df = spark.createDataFrame(
        [(1, "aaa aa aa")], "doc_id bigint, text string")
    out = {r["merge_rank"]: (r["lhs"], r["rhs"], r["pair_count"])
           for r in bpe_learn_merges(df, n_merges=2).collect()}
    assert out[1] == ("a", "a", 4)
    assert out[2] == ("aa", "a", 1)


def test_langid_confusion_separable_corpus(spark):
    from event_streaming_service_spark.operators.text import (
        langid_ngram_confusion)

    # two languages with disjoint trigram inventories classify
    # perfectly; a doc below 3 chars is excluded entirely
    rows = ([(i, "xx", "abcabcabc") for i in range(4)]
            + [(10 + i, "yy", "zyxzyxzyx") for i in range(4)]
            + [(99, "xx", "ab")])
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    out = {(r["true_lang"], r["pred_lang"]): r["n_docs"]
           for r in langid_ngram_confusion(df).collect()}
    assert out == {("xx", "xx"): 4, ("yy", "yy"): 4}


def test_neyman_allocation_math(spark):
    from event_streaming_service_spark.operators.sampling import (
        neyman_stratified_sample)

    # stratum a: constant values -> w=0 -> floor allocation of 1;
    # stratum b: spread values -> earns the rest of the budget
    rows = ([(i, "a", 10) for i in range(1, 21)]
            + [(100 + i, "b", 10 * i) for i in range(1, 21)])
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    out = neyman_stratified_sample(df, "lang", "n_chars", "doc_id",
                                   total_n=10).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r)
    assert len(by["a"]) == 1          # zero-variance stratum keeps 1
    assert by["a"][0]["w_h"] == 0
    assert len(by["b"]) == 10         # 10 * w_b DIV w_b = 10
    assert all(r["alloc_n"] == 10 for r in by["b"])
    # pick order is rank-contiguous and deterministic
    assert sorted(r["pick_rank"] for r in by["b"]) == list(range(1, 11))


def test_beam_search_complete_graph_equals_bruteforce(spark):
    from event_streaming_service_spark.operators.similarity import (
        beam_search_topk, cosine_topk)

    # with graph degree >= corpus-1 the proximity graph is complete,
    # so one hop visits every node and beam search MUST reproduce the
    # exact brute-force top-k (same rounding, same tiebreak)
    import math
    rows = [(i, [math.cos(0.3 * i + 0.1 * j) for j in range(8)], 0)
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    exact = cosine_topk(df.filter(F.col("vec_id") < 3), df, 4)
    beam = beam_search_topk(df, k=4, n_query=3, graph_m=11,
                            beam_width=12, hops=1)
    e = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, beam.collect()))
    assert e == b


def test_beam_search_visits_scale_with_beam_not_corpus(spark):
    from event_streaming_service_spark.operators.similarity import (
        beam_search_topk)

    # a narrow beam on a bigger corpus returns exactly k rows per
    # query and only ever ranks visited nodes: results are a subset of
    # entry + 3 hops of degree-4 expansion (<= 1 + 4 + ... bounded)
    import math
    rows = [(i, [math.sin(0.17 * i + 0.05 * j) for j in range(8)], 0)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    out = beam_search_topk(df, k=3, n_query=2, graph_m=4,
                           beam_width=3, hops=3)
    rows_out = out.collect()
    per_q = {}
    for r in rows_out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1}
    for q, rs in per_q.items():
        assert len(rs) == 3
        assert all(r["neighbor_id"] != q for r in rs)
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] \
            == [1, 2, 3]


def test_cuped_known_values(spark):
    from event_streaming_service_spark.operators.analytics import (
        cuped_adjusted_means)

    # y = 2x + variant-lift: the adjusted means strip the covariate
    # imbalance. Exact hand check: units (variant, x, y): A gets
    # x {1,2,3} y=2x; B gets x {4,5,6} y=2x+1. Pooled: n=6 sx=21
    # sy=45 sxy=197 sxx=91 syy=427.
    # cov = 6*197-21*45 = 237; vx = 6*91-441 = 105; theta = 237/105
    # xbar=3.5; A: ybar=4, xbar_v=2 -> adj = 4 + (237/105)*1.5
    # B: ybar=11, xbar_v=5 -> adj = 11 - (237/105)*1.5
    # vy = 6*427-2025 = 537; rho^2 = 237^2/(105*537)
    rows = [("A", 1, 2), ("A", 2, 4), ("A", 3, 6),
            ("B", 4, 9), ("B", 5, 11), ("B", 6, 13)]
    df = spark.createDataFrame(rows, "variant string, x bigint, y bigint")
    out = {r["variant"]: r for r in cuped_adjusted_means(
        df, "variant", "x", "y").collect()}
    assert out["A"]["n_units"] == 3
    assert out["A"]["theta"] == round(237 / 105, 6)
    assert out["A"]["mean_y"] == 4.0
    assert out["A"]["mean_y_adj"] == round(4 + 237 / 105 * 1.5, 6)
    assert out["B"]["mean_y_adj"] == round(11 - 237 / 105 * 1.5, 6)
    # the adjusted gap (0.228571) is far smaller than the raw gap (7):
    # the covariate explained most of the difference
    assert abs(out["B"]["mean_y_adj"] - out["A"]["mean_y_adj"]) < 0.25
    assert out["A"]["var_reduction_ppm"] == math.floor(
        237 * 237 / (105 * 537) * 1e6 + 0.5)


def test_markov_stationary_absorbing_chain(spark):
    from event_streaming_service_spark.operators.analytics import (
        markov_stationary)

    # a -> b always, b -> b always: all mass drains into b.
    # pi0 = (1e9, 1e9); after 1 round: a=0, b=2e9; stays.
    trans = spark.createDataFrame(
        [("a", "b", 5), ("b", "b", 7)],
        "prev string, next string, cnt bigint")
    out = {r["state"]: r["pi_nano"] for r in markov_stationary(
        trans, "prev", "next", "cnt", iterations=3).collect()}
    assert out == {"a": 0, "b": 2_000_000_000}


def test_markov_stationary_two_cycle(spark):
    from event_streaming_service_spark.operators.analytics import (
        markov_stationary)

    # a <-> b swap chain: mass ping-pongs, totals conserved exactly
    # (weights divide evenly: 1 outgoing edge each)
    trans = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 4)],
        "prev string, next string, cnt bigint")
    out = {r["state"]: r["pi_nano"] for r in markov_stationary(
        trans, "prev", "next", "cnt", iterations=4).collect()}
    assert out == {"a": 1_000_000_000, "b": 1_000_000_000}


def test_kaplan_meier_textbook(spark):
    import math
    from event_streaming_service_spark.operators.analytics import (
        kaplan_meier)

    # durations: events at day 1 (1 of 5 at risk) and day 3 (1 of 3),
    # censored at day 2 and day 4, plus one censored at day 1.
    # risk sets: day1 n=5 (d=1,c=1), day2 n=3 (c=1), day3 n=2 (d=1),
    # day4 n=1 (c=1). S(1)=4/5, S(3)=4/5*1/2.
    rows = [(1, 1), (1, 0), (2, 0), (3, 1), (4, 0)]
    df = spark.createDataFrame(rows, "day bigint, ev int")
    out = {r["day"]: r for r in kaplan_meier(df, "day", "ev").collect()}
    assert out[1]["n_risk"] == 5 and out[1]["n_events"] == 1
    assert out[2]["n_risk"] == 3 and out[2]["n_censored"] == 1
    assert out[3]["n_risk"] == 2
    t1 = math.floor(math.log(4 / 5) * 1e9 + 0.5)
    t3 = math.floor(math.log(1 / 2) * 1e9 + 0.5)
    assert out[1]["term_nano"] == t1
    assert out[2]["term_nano"] == 0          # censor-only day: ln(1)
    assert out[3]["term_nano"] == t3
    assert out[3]["cum_log_surv_nano"] == t1 + 0 + t3


def test_kaplan_meier_exhausted_risk_set_is_null(spark):
    from event_streaming_service_spark.operators.analytics import (
        kaplan_meier)

    # final day kills everyone at risk: n = d -> survival 0, term and
    # cum report NULL instead of a fake -inf pin
    rows = [(1, 1), (2, 1), (2, 1)]
    df = spark.createDataFrame(rows, "day bigint, ev int")
    out = {r["day"]: r for r in kaplan_meier(df, "day", "ev").collect()}
    assert out[2]["n_risk"] == 2 and out[2]["n_events"] == 2
    assert out[2]["term_nano"] is None
    assert out[2]["cum_log_surv_nano"] is None
    assert out[1]["term_nano"] is not None


def test_containment_catches_doc_in_doc(spark):
    from event_streaming_service_spark.operators.dedup import (
        containment_pairs, jaccard_pairs)

    # doc 1 is fully quoted inside the much larger doc 2: containment
    # 1 -> 2 is 1.0 while Jaccard dilutes far below 0.5. Doc 3 is
    # unrelated.
    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [(1, quote), (2, quote + " " + filler),
            (3, "zeta eta theta iota kappa lambda")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["src_doc"], r["dst_doc"]): r
           for r in containment_pairs(df, 800_000).collect()}
    assert (1, 2) in out
    assert out[(1, 2)]["containment_ppm"] == 1_000_000
    assert (2, 1) not in out          # asymmetric: 2 is not inside 1
    assert all(src != 3 and dst != 3 for src, dst in out)
    jac = jaccard_pairs(df, 0.5).collect()
    assert not any({r["doc_a"], r["doc_b"]} == {1, 2} for r in jac)


def test_theil_sen_robust_to_outlier(spark):
    from event_streaming_service_spark.operators.analytics import (
        theil_sen_trend)

    # values climb exactly 1 cent-unit (=100 milli) per hour; one
    # wild outlier at t=3 leaves the pairwise-slope MEDIAN untouched
    # (OLS would be dragged far off 100)
    rows = [(i, 1, f"2024-01-01 0{i}:00:00",
             float(i) if i != 3 else 1000.0) for i in range(1, 8)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, value double")
        .withColumn("ts", F.to_timestamp("ts")))
    r = theil_sen_trend(df, "user_id", "ts", "value",
                        "event_id").collect()[0]
    assert r["n_pairs"] == 21
    # slope 1.0 value/hour = 100 cents/hour = 100000 milli-cph
    assert r["theil_sen_milli_cph"] == 100_000.0


def test_theil_sen_cap_bounds_pairs(spark):
    from event_streaming_service_spark.operators.analytics import (
        theil_sen_trend)

    rows = [(i, 1, f"2024-01-01 00:{i:02d}:00", float(i))
            for i in range(30)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, value double")
        .withColumn("ts", F.to_timestamp("ts")))
    r = theil_sen_trend(df, "user_id", "ts", "value", "event_id",
                        max_events_per_key=10).collect()[0]
    assert r["n_pairs"] == 45  # C(10, 2), not C(30, 2)


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from event_streaming_service_spark.operators.analytics import (
        bootstrap_mean_ci)

    rows = [(i, "t", float(100 + (i % 7))) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id bigint, grp string, value double")
    out1 = bootstrap_mean_ci(df, "grp", "value", "event_id").collect()
    out2 = bootstrap_mean_ci(
        df.repartition(7), "grp", "value", "event_id").collect()
    assert out1 == out2          # content-hash resamples: partition-proof
    r = out1[0]
    assert r["n_rows"] == 400
    assert r["ci_lo_micro"] <= r["mean_micro"] <= r["ci_hi_micro"]
    # micro-CENT units: mean = 102.9925 -> 10_299_250_000; the CI is
    # tight (sub-cent) around it for this near-constant sample
    assert r["mean_micro"] == 10_299_250_000
    assert r["ci_hi_micro"] - r["ci_lo_micro"] < 100_000_000


def test_ols2_recovers_planted_coefficients(spark):
    from event_streaming_service_spark.operators.analytics import (
        ols2_regression)

    # exact plant: y = 7 + 3*x1 - 2*x2 over a full (x1, x2) grid;
    # integer y with y_scale=1 -> Cramer recovers the coefficients
    # EXACTLY (zero residual, determinants exact integers)
    rows = [("g", x1, x2, float(7 + 3 * x1 - 2 * x2))
            for x1 in range(5) for x2 in range(4)]
    df = spark.createDataFrame(rows, "grp string, x1 int, x2 int, y double")
    r = ols2_regression(df, "grp", "x1", "x2", "y",
                        y_scale=1).collect()[0]
    assert r["n_points"] == 20
    assert (r["beta0"], r["beta_x1"], r["beta_x2"]) == (7.0, 3.0, -2.0)


def test_ols2_singular_emits_null(spark):
    from event_streaming_service_spark.operators.analytics import (
        ols2_regression)

    # x2 = 2*x1 exactly -> X'X singular -> NULL coefficients
    rows = [("g", i, 2 * i, float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "grp string, x1 int, x2 int, y double")
    r = ols2_regression(df, "grp", "x1", "x2", "y").collect()[0]
    assert r["beta0"] is None and r["beta_x1"] is None \
        and r["beta_x2"] is None


def test_gini_known_distributions(spark):
    from event_streaming_service_spark.operators.analytics import (
        gini_concentration)

    # perfectly equal values -> G = (2*S_r - (n+1)*S)/(n*S) with
    # S_r = S*(n+1)/2 -> 0; one key holding everything -> (n-1)/n
    rows = ([("eq", i, 10.0) for i in range(1, 5)]
            + [("one", 1, 40.0)] + [("one", i, 0.0) for i in range(2, 5)])
    df = spark.createDataFrame(rows, "grp string, k bigint, v double")
    out = {r["grp"]: r for r in gini_concentration(
        df, "grp", "v", "k").collect()}
    assert out["eq"]["gini_ppm"] == 0
    assert out["one"]["gini_ppm"] == 750_000          # (n-1)/n, n=4
    assert out["one"]["total_cents"] == 4000


def test_fano_poisson_vs_bursty(spark):
    from event_streaming_service_spark.query_defs.trend_queries import (
        _dense_hourly_counts)

    # constant series (1 event every hour) -> variance 0 -> fano 0;
    # bursty series (all mass in one hour of four) -> fano = var/mean
    # = (n*scc - sc^2)/(n*sc) = (4*16 - 16)/(4*4) = 3.0
    base = 1_600_000_000_000
    rows = ([(base + h * 3_600_000, "flat") for h in range(4)]
            + [(base + 0 * 3_600_000, "burst")] * 4)
    df = spark.createDataFrame(
        [(ms, t) for ms, t in rows], "ms bigint, event_type string")
    from event_streaming_service_spark.functions.scalars import (
        millis_to_ts)
    ev = df.select(millis_to_ts(F.col("ms")).alias("ts"), "event_type")
    dense = _dense_hourly_counts(ev)
    dec = "decimal(38,0)"
    m = (dense.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast(dec).alias("__n"),
              F.sum("cnt").cast(dec).alias("__sc"),
              F.sum(F.col("cnt").cast(dec) * F.col("cnt"))
              .cast(dec).alias("__scc")))
    out = {r["event_type"]: r for r in m.select(
        "event_type",
        F.expr("CAST((__n * __scc - __sc * __sc) * 1000000"
               " DIV (__n * __sc) AS BIGINT)").alias("fano_ppm"),
        F.col("__n").cast("bigint").alias("n_hours")).collect()}
    # both types densify onto the SHARED 4-hour spine
    assert out["flat"]["n_hours"] == 4
    assert out["burst"]["n_hours"] == 4
    assert out["flat"]["fano_ppm"] == 0
    assert out["burst"]["fano_ppm"] == 3_000_000


def test_dense_hourly_spine_fills_gaps(spark):
    from event_streaming_service_spark.functions.scalars import (
        millis_to_ts)
    from event_streaming_service_spark.query_defs.trend_queries import (
        _dense_hourly_counts)

    # events at hours 0 and 3 only -> spine emits hours 1, 2 as zeros
    base = 1_600_000_000_000
    df = spark.createDataFrame(
        [(base, "a"), (base + 3 * 3_600_000, "a")], "ms bigint, t string")
    ev = df.select(millis_to_ts(F.col("ms")).alias("ts"),
                   F.col("t").alias("event_type"))
    rows = sorted((r["h"], r["cnt"])
                  for r in _dense_hourly_counts(ev).collect())
    assert [c for _, c in rows] == [1, 0, 0, 1]


def test_ks_two_sample_known_distributions(spark):
    from event_streaming_service_spark.operators.anomaly import (
        ks_two_sample)

    # a = {1,2,3,4}, b = {3,4,5,6}: max ECDF gap is 1/2, first
    # reached at v=2 (gap 8 over the common denominator 4*4=16)
    rows = ([("g", 0, float(v)) for v in (1, 2, 3, 4)]
            + [("g", 1, float(v)) for v in (3, 4, 5, 6)])
    df = spark.createDataFrame(rows, "grp string, p int, value double")
    r = ks_two_sample(df, "grp", "value",
                      F.col("p") == 1).collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert r["ks_d_ppm"] == 500_000
    assert r["at_v_cents"] == 200


def test_ks_identical_samples_zero(spark):
    from event_streaming_service_spark.operators.anomaly import (
        ks_two_sample)

    rows = [("g", p, float(v)) for p in (0, 1) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "grp string, p int, value double")
    r = ks_two_sample(df, "grp", "value", F.col("p") == 1).collect()[0]
    assert r["ks_d_ppm"] == 0


def test_ks_missing_period_null(spark):
    from event_streaming_service_spark.operators.anomaly import (
        ks_two_sample)

    df = spark.createDataFrame(
        [("g", 0, 1.0), ("g", 0, 2.0)], "grp string, p int, value double")
    r = ks_two_sample(df, "grp", "value", F.col("p") == 1).collect()[0]
    assert r["ks_d_ppm"] is None


def test_spearman_known_values(spark):
    from event_streaming_service_spark.operators.analytics import (
        spearman_corr)

    # permutation ranks: x=1..5, y=(2,1,4,3,5) -> rho = 1 - 6*4/120
    rows = list(zip([1, 2, 3, 4, 5], [2, 1, 4, 3, 5]))
    df = spark.createDataFrame(
        [("g", float(x), float(y)) for x, y in rows],
        "grp string, x double, y double")
    r = spearman_corr(df, "x", "y", group_cols=["grp"]).collect()[0]
    assert r["n_points"] == 5
    assert abs(r["spearman_rho"] - 0.8) < 1e-9


def test_spearman_monotone_nonlinear_is_one(spark):
    from event_streaming_service_spark.operators.analytics import (
        spearman_corr)

    # y = x^3: nonlinear but strictly monotone -> rho exactly 1
    df = spark.createDataFrame(
        [("g", float(x), float(x ** 3)) for x in range(1, 8)],
        "grp string, x double, y double")
    r = spearman_corr(df, "x", "y", group_cols=["grp"]).collect()[0]
    assert r["spearman_rho"] == 1.0


def test_spearman_ties_average_rank(spark):
    from event_streaming_service_spark.operators.analytics import (
        spearman_corr)

    # x = (1,1,2) -> avg ranks (1.5,1.5,3); y = (1,2,3) -> (1,2,3);
    # Pearson over those ranks = 6/sqrt(48)
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 1.0, 2.0), ("g", 2.0, 3.0)],
        "grp string, x double, y double")
    r = spearman_corr(df, "x", "y", group_cols=["grp"]).collect()[0]
    import math
    assert abs(r["spearman_rho"] - 6 / math.sqrt(48)) < 1e-9


def test_mixture_weights_flatten_token_mass(spark, tmp_path):
    import event_streaming_service_spark.query_defs.curation_queries as cq

    # two langs, 3:1 token mass -> weights 2/3 and 2; resampled mass
    # equalizes at total/k = 200 tokens each (minus DIV truncation)
    docs = spark.createDataFrame(
        [(1, " ".join(["a"] * 300), "en", "s", 1),
         (2, " ".join(["b"] * 100), "de", "s", 1)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint")
    import os
    p = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(p)
    # load_table reads <sf_dir>/documents.parquet
    out = {r["lang"]: r for r in
           cq.q_mixture_weights(spark, str(tmp_path)).collect()}
    assert out["en"]["lang_tokens"] == 300
    assert out["en"]["share_ppm"] == 750_000
    assert out["en"]["weight_ppm"] == 666_666          # 400/(2*300)
    assert out["de"]["weight_ppm"] == 2_000_000        # 400/(2*100)
    assert out["en"]["resampled_tokens"] == 199        # truncation
    assert out["de"]["resampled_tokens"] == 200


def test_hits_one_round_hand_computed(spark):
    from event_streaming_service_spark.operators.graph import hits

    # c1->s1, c2->s1, c2->s2. Round 1:
    #   auth raw: s1=2e9, s2=1e9, tot=3e9 -> s1=666666666, s2=333333333
    #   hub  raw: c1=666666666, c2=999999999, tot=1666666665
    #           -> c1=400000000, c2=600000000 (the c2 DIV is exact)
    edges = spark.createDataFrame(
        [("c1", "s1"), ("c2", "s1"), ("c2", "s2")], "src string, dst string")
    out = {r["node"]: r for r in hits(edges, iterations=1).collect()}
    assert out["s1"]["auth_nano"] == 666_666_666
    assert out["s2"]["auth_nano"] == 333_333_333
    assert out["c1"]["auth_nano"] == 0 and out["c2"]["auth_nano"] == 0
    assert out["c1"]["hub_nano"] == 400_000_000
    assert out["c2"]["hub_nano"] == 600_000_000
    assert out["s1"]["hub_nano"] == 0 and out["s2"]["hub_nano"] == 0


def test_lpa_two_cliques_with_bridge(spark):
    from event_streaming_service_spark.operators.graph import (
        label_propagation)

    # two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10.
    # Hand-traced synchronous rounds (min-label tiebreak):
    #   r1: 1->2 2->1 3->1 10->3 11->10 12->10
    #   r2: 1->1 2->1 3->1 10->10 11->3 12->3
    #   r3: 1->1 2->1 3->1 10->3  11->3 12->3
    # -> left clique = {1}; the right clique coheres on the label 3
    # that crossed the bridge (still one community, disjoint from
    # the left), sizes 3 + 3
    tri = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12),
           (3, 10)]
    edges = spark.createDataFrame(tri, "a bigint, b bigint")
    out = {r["node"]: r for r in
           label_propagation(edges, rounds=3).collect()}
    assert {out[n]["community"] for n in (1, 2, 3)} == {1}
    assert {out[n]["community"] for n in (10, 11, 12)} == {3}
    assert out[1]["community_size"] == 3
    assert out[10]["community_size"] == 3


def test_lpa_tie_breaks_to_min_label(spark):
    from event_streaming_service_spark.operators.graph import (
        label_propagation)

    # node 5's neighbors {1, 9} each appear once -> adopts min(1, 9)
    edges = spark.createDataFrame([(1, 5), (5, 9)], "a bigint, b bigint")
    out = {r["node"]: r["community"] for r in
           label_propagation(edges, rounds=1).collect()}
    assert out[5] == 1
    # 1 and 9 each have the single neighbor 5
    assert out[1] == 5 and out[9] == 5


def test_mutual_knn_reciprocity(spark):
    from event_streaming_service_spark.operators.similarity import (
        cosine_topk)

    # colinear pair (1,2) reciprocate; 3 points at 1 but is nobody's
    # top-1 back (1's nearest is its duplicate 2)
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    top1 = cosine_topk(emb, emb, 1).select(
        "query_id", "neighbor_id", "cosine")
    x, y = top1.alias("x"), top1.alias("y")
    pairs = (x.join(y, (F.col("x.neighbor_id") == F.col("y.query_id"))
                    & (F.col("y.neighbor_id") == F.col("x.query_id"))
                    & (F.col("x.query_id") < F.col("y.query_id")))
             .select(F.col("x.query_id").alias("id_a"),
                     F.col("y.query_id").alias("id_b"))).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_mann_kendall_known_series(spark):
    from event_streaming_service_spark.operators.analytics import (
        mann_kendall_trend)

    base = 1_600_000_000_000
    # strictly rising 5-point series: S = C(5,2) = 10, tau = 1
    up = [(1, base + i * 1000, float(i)) for i in range(5)]
    # one dip: values 0,1,9,2,3 -> hand count S = 6 - 2 = ... compute
    # pairs of (0,1,9,2,3): concordant: (0,1)(0,9)(0,2)(0,3)(1,9)(1,2)
    # (1,3)(2,3)=8, discordant: (9,2)(9,3)=2 -> S=6, tau=600000
    dip = [(2, base + i * 1000, float(v))
           for i, v in enumerate([0, 1, 9, 2, 3])]
    from event_streaming_service_spark.functions.scalars import (
        millis_to_ts)
    df = (spark.createDataFrame(up + dip,
                                "user_id bigint, ms bigint, value double")
          .select("user_id", millis_to_ts(F.col("ms")).alias("ts"),
                  "value",
                  F.col("ms").alias("event_id")))
    out = {r["user_id"]: r for r in mann_kendall_trend(
        df, "user_id", "ts", "value", "event_id").collect()}
    assert out[1]["n_pairs"] == 10
    assert out[1]["s_stat"] == 10
    assert out[1]["tau_ppm"] == 1_000_000
    assert out[2]["s_stat"] == 6
    assert out[2]["tau_ppm"] == 600_000


def test_mann_kendall_negative_trend_truncates_toward_zero(spark):
    from event_streaming_service_spark.operators.analytics import (
        mann_kendall_trend)
    from event_streaming_service_spark.functions.scalars import (
        millis_to_ts)

    base = 1_600_000_000_000
    # values 2,1,0,1: pairs (2,1)(2,0)(2,1)(1,0)(1,1)(0,1) ->
    # s = -1-1-1-1+0+1 = -3, n_pairs 6, tau = -sign*[3e6//6] = -500000
    rows = [(1, base + i * 1000, float(v))
            for i, v in enumerate([2, 1, 0, 1])]
    df = (spark.createDataFrame(rows,
                                "user_id bigint, ms bigint, value double")
          .select("user_id", millis_to_ts(F.col("ms")).alias("ts"),
                  "value", F.col("ms").alias("event_id")))
    r = mann_kendall_trend(df, "user_id", "ts", "value",
                           "event_id").collect()[0]
    assert (r["n_pairs"], r["s_stat"], r["tau_ppm"]) == (6, -3, -500_000)
