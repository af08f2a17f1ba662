"""Funnel / cohort-retention / expectations operator tests."""

import pytest
from datetime import datetime

from pyspark.sql import functions as F

from parquet_on_fhir_spark.operators.analytics import cohort_retention, funnel


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


@pytest.mark.slow
def test_funnel_enforces_order(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        # u1 completes all three in order
        (1, datetime(2024, 1, 1, 0), "view"),
        (1, datetime(2024, 1, 1, 1), "click"),
        (1, datetime(2024, 1, 1, 2), "purchase"),
        # u2: click BEFORE the first view — click must not count
        (2, datetime(2024, 1, 1, 0), "click"),
        (2, datetime(2024, 1, 1, 1), "view"),
        # u3: never views — not in the funnel at all
        (3, datetime(2024, 1, 1, 0), "purchase"),
        # u4: view then purchase, no click — purchase must not count
        (4, datetime(2024, 1, 1, 0), "view"),
        (4, datetime(2024, 1, 1, 1), "purchase"),
    ]
    out = {r.user_id: r for r in funnel(
        _ev(spark, rows),
        [("view", F.col("event_type") == "view"),
         ("click", F.col("event_type") == "click"),
         ("purchase", F.col("event_type") == "purchase")],
    ).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].furthest_step == 3
    assert out[2].furthest_step == 1 and out[2].t_click is None
    assert out[4].furthest_step == 1 and out[4].t_purchase is None


def test_cohort_retention_offsets(spark):
    rows = [
        (1, datetime(2024, 1, 1), "view"),    # cohort week 0
        (1, datetime(2024, 1, 9), "view"),    # active week 1
        (1, datetime(2024, 1, 16), "view"),   # active week 2
        (2, datetime(2024, 1, 2), "view"),    # same cohort week
        (3, datetime(2024, 1, 9), "view"),    # later cohort
    ]
    out = {(str(r.cohort), r.period_offset): r.n_users
           for r in cohort_retention(_ev(spark, rows), "1 week").collect()}
    # offsets 0/1/2 for the first cohort; cohort sizes at offset 0
    offsets = sorted(k[1] for k in out)
    assert offsets == [0, 0, 1, 2]
    zero_counts = sorted(v for k, v in out.items() if k[1] == 0)
    assert zero_counts == [1, 2]
    assert all(v >= 1 for v in out.values())


def test_check_expectations_single_pass(spark):
    from parquet_on_fhir_spark.operators.text import check_expectations

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c")], "id long, s string"
    )
    out = {r.rule: r for r in check_expectations(df, {
        "id_set": F.col("id").isNotNull(),
        "s_set": F.col("s").isNotNull(),
        "always": F.lit(True),
    }).collect()}
    assert out["id_set"].n_violations == 1 and not out["id_set"].ok
    assert out["s_set"].n_violations == 1
    assert out["always"].n_violations == 0 and out["always"].ok
    assert all(r.n_rows == 3 for r in out.values())
    assert abs(out["id_set"].pass_rate - 2 / 3) < 1e-9


def test_winsorize_clips_at_group_quantiles(spark):
    from parquet_on_fhir_spark.operators.analytics import winsorize

    rows = [("g", float(v)) for v in range(1, 101)] + [("h", 5.0), ("h", 50.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = winsorize(df, "v", ["k"], 0.05, 0.95).collect()
    g = [r.v_winsorized for r in out if r.k == "g"]
    # exact quantile_cont bounds on 1..100: p05 = 5.95, p95 = 95.05
    assert min(g) == 5.95 and max(g) == 95.05
    assert sum(1 for v in g if v == 5.95) == 5  # values 1..5 clipped up
    # untouched interior values pass through exactly
    assert 50.0 in g
    h = sorted(r.v_winsorized for r in out if r.k == "h")
    assert h[0] > 5.0 and h[1] < 50.0  # 2-point group: both clipped inward


def test_winsorize_global_no_keys(spark):
    from parquet_on_fhir_spark.operators.analytics import winsorize

    df = spark.createDataFrame([(float(v),) for v in range(10)], "v double")
    out = winsorize(df, "v", None, 0.0, 1.0)  # degenerate: no clipping
    assert sorted(r.v_winsorized for r in out.collect()) == [float(v) for v in range(10)]


def test_chi2_crosstab_known_table(spark):
    from parquet_on_fhir_spark.operators.analytics import chi2_crosstab

    # classic 2x2: [[10, 20], [20, 10]] -> chi2 = 60*(10*10-20*20)^2/(30*30*30*30) = 6.666...
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20 + [("b", "x")] * 20 + [("b", "y")] * 10
    )
    df = spark.createDataFrame(rows, "p string, q string")
    (r,) = chi2_crosstab(df, "p", "q").collect()
    assert r.dof == 1 and r.n == 60
    assert abs(r.chi2 - 60 * (10 * 10 - 20 * 20) ** 2 / 30**4) < 1e-9


def test_chi2_crosstab_zero_cell_counts_expected_mass(spark):
    from parquet_on_fhir_spark.operators.analytics import chi2_crosstab

    # cell (b, y) unobserved: chi2 must include its expected mass.
    rows = [("a", "x")] * 4 + [("a", "y")] * 4 + [("b", "x")] * 4
    df = spark.createDataFrame(rows, "p string, q string")
    (r,) = chi2_crosstab(df, "p", "q").collect()
    # hand computation: ra={a:8,b:4}, rb={x:8,y:4}, n=12
    exp = {("a","x"): 16/3, ("a","y"): 8/3, ("b","x"): 8/3, ("b","y"): 4/3}
    obs = {("a","x"): 4, ("a","y"): 4, ("b","x"): 4, ("b","y"): 0}
    chi2 = sum((obs[c] - e) ** 2 / e for c, e in exp.items())
    assert r.dof == 1 and r.n == 12
    assert abs(r.chi2 - chi2) < 1e-9


def test_market_basket_pairs_exact_counts(spark):
    from parquet_on_fhir_spark.operators.analytics import market_basket_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "b"),  # duplicate item in basket: counted once
        (4, "d"),                       # singleton basket: no pairs
    ]
    df = spark.createDataFrame(rows, "b int, i string")
    got = {
        (r.item, r.also_item): (r.n_baskets, r.rank)
        for r in market_basket_pairs(df, "b", "i", k=10, max_basket_items=None).collect()
    }
    assert got[("a", "b")] == (3, 1) and got[("b", "a")] == (3, 1)
    assert got[("a", "c")] == (1, 2) and got[("c", "a")][0] == 1
    assert ("d", "a") not in got and not any(i == "d" for i, _ in got)


def test_market_basket_cap_bounds_pair_fanout(spark):
    from parquet_on_fhir_spark.operators.analytics import market_basket_pairs

    # one mega-basket of 50 items: cap=5 must bound pairs at C(5,2)=10
    rows = [(1, f"i{n:02d}") for n in range(50)]
    df = spark.createDataFrame(rows, "b int, i string")
    out = market_basket_pairs(df, "b", "i", k=100, max_basket_items=5)
    # symmetrized: 10 unordered pairs -> 20 rows
    assert out.count() == 20


def test_numeric_histogram_dense_grid_and_edges(spark):
    from parquet_on_fhir_spark.operators.analytics import numeric_histogram

    df = spark.createDataFrame(
        [(0.0,), (2.5,), (5.0,), (9.99,), (10.0,), (None,)], "v double"
    )
    out = {r.bin: r for r in numeric_histogram(df, "v", bins=4, lo=0.0, hi=10.0).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    # [0,2.5)={0.0}, [2.5,5)={2.5}, [5,7.5)={5.0}, [7.5,10]={9.99, 10.0}:
    # boundary values fall in their RIGHT bin, hi-edge 10.0 folds into
    # the last bin, NULL dropped
    assert (out[1].n, out[2].n, out[3].n, out[4].n) == (1, 1, 1, 2)
    assert out[4].bin_hi == 10.0


def test_numeric_histogram_per_group_auto_bounds(spark):
    from parquet_on_fhir_spark.operators.analytics import numeric_histogram

    rows = [("g", float(v)) for v in range(11)] + [("h", 100.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = numeric_histogram(df, "v", bins=5, key_cols=["k"])  # global bounds 0..100
    g = {r.bin: r.n for r in out.collect() if r.k == "g"}
    assert g[1] == 11 and sum(g.values()) == 11  # all g-values in first global bin
    h = {r.bin: r.n for r in out.collect() if r.k == "h"}
    assert h[5] == 1


def test_distribution_drift_identical_and_disjoint(spark):
    from parquet_on_fhir_spark.operators.analytics import distribution_drift

    a = spark.createDataFrame([("x",)] * 6 + [("y",)] * 2, "i string")
    (same,) = distribution_drift(a, a, "i").collect()
    assert abs(same.kl_ab) < 1e-12 and abs(same.jsd) < 1e-12 and abs(same.tvd) < 1e-12

    b = spark.createDataFrame([("z",)] * 8, "i string")
    (far,) = distribution_drift(a, b, "i").collect()
    assert far.kl_ab > 1.0 and far.kl_ba > 1.0
    # smoothing pseudo-counts pull JSD below its ln-2 disjoint bound
    assert 0.3 < far.jsd <= 0.6932
    assert far.tvd > 0.8
    # symmetric measures are symmetric
    (rev,) = distribution_drift(b, a, "i").collect()
    assert abs(far.jsd - rev.jsd) < 1e-12 and abs(far.tvd - rev.tvd) < 1e-12


def test_robust_outliers_masking_immunity(spark):
    from parquet_on_fhir_spark.operators.analytics import robust_outliers

    # one enormous outlier among a tight cluster: mean/std masks itself
    # at z<3 thresholds in small samples; median/MAD must flag it
    vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r.v: r.is_outlier for r in robust_outliers(df, "v").collect()}
    assert out[1000.0] is True
    assert sum(out.values()) == 1


def test_robust_outliers_zero_mad_never_flags(spark):
    from parquet_on_fhir_spark.operators.analytics import robust_outliers

    df = spark.createDataFrame([(5.0,)] * 9 + [(7.0,)], "v double")
    rows = robust_outliers(df, "v").collect()
    assert all(r.modified_z is None for r in rows)
    assert not any(r.is_outlier for r in rows)


def test_target_encode_loo_excludes_own_label(spark):
    from parquet_on_fhir_spark.operators.analytics import target_encode

    rows = [("a", 10.0), ("a", 20.0), ("a", 30.0), ("b", 100.0)]
    df = spark.createDataFrame(rows, "c string, y double")
    out = {
        (r.c, r.y): r.c_te
        for r in target_encode(df, "c", "y", smoothing=0.0).collect()
        if r.c == "a"
    }
    # LOO means for 'a': exclude own label from (10+20+30)/3
    assert abs(out[("a", 10.0)] - 25.0) < 1e-9
    assert abs(out[("a", 20.0)] - 20.0) < 1e-9
    assert abs(out[("a", 30.0)] - 15.0) < 1e-9
    # zero-smoothing LOO singleton is NULL, not a division error
    b0 = [r.c_te for r in target_encode(df, "c", "y", smoothing=0.0).collect() if r.c == "b"]
    assert b0 == [None]
    # smoothing pulls toward the global mean (40.0)
    sm = {
        r.y: r.c_te
        for r in target_encode(df, "c", "y", smoothing=1e9).collect()
        if r.c == "a"
    }
    assert all(abs(v - 40.0) < 1e-3 for v in sm.values())
    # singleton category under LOO = pure smoothed prior, not NaN/inf
    solo = [r.c_te for r in target_encode(df, "c", "y", smoothing=2.0).collect() if r.c == "b"]
    assert abs(solo[0] - 40.0) < 1e-9  # (0 + 2*40)/(0 + 2)


def test_quantile_bin_equal_frequency_and_ties(spark):
    from parquet_on_fhir_spark.operators.analytics import quantile_bin

    df = spark.createDataFrame([(float(v),) for v in range(1, 101)], "v double")
    out = quantile_bin(df, "v", bins=4)
    sizes = {r.v_qbin: 0 for r in out.collect()}
    for r in out.collect():
        sizes[r.v_qbin] += 1
    assert sorted(sizes) == [1, 2, 3, 4]
    assert all(20 <= n <= 30 for n in sizes.values())
    # equal values always share a bin (value-based, unlike ntile)
    ties = spark.createDataFrame([(5.0,)] * 10 + [(9.0,)] * 2, "v double")
    tb = {r.v: set() for r in quantile_bin(ties, "v", bins=3).collect()}
    for r in quantile_bin(ties, "v", bins=3).collect():
        tb[r.v].add(r.v_qbin)
    assert all(len(bins) == 1 for bins in tb.values())


def test_correlation_matrix_matches_pairwise(spark):
    import math
    import random

    from parquet_on_fhir_spark.operators.analytics import correlation_matrix

    rng = random.Random(3)
    rows = []
    for _ in range(200):
        x = rng.gauss(0, 1)
        rows.append((x, 2 * x + rng.gauss(0, 0.1), rng.gauss(0, 1)))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {(r.col_a, r.col_b): r.corr for r in correlation_matrix(df, ["x", "y", "z"]).collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    assert got[("x", "y")] > 0.99
    assert abs(got[("x", "z")]) < 0.2
    for (a, b), v in got.items():
        expect = df.corr(a, b)
        assert math.isclose(v, expect, rel_tol=1e-9)


def test_kaplan_meier_textbook_curve(spark):
    from parquet_on_fhir_spark.operators.analytics import kaplan_meier

    # classic small example: durations (event=death, censor=+)
    # 1, 2+, 3, 4, 4, 5+  -> S(1)=5/6, S(3)=5/6*3/4, S(4)=...*1/3
    rows = [(1, True), (2, False), (3, True), (4, True), (4, True), (5, False)]
    df = spark.createDataFrame(rows, "d int, e boolean")
    got = {r.t: r for r in kaplan_meier(df, "d", "e").collect()}
    assert got[1].n_risk == 6 and abs(got[1].survival - 5 / 6) < 1e-12
    assert got[2].n_risk == 5 and abs(got[2].survival - 5 / 6) < 1e-12  # censor: no drop
    assert got[3].n_risk == 4 and abs(got[3].survival - (5 / 6) * (3 / 4)) < 1e-12
    assert got[4].n_risk == 3 and abs(got[4].survival - (5 / 6) * (3 / 4) * (1 / 3)) < 1e-12
    assert got[5].n_risk == 1 and abs(got[5].survival - got[4].survival) < 1e-12


def test_kaplan_meier_all_die_hits_zero(spark):
    from parquet_on_fhir_spark.operators.analytics import kaplan_meier

    df = spark.createDataFrame([(1, True), (2, True)], "d int, e boolean")
    got = {r.t: r.survival for r in kaplan_meier(df, "d", "e").collect()}
    assert abs(got[1] - 0.5) < 1e-12
    assert got[2] == 0.0  # exact zero, not exp(ln(0)) poison


def test_binary_auc_known_values(spark):
    from parquet_on_fhir_spark.operators.analytics import binary_auc

    # perfectly separable
    rows = [(float(s), s >= 5) for s in range(10)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    (r,) = binary_auc(df, "s", "y").collect()
    assert r.auc == 1.0 and r.n_pos == 5 and r.n_neg == 5
    # all scores tied -> AUC 0.5 by the average-rank convention
    ties = spark.createDataFrame([(1.0, True)] * 3 + [(1.0, False)] * 7, "s double, y boolean")
    (rt,) = binary_auc(ties, "s", "y").collect()
    assert abs(rt.auc - 0.5) < 1e-12
    # hand case with a tie straddling classes: scores [1,2,2,3], labels [0,0,1,1]
    hand = spark.createDataFrame(
        [(1.0, False), (2.0, False), (2.0, True), (3.0, True)], "s double, y boolean"
    )
    (rh,) = binary_auc(hand, "s", "y").collect()
    # pairs: (2,1)=1, (2,2)=0.5, (3,1)=1, (3,2)=1 -> 3.5/4
    assert abs(rh.auc - 3.5 / 4) < 1e-12
    # degenerate single-class input -> NULL, not division error
    one = spark.createDataFrame([(1.0, True), (2.0, True)], "s double, y boolean")
    (ro,) = binary_auc(one, "s", "y").collect()
    assert ro.auc is None


def test_welch_t_matches_closed_form(spark):
    import math
    import random

    from parquet_on_fhir_spark.operators.analytics import welch_t_test

    rng = random.Random(9)
    rows = [("a", rng.gauss(10, 2)) for _ in range(80)] + [
        ("b", rng.gauss(11, 4)) for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    (r,) = welch_t_test(df, "g", "v", "a", "b").collect()
    va = [v for g, v in rows if g == "a"]
    vb = [v for g, v in rows if g == "b"]

    def var(x):
        m = sum(x) / len(x)
        return sum((e - m) ** 2 for e in x) / (len(x) - 1)

    sa, sb = var(va) / len(va), var(vb) / len(vb)
    t = (sum(va) / len(va) - sum(vb) / len(vb)) / math.sqrt(sa + sb)
    dof = (sa + sb) ** 2 / (sa**2 / (len(va) - 1) + sb**2 / (len(vb) - 1))
    assert math.isclose(r.t_stat, t, rel_tol=1e-9)
    assert math.isclose(r.dof, dof, rel_tol=1e-9)
    assert (r.n_a, r.n_b) == (80, 50)


def test_concentration_report_extremes(spark):
    from parquet_on_fhir_spark.operators.analytics import concentration_report

    # perfectly equal: gini ~ 0, hhi = 1/n, effective = n
    eq = spark.createDataFrame([(f"g{i}",) for i in range(4) for _ in range(5)], "g string")
    (r,) = concentration_report(eq, "g").collect()
    assert r.n_groups == 4 and abs(r.gini) < 1e-9
    assert abs(r.hhi - 0.25) < 1e-9 and abs(r.effective_groups - 4) < 1e-9
    assert abs(r.top_share - 0.25) < 1e-9
    # one dominant group
    skew = spark.createDataFrame(
        [("big",)] * 97 + [("a",), ("b",), ("c",)], "g string"
    )
    (rs,) = concentration_report(skew, "g").collect()
    assert rs.top_share == 0.97 and rs.gini > 0.7 and rs.hhi > 0.9


def test_concentration_weighted_matches_expanded(spark):
    from parquet_on_fhir_spark.operators.analytics import concentration_report

    w = spark.createDataFrame([("a", 3.0), ("b", 1.0)], "g string, wt double")
    exp = spark.createDataFrame([("a",)] * 3 + [("b",)], "g string")
    (rw,) = concentration_report(w, "g", "wt").collect()
    (re_,) = concentration_report(exp, "g").collect()
    assert abs(rw.gini - re_.gini) < 1e-12 and abs(rw.hhi - re_.hhi) < 1e-12


def test_zipf_slope_power_law_recovered(spark):
    from parquet_on_fhir_spark.operators.analytics import zipf_slope

    # construct a corpus whose counts follow f(r) = 1024 / r exactly
    words = []
    for r in range(1, 33):
        words += [f"w{r:02d}"] * (1024 // r)
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    (z,) = zipf_slope(df, "text", min_count=1).collect()
    assert abs(z.slope - (-1.0)) < 0.02  # integer truncation wiggle
    assert z.n_types == 32


def test_benford_digits_and_chi2(spark):
    import math

    from parquet_on_fhir_spark.operators.analytics import benford_deviation

    # values engineered to known leading digits, incl. <1 and negatives
    vals = [1.0, 12.0, 0.19, -150.0, 2.0, 25.0, 3.3, 0.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = {r.digit: r for r in benford_deviation(df, "v").collect()}
    assert {d: rows[d].n for d in rows} == {1: 4, 2: 2, 3: 1}
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-12
    for d, r in rows.items():
        assert abs(r.expected_share - math.log10(1 + 1 / d)) < 1e-12
    chi2 = {r.chi2 for r in rows.values()}
    assert len(chi2) == 1 and chi2.pop() > 0


def test_numeric_histogram_clamps_out_of_range_symmetrically(spark):
    from parquet_on_fhir_spark.operators.analytics import numeric_histogram

    df = spark.createDataFrame([(5.0,), (12.0,), (25.0,)], "v double")
    out = {r.bin: r.n for r in numeric_histogram(df, "v", bins=2, lo=10.0, hi=20.0).collect()}
    # underflow 5.0 -> bin 1, overflow 25.0 -> bin 2: totals add up
    assert out == {1: 2, 2: 1}


def test_quantile_bin_null_propagates(spark):
    from parquet_on_fhir_spark.operators.analytics import quantile_bin

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,), (None,)], "v double")
    rows = {r.v: r.v_qbin for r in quantile_bin(df, "v", bins=2).collect()}
    assert rows[None] is None  # not silently bottom-binned
    assert rows[1.0] == 1 and rows[4.0] == 2


def test_weighted_percentile_hand_case(spark):
    from parquet_on_fhir_spark.operators.analytics import weighted_percentile

    # values 1..4 with weights 1,1,1,7: p50 cut falls on value 4
    rows = [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 7.0)]
    df = spark.createDataFrame(rows, "v double, w double")
    (r,) = weighted_percentile(df, "v", "w", [0.5, 0.2]).collect()
    assert r.p_0_5 == 4.0      # cum: 1,2,3,10; 0.5*10=5 first reached at 4
    assert r.p_0_2 == 2.0      # 0.2*10=2 first reached at 2
    # equal weights degenerate to the plain lower percentile
    eq = spark.createDataFrame([(float(v), 1.0) for v in range(1, 11)], "v double, w double")
    (re_,) = weighted_percentile(eq, "v", "w", [0.5]).collect()
    assert re_.p_0_5 == 5.0


def test_weighted_percentile_rejects_nonpositive(spark):
    import pytest

    from parquet_on_fhir_spark.operators.analytics import weighted_percentile

    # validation is folded into the plan (raise_error — no eager
    # pre-scan), so it fires on the action, not at call time
    df = spark.createDataFrame([(1.0, 0.0)], "v double, w double")
    with pytest.raises(Exception, match="positive"):
        weighted_percentile(df, "v", "w", [0.5]).collect()
    # NULL weights are rejected too (they'd silently pass a <=0 check)
    dfn = spark.createDataFrame([(1.0, None)], "v double, w double")
    with pytest.raises(Exception, match="positive"):
        weighted_percentile(dfn, "v", "w", [0.5]).collect()
    # opt-out path keeps running (bad-weight rows contribute NULL sums)
    assert weighted_percentile(
        df, "v", "w", [0.5], validate_weights=False
    ).collect()


def test_lorenz_points_cumulative_shares(spark):
    from parquet_on_fhir_spark.operators.analytics import lorenz_points

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "g string")
    out = {r.rank: r for r in lorenz_points(df, "g", k=10).collect()}
    assert (out[1].group, out[1].share, out[1].cum_share) == ("a", 0.5, 0.5)
    assert (out[2].group, out[2].cum_share) == ("b", 0.8)
    assert (out[3].group, out[3].cum_share) == ("c", 1.0)


def test_binary_auc_excludes_null_scores_and_preaggregates(spark):
    """NULL scores carry no rank information — they must not shift the
    ranks of real scores; and the ordered window must run over the
    per-distinct-score aggregate, not the raw frame."""
    from parquet_on_fhir_spark.operators.analytics import binary_auc

    base = [(0.1, 0), (0.4, 0), (0.35, 1), (0.8, 1)]
    df = spark.createDataFrame(base, "s double, y int")
    withnull = spark.createDataFrame(
        base + [(None, 1), (None, 0)], "s double, y int"
    )
    (a,) = binary_auc(df, "s", "y").collect()
    (b,) = binary_auc(withnull, "s", "y").collect()
    assert abs(a.auc - b.auc) < 1e-12
    assert (b.n_pos, b.n_neg) == (2, 2)  # NULL-score rows dropped entirely
    # plan shape: the Window sits ABOVE an Aggregate keyed by the score
    # (i.e. it consumes the distinct-score frame, not the raw corpus)
    plan = binary_auc(df, "s", "y")._jdf.queryExecution().optimizedPlan().toString()
    win_pos = plan.index("Window")
    assert "Aggregate [s" in plan[win_pos:], (
        "expected per-distinct-score Aggregate feeding the Window"
    )


def test_numeric_histogram_constant_column(spark):
    """Auto bounds on a constant column (lo == hi) must keep every row
    (bin 1), not vanish into NULL buckets."""
    from parquet_on_fhir_spark.operators.analytics import numeric_histogram

    df = spark.createDataFrame([(5.0,)] * 7, "v double")
    out = numeric_histogram(df, "v", bins=4)
    assert sum(r.n for r in out.collect()) == 7
    ones = [r for r in out.collect() if r.bin == 1]
    assert ones and ones[0].n == 7


def test_weighted_percentile_windows_distinct_values_only(spark):
    """The keyless path's one unpartitioned window must consume the
    per-distinct-value aggregate (bounded), never the raw corpus."""
    from parquet_on_fhir_spark.operators.analytics import weighted_percentile

    rows = [(float(v % 5), 1.0) for v in range(100)]
    df = spark.createDataFrame(rows, "v double, w double")
    out = weighted_percentile(df, "v", "w", [0.5, 0.9])
    (r,) = out.collect()
    assert (r.p_0_5, r.p_0_9) == (2.0, 4.0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    win_pos = plan.index("Window")
    assert "Aggregate [v" in plan[win_pos:], (
        "expected per-distinct-value Aggregate feeding the Window"
    )


def test_cuped_reduces_variance_and_preserves_mean(spark):
    from parquet_on_fhir_spark.operators.analytics import cuped_adjust

    # y = 2x + noise: the covariate explains most variance
    rows = [(float(x), 2.0 * x + (x % 3 - 1) * 0.5) for x in range(60)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = cuped_adjust(df, "y", "x")
    r = out.agg(
        F.avg("y").alias("my"),
        F.avg("metric_adj").alias("ma"),
        F.var_samp("y").alias("vy"),
        F.var_samp("metric_adj").alias("va"),
    ).collect()[0]
    assert abs(r.my - r.ma) < 1e-9  # adjustment is mean-preserving
    assert r.va < r.vy * 0.01  # ~all variance explained by x
    # zero-variance covariate → theta 0, metric untouched
    flat = spark.createDataFrame([(1.0, 5.0), (1.0, 7.0)], "x double, y double")
    got = {r.y: r.metric_adj for r in cuped_adjust(flat, "y", "x").collect()}
    assert got == {5.0: 5.0, 7.0: 7.0}


def test_cohens_kappa_known_table(spark):
    from parquet_on_fhir_spark.operators.analytics import cohens_kappa

    # classic example: po=0.7, marginals a=(0.5,0.5), b=(0.6,0.4) -> pe=0.5
    rows = (
        [("yes", "yes")] * 40 + [("yes", "no")] * 10
        + [("no", "yes")] * 20 + [("no", "no")] * 30
    )
    df = spark.createDataFrame(rows, "a string, b string")
    (r,) = cohens_kappa(df, "a", "b").collect()
    assert r.n == 100 and abs(r.p_observed - 0.7) < 1e-12
    assert abs(r.p_expected - 0.5) < 1e-12
    assert abs(r.kappa - 0.4) < 1e-12
    # NULL rater rows excluded; degenerate single-label table -> NULL kappa
    deg = spark.createDataFrame(
        [("x", "x"), ("x", "x"), ("x", None)], "a string, b string"
    )
    (d,) = cohens_kappa(deg, "a", "b").collect()
    assert d.n == 2 and d.kappa is None and d.p_observed == 1.0


def test_calibration_bins_ece(spark):
    from parquet_on_fhir_spark.operators.analytics import calibration_bins

    # scores 0.05 (never positive) and 0.95 (always positive): perfectly
    # separated but miscalibrated by 0.05 in each bin
    rows = [(0.05, 0)] * 10 + [(0.95, 1)] * 10 + [(1.0, 1)] * 2 + [(None, 1)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r.bin: r for r in calibration_bins(df, "s", "y", bins=10).collect()}
    assert set(out) == {0, 9}  # empty bins absent; 1.0 folds into bin 9
    assert out[0].n == 10 and out[0].pos_rate == 0.0
    assert out[9].n == 12
    ece = sum(r.ece_term for r in out.values())
    exp9 = abs(1.0 - (0.95 * 10 + 2) / 12) * 12 / 22
    assert abs(ece - (0.05 * 10 / 22 + exp9)) < 1e-9


def test_frequency_sketch_topk_estimates_match_jvm(spark):
    """The driver-side CMS decode (murmur3 restatement + bucket scheme)
    must reproduce the JVM's own estimates — exercised with unicode and
    non-4-byte-aligned items where the tail-byte handling matters."""
    from parquet_on_fhir_spark.operators.analytics import frequency_sketch_topk

    items = ["a", "ab", "abc", "abcd", "abcde", "naïve", "日本語", "x" * 37]
    rows = [(it,) for i, it in enumerate(items) for _ in range(10 * (i + 1))]
    df = spark.createDataFrame(rows, "x string")
    out = frequency_sketch_topk(df, "x", k=len(items), eps=0.0001, seed=3)
    got = {r.item: r for r in out.collect()}
    assert set(got) == set(items)
    for i, it in enumerate(items):
        assert got[it].n == 10 * (i + 1)
        # wide sketch + tiny vocab: no collisions, estimate is exact
        assert got[it].n_est == got[it].n
    # ranks are dense 1..k by descending count
    assert sorted(r.rank for r in got.values()) == list(range(1, len(items) + 1))


def test_distinct_sketch_rollup_union_is_sketch_based(spark):
    from parquet_on_fhir_spark.operators.analytics import distinct_sketch_rollup

    # overlapping groups: union total (500) < sum of group distincts
    rows = [("a", f"u{i}") for i in range(400)] + [
        ("b", f"u{i}") for i in range(100, 500)
    ]
    df = spark.createDataFrame(rows, "g string, u string")
    got = {r.group: r for r in distinct_sketch_rollup(df, "g", "u").collect()}
    assert got["a"].n_exact == 400 and got["b"].n_exact == 400
    assert got["__TOTAL__"].n_exact == 500
    # HLL at lgK=14 on 500 items: essentially exact; union must NOT
    # double-count the 300-user overlap
    assert abs(got["__TOTAL__"].n_est - 500) <= 5
    assert all(r.rel_err < 0.02 for r in got.values())


@pytest.mark.slow
def test_attribution_models(spark):
    from datetime import datetime

    from parquet_on_fhir_spark.operators.analytics import attribution

    t0 = datetime(2024, 1, 1)
    rows = [
        # u1: view -> click -> purchase (last=click, first=view, linear 50/50)
        (1, datetime(2024, 1, 1, 0), 1, "view"),
        (1, datetime(2024, 1, 1, 1), 2, "click"),
        (1, datetime(2024, 1, 1, 2), 3, "purchase"),
        # u2: purchase with no touches -> NULL/direct
        (2, datetime(2024, 1, 1, 0), 4, "purchase"),
        # u3: touch AFTER the purchase must not count
        (3, datetime(2024, 1, 1, 1), 5, "purchase"),
        (3, datetime(2024, 1, 1, 2), 6, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    touch = F.col("event_type").isin("view", "click")
    conv = F.col("event_type") == "purchase"
    last = {r.channel: r for r in attribution(df, touch, conv, "last_touch", tie_cols=["event_id"]).collect()}
    assert last["click"].conversions == 1 and last[None].conversions == 2
    first = {r.channel: r for r in attribution(df, touch, conv, "first_touch", tie_cols=["event_id"]).collect()}
    assert first["view"].conversions == 1 and first[None].conversions == 2
    lin = {r.channel: r for r in attribution(df, touch, conv, "linear", lookback="1 days").collect()}
    assert abs(lin["view"].credit - 0.5) < 1e-12
    assert abs(lin["click"].credit - 0.5) < 1e-12
    assert lin[None].conversions == 2  # no-touch purchases -> direct


@pytest.mark.slow
def test_dp_noisy_counts_properties(spark):
    import pytest

    from parquet_on_fhir_spark.operators.analytics import dp_noisy_counts

    rows = [(f"g{i % 10}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "g string")
    a = {r.g: r.n_noisy for r in dp_noisy_counts(df, ["g"], epsilon=1.0, seed=1).collect()}
    b = {r.g: r.n_noisy for r in dp_noisy_counts(df.repartition(13), ["g"], epsilon=1.0, seed=1).collect()}
    assert a == b  # deterministic, layout-independent
    c = {r.g: r.n_noisy for r in dp_noisy_counts(df, ["g"], epsilon=1.0, seed=2).collect()}
    assert a != c  # seed changes the release
    # noise is actually applied but Laplace(1/eps=1) stays small
    exact = {r.g: r.n for r in dp_noisy_counts(df, ["g"], epsilon=1.0, seed=1).collect()}
    assert all(abs(a[g] - exact[g]) < 15 for g in a)
    assert any(abs(a[g] - exact[g]) > 1e-6 for g in a)
    with pytest.raises(ValueError, match="epsilon"):
        dp_noisy_counts(df, ["g"], epsilon=0.0)


def test_k_anonymity_report(spark):
    from parquet_on_fhir_spark.operators.analytics import k_anonymity_report

    rows = [("a", 1)] * 10 + [("a", 2)] * 3 + [("b", 1)] * 2
    df = spark.createDataFrame(rows, "q1 string, q2 int")
    (r,) = k_anonymity_report(df, ["q1", "q2"], k=5).collect()
    assert (r.n_rows, r.n_classes, r.min_class_size) == (15, 3, 2)
    assert (r.n_violating_classes, r.n_risky_rows) == (2, 5)
    assert not r.k_anonymous
    (ok,) = k_anonymity_report(df, ["q1", "q2"], k=2).collect()
    assert ok.k_anonymous


def test_funnel_conversion_window(spark):
    from datetime import datetime

    from parquet_on_fhir_spark.operators.analytics import funnel

    rows = [
        # u1: click 30min after view -> within a 1-hour window
        (1, datetime(2024, 1, 1, 0, 0), "view"),
        (1, datetime(2024, 1, 1, 0, 30), "click"),
        # u2: click 2h after view -> OUTSIDE the window, step not reached
        (2, datetime(2024, 1, 1, 0, 0), "view"),
        (2, datetime(2024, 1, 1, 2, 0), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
    ]
    out = {r.user_id: r for r in funnel(df, steps, max_step_gap="1 hours").collect()}
    assert out[1].furthest_step == 2
    assert out[2].furthest_step == 1 and out[2].t_click is None
    # without the window both convert (regression guard for q133)
    free = {r.user_id: r for r in funnel(df, steps).collect()}
    assert free[1].furthest_step == 2 and free[2].furthest_step == 2


def test_quantile_normalize_aligns_groups(spark):
    from parquet_on_fhir_spark.operators.analytics import quantile_normalize

    # group b = group a scaled 10x + 5: after normalization the two
    # groups' sorted values must coincide (both map onto the pooled grid
    # by rank)
    base = [float(v) for v in range(100)]
    rows = [("a", v) for v in base] + [("b", 10 * v + 5) for v in base]
    df = spark.createDataFrame(rows, "g string, v double")
    out = quantile_normalize(df, "v", ["g"], grid=201)
    a = sorted(r.v_qnorm for r in out.filter(F.col("g") == "a").collect())
    b = sorted(r.v_qnorm for r in out.filter(F.col("g") == "b").collect())
    assert len(a) == len(b) == 100
    for x, y in zip(a, b):
        assert abs(x - y) < 1e-9  # identical ranks -> identical pooled values
    # normalized values live inside the pooled range
    assert min(a) >= 0.0 and max(a) <= 995.0


def test_linear_regression_fit_matches_numpy(spark):
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import linear_regression_fit

    rng = np.random.default_rng(5)
    x1 = rng.normal(size=200)
    x2 = rng.normal(size=200)
    y = 3.0 * x1 - 2.0 * x2 + 7.0 + rng.normal(scale=0.01, size=200)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    got = {r.feature: r.coefficient for r in linear_regression_fit(df, ["x1", "x2"], "y").collect()}
    X = np.column_stack([x1, x2, np.ones_like(x1)])
    ref, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert abs(got["x1"] - ref[0]) < 1e-6
    assert abs(got["x2"] - ref[1]) < 1e-6
    assert abs(got["__intercept__"] - ref[2]) < 1e-6
    assert got["__r2__"] > 0.999


def test_nelson_aalen_known_values(spark):
    from parquet_on_fhir_spark.operators.analytics import nelson_aalen

    # durations: events at t=1 (1 death of 4 at risk), t=2 (censor),
    # t=3 (1 death of 2 at risk)
    rows = [(1.0, True), (2.0, False), (3.0, True), (3.0, False)]
    df = spark.createDataFrame(rows, "dur double, ev boolean")
    got = {r.t: r for r in nelson_aalen(df, "dur", "ev").collect()}
    assert got[1.0].n_risk == 4 and abs(got[1.0].cum_hazard - 0.25) < 1e-12
    assert got[2.0].n_risk == 3 and abs(got[2.0].cum_hazard - 0.25) < 1e-12
    assert got[3.0].n_risk == 2 and abs(got[3.0].cum_hazard - 0.75) < 1e-12


def test_bh_fdr_textbook_example(spark):
    import pytest

    from parquet_on_fhir_spark.operators.analytics import bh_fdr

    # m=5, q=0.25: thresholds 0.05,0.10,0.15,0.20,0.25
    ps = [("t1", 0.01), ("t2", 0.04), ("t3", 0.20), ("t4", 0.30), ("t5", 0.90)]
    df = spark.createDataFrame(ps, "tid string, p double")
    got = {r.tid: r for r in bh_fdr(df, "p", q=0.25, tie_cols=["tid"]).collect()}
    # k*=2 (0.04 <= 0.10); 0.20 > 0.15 so t3 not rejected
    assert got["t1"].rejected and got["t2"].rejected
    assert not got["t3"].rejected and not got["t5"].rejected
    # adjusted p: monotone min-from-top of p*m/rank
    assert abs(got["t1"].p_adj - 0.05) < 1e-12   # min(0.05, 0.1, ...) 
    assert abs(got["t2"].p_adj - 0.1) < 1e-12
    assert abs(got["t5"].p_adj - 0.9) < 1e-12
    with pytest.raises(ValueError, match="q must"):
        bh_fdr(df, "p", q=1.5)


def test_mutual_information_known_cases(spark):
    import math

    from parquet_on_fhir_spark.operators.analytics import mutual_information

    # perfectly dependent: MI = H(A) = ln 2, NMI = 1
    dep = spark.createDataFrame(
        [("x", "u")] * 5 + [("y", "v")] * 5, "a string, b string"
    )
    (r,) = mutual_information(dep, "a", "b").collect()
    assert abs(r.mi - math.log(2)) < 1e-12 and abs(r.nmi - 1.0) < 1e-12
    # independent uniform: MI = 0
    ind = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(3)],
        "a string, b string",
    )
    (ri,) = mutual_information(ind, "a", "b").collect()
    assert abs(ri.mi) < 1e-12


def test_frequency_sketch_topk_empty_and_nonstring(spark):
    """Empty / all-NULL input short-circuits (count_min_sketch
    aggregates to NULL) instead of raising; non-string item dtypes use
    the sketch's own cast('string') rendering for estimate keys."""
    from parquet_on_fhir_spark.operators.analytics import frequency_sketch_topk

    empty = spark.createDataFrame([], "x string")
    out = frequency_sketch_topk(empty, "x", k=5)
    assert out.columns == ["item", "n", "n_est", "rank"]
    assert out.count() == 0
    nulls = spark.createDataFrame([(None,), (None,)], "x string")
    assert frequency_sketch_topk(nulls, "x", k=5).count() == 0
    # booleans render 'true'/'false' in Spark but 'True'/'False' via
    # Python str() — the estimate must still match the exact count
    bools = spark.createDataFrame(
        [(True,)] * 7 + [(False,)] * 3, "x boolean"
    )
    got = {r.item: r for r in frequency_sketch_topk(bools, "x", k=2).collect()}
    assert got[True].n == 7 and got[True].n_est == 7
    assert got[False].n == 3 and got[False].n_est == 3
    # doubles: Spark renders 2.5 as '2.5' (same as str) but exercises
    # the numeric path end-to-end
    dbl = spark.createDataFrame([(2.5,)] * 4 + [(1.25,)] * 2, "x double")
    gd = {r.item: r for r in frequency_sketch_topk(dbl, "x", k=2).collect()}
    assert gd[2.5].n_est == 4 and gd[1.25].n_est == 2


def test_binary_auc_quantize_tier(spark):
    """quantize= buckets continuous scores before the per-distinct-value
    pre-aggregation: the windowed frame is bounded by range/quantize and
    the AUC error is bounded by the tie mass created at bucket edges."""
    import random

    from parquet_on_fhir_spark.operators.analytics import binary_auc

    rng = random.Random(4)
    # continuous scores, positives shifted up: every score distinct
    rows = [(rng.random() * 0.8 + (0.2 if y else 0.0), y)
            for y in ([True] * 300 + [False] * 300)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    (exact,) = binary_auc(df, "s", "y").collect()
    (coarse,) = binary_auc(df, "s", "y", quantize=0.01).collect()
    assert coarse.n_pos == exact.n_pos and coarse.n_neg == exact.n_neg
    # bucket width 0.01 over range 1.0: ≤ ~101 distinct values enter
    # the window, and AUC moves by at most the per-bucket tie mass
    assert abs(coarse.auc - exact.auc) < 0.02
    # exact path untouched: quantize=None reproduces the hand case
    hand = spark.createDataFrame(
        [(1.0, False), (2.0, False), (2.0, True), (3.0, True)],
        "s double, y boolean",
    )
    (rh,) = binary_auc(hand, "s", "y").collect()
    assert abs(rh.auc - 3.5 / 4) < 1e-12


def test_weighted_percentile_quantize_tier(spark):
    """quantize= floors values to bucket lower edges: the window is
    bounded by range/quantize and the answer is within one bucket of
    the exact lower percentile, on the low side."""
    import random

    from parquet_on_fhir_spark.operators.analytics import weighted_percentile

    rng = random.Random(11)
    rows = [(rng.random() * 100.0, 1.0 + rng.random()) for _ in range(500)]
    df = spark.createDataFrame(rows, "v double, w double")
    (exact,) = weighted_percentile(df, "v", "w", [0.5, 0.9]).collect()
    (q,) = weighted_percentile(df, "v", "w", [0.5, 0.9], quantize=1.0).collect()
    for name in ("p_0_5", "p_0_9"):
        e, b = getattr(exact, name), getattr(q, name)
        assert b == float(int(b))           # a bucket edge
        assert b <= e and e - b < 2.0       # low side, within ~a bucket


@pytest.mark.slow
def test_operators_graceful_on_empty_input(spark):
    """Aggregating operators return empty/NULL frames on empty input;
    driver-solve operators raise a NAMED ValueError — never a bare
    TypeError/ValueError from inside numpy (the frequency_sketch_topk
    crash class, r8 ADVICE)."""
    import pytest

    from parquet_on_fhir_spark.operators import analytics as A
    from parquet_on_fhir_spark.operators import dedup as D
    from parquet_on_fhir_spark.operators import similarity as S
    from parquet_on_fhir_spark.operators import text as T
    from parquet_on_fhir_spark.operators import timeseries as TS

    docs = spark.createDataFrame([], "doc_id bigint, text string, source string")
    nums = spark.createDataFrame(
        [], "v double, w double, g string, y boolean, ts timestamp, k string"
    )
    emb = spark.createDataFrame([], "vec_id bigint, vec array<float>")

    # frame-returning operators: run to completion, 0 or 1 (all-NULL) rows
    assert A.kaplan_meier(
        nums.selectExpr("v as duration", "y as event"), "duration", "event"
    ).count() == 0
    (auc,) = A.binary_auc(nums, "v", "y").collect()
    assert auc.auc is None
    assert A.weighted_percentile(nums, "v", "w", [0.5]).count() == 1
    assert A.zipf_slope(docs, "text").count() == 1
    assert A.benford_deviation(nums, "v").count() == 0
    assert A.lorenz_points(nums, "g").count() == 0
    assert A.welch_t_test(nums, "g", "v", "a", "b").count() == 0
    assert A.frequency_sketch_topk(docs, "text").count() == 0
    assert A.distinct_sketch_rollup(nums, "g", "v").count() == 1
    assert T.unigram_entropy(docs, "text").count() == 1
    # r9 additions: the 1-row aggregates surface NULL estimates, the
    # curve operators surface empty frames
    (lr,) = A.log_rank_test(
        nums.selectExpr("v as dur", "y as ev", "g as arm"),
        "dur", "ev", "arm", "a", "b",
    ).collect()
    assert lr.chi2 is None and lr.o_a is None
    (ap,) = A.average_precision(nums, "v", "y").collect()
    assert ap.ap is None
    (ipw,) = A.ipw_ate(
        nums.selectExpr("y as t", "v", "g"), "t", "v", ["g"]
    ).collect()
    assert ipw.ate is None and ipw.n_units == 0
    (did,) = A.diff_in_differences(
        nums, "g", "k", "v", "a", "b", "pre", "post"
    ).collect()
    assert did.did is None and did.n == 0
    (rm,) = A.restricted_mean_survival(
        nums.selectExpr("v as dur", "y as ev"), "dur", "ev", tau=5.0
    ).collect()
    assert rm.rmst is None and rm.median_t is None
    assert D.exact_dedup(docs, "text", "doc_id").count() == 0
    assert TS.holt_smoothing(nums, "ts", ["k"], "v").count() == 0
    assert TS.cusum_changepoints(nums, "ts", ["k"], "v").count() == 0
    # second r9 wave: rank/IR operators follow the same contract
    (mw,) = A.mann_whitney_u(nums, "v", "g", "a", "b").collect()
    assert mw.z is None and mw.u_a is None and mw.n_a is None
    (sp,) = A.spearman_correlation(nums, "v", "w").collect()
    assert sp.rho is None and sp.n == 0
    assert A.ndcg_at_k(
        nums.selectExpr("g", "v", "cast(y as int) as rel", "w"),
        "g", "v", "rel", 5, "w",
    ).count() == 0
    assert A.mean_reciprocal_rank(
        nums.selectExpr("g", "v", "cast(y as int) as rel", "w"),
        "g", "v", "rel", "w",
    ).count() == 1
    assert T.repeated_ngram_fraction(docs, "doc_id", "text", 3).count() == 0
    # wave 3/4: K-row stat frames degrade to empty/NULL rows cleanly
    (av,) = A.anova_f(nums, "v", "g").collect()
    assert av.f is None and av.k == 0
    (kwr,) = A.kruskal_wallis(nums, "v", "g").collect()
    assert kwr.h is None and kwr.k == 0
    (bf,) = A.variance_homogeneity(nums, "v", "g").collect()
    assert bf.w is None
    (ps,) = A.population_stability_index(nums, "v", "g", "a", "b").collect()
    assert ps.psi is None and ps.n_bins == 0
    assert T.source_ngram_overlap(docs, "source", "text", 3).count() == 0
    assert T.vocab_richness(docs, "text", "source").count() == 0
    with pytest.raises(ValueError, match="logistic_regression_fit"):
        A.logistic_regression_fit(
            nums.selectExpr("v as x1", "y"), ["x1"], "y"
        )
    # wave 5
    (pz,) = A.proportions_ztest(
        nums.selectExpr("g", "cast(y as int) as s"), "g", "a", "b", "s"
    ).collect()
    assert pz.z is None and pz.n_a is None and pz.p_a is None
    (bci,) = A.bootstrap_mean_ci(
        nums.selectExpr("v", "k as id"), "v", "id", n_replicates=10
    ).collect()
    assert bci.mean is None and bci.n == 0 and bci.ci_lo is None

    # graph / curation / join operators on empty inputs
    from parquet_on_fhir_spark.operators import curation as Cu
    from parquet_on_fhir_spark.operators import graph as G
    from parquet_on_fhir_spark.operators import joins as J

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert G.connected_components(edges).count() == 0
    assert G.pagerank(edges, iterations=3).count() == 0
    assert G.triangle_count(edges).count() == 0
    assert G.k_core(edges, 2).count() == 0
    assert Cu.temperature_mixture(docs, budget=10, alpha=0.5, seed=1).count() == 0
    assert Cu.interleave_sources(docs, "source", "doc_id", seed=0).count() == 0
    assert J.set_similarity_join(
        docs.select("doc_id", F.split("text", " ").alias("toks")),
        "doc_id",
        "toks",
    ).count() == 0

    # driver-solve operators: a clean, named refusal
    with pytest.raises(ValueError, match="linear_regression_fit"):
        A.linear_regression_fit(
            nums.selectExpr("v as x1", "w as y2"), ["x1"], "y2"
        )
    with pytest.raises(ValueError, match="fit_pca"):
        S.fit_pca(emb, 2, "vec")
    # malformed step specs refuse by name, not an unpack TypeError
    with pytest.raises(ValueError, match="predicate Column"):
        A.funnel(nums, ["view", "purchase"])


def test_log_rank_known_values(spark):
    """operators/analytics.py::log_rank_test vs the hand-computed
    hypergeometric terms of a 6-subject two-arm example (O=2, E=1.5,
    V=7/12), censoring in both arms and a time where only arm B
    remains at risk (n=1: variance term undefined -> excluded)."""
    from parquet_on_fhir_spark.operators.analytics import log_rank_test

    rows = [
        ("a", 1.0, True), ("a", 2.0, True), ("a", 3.0, False),
        ("b", 1.0, False), ("b", 2.0, True), ("b", 4.0, True),
    ]
    df = spark.createDataFrame(rows, "arm string, dur double, ev boolean")
    r = log_rank_test(df, "dur", "ev", "arm", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.o_a) == (3, 3, 2)
    assert abs(r.e_a - 1.5) < 1e-9
    assert abs(r.var_a - 7.0 / 12.0) < 1e-9
    assert abs(r.chi2 - 0.25 / (7.0 / 12.0)) < 1e-9
    # identical arms -> O == E, chi2 == 0
    same = spark.createDataFrame(
        [("a", 1.0, True), ("a", 2.0, True),
         ("b", 1.0, True), ("b", 2.0, True)],
        "arm string, dur double, ev boolean",
    )
    r2 = log_rank_test(same, "dur", "ev", "arm", "a", "b").collect()[0]
    assert abs(r2.o_a - r2.e_a) < 1e-12 and abs(r2.chi2) < 1e-12


def test_average_precision_known_values(spark):
    """operators/analytics.py::average_precision vs the sklearn step
    convention computed by hand: AP = sum((R_i - R_{i-1}) * P_i) over
    descending distinct thresholds with ties as one block."""
    from parquet_on_fhir_spark.operators.analytics import average_precision

    rows = [(0.9, True), (0.8, False), (0.8, True), (0.7, False),
            (0.6, True)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    r = average_precision(df, "score", "label").collect()[0]
    assert (r.n_pos, r.n) == (3, 5)
    assert abs(r.ap - (1.0 + 2.0 / 3.0 + 3.0 / 5.0) / 3.0) < 1e-9
    # perfect ranking -> AP = 1; no positives -> NULL ap, not error
    perfect = spark.createDataFrame(
        [(0.9, True), (0.5, False)], "score double, label boolean"
    )
    assert abs(average_precision(perfect, "score", "label").collect()[0].ap
               - 1.0) < 1e-12
    negs = spark.createDataFrame(
        [(0.9, False), (0.5, False)], "score double, label boolean"
    )
    r3 = average_precision(negs, "score", "label").collect()[0]
    assert r3.ap is None and r3.n_pos == 0
    # NULL scores carry no rank information
    withnull = spark.createDataFrame(
        [(None, True), (0.9, True), (0.5, False)],
        "score double, label boolean",
    )
    r4 = average_precision(withnull, "score", "label").collect()[0]
    assert r4.n == 2 and abs(r4.ap - 1.0) < 1e-12


def test_ipw_ate_known_values(spark):
    """operators/analytics.py::ipw_ate vs the hand-computed stratified
    Horvitz-Thompson sum: two overlapping strata + one positivity-
    violating stratum (all treated) that must be excluded but still
    counted in n_units."""
    import pytest

    from parquet_on_fhir_spark.operators.analytics import ipw_ate

    rows = [
        ("s1", True, 10.0), ("s1", True, 20.0),
        ("s1", False, 5.0), ("s1", False, 15.0),
        ("s2", True, 8.0), ("s2", False, 2.0),
        ("s3", True, 100.0),  # no controls -> excluded
    ]
    df = spark.createDataFrame(rows, "stratum string, t boolean, y double")
    r = ipw_ate(df, "t", "y", ["stratum"]).collect()[0]
    # t-sum: 30*4/2 + 8*2/1 = 76; c-sum: 20*4/2 + 2*2/1 = 44
    assert abs(r.ate - (76.0 - 44.0) / 6.0) < 1e-9
    assert (r.n_units, r.n_used, r.n_treated, r.n_control) == (7, 6, 3, 3)
    # no overlapping stratum anywhere -> NULL ate, zero counts, no error
    solo = spark.createDataFrame(
        [("s1", True, 1.0), ("s2", False, 2.0)],
        "stratum string, t boolean, y double",
    )
    r2 = ipw_ate(solo, "t", "y", ["stratum"]).collect()[0]
    assert r2.ate is None and r2.n_used == 0 and r2.n_units == 2
    with pytest.raises(ValueError, match="stratum"):
        ipw_ate(df, "t", "y", [])


def test_diff_in_differences_known_values(spark):
    """operators/analytics.py::diff_in_differences: textbook 2x2 —
    (7-2)-(6-3)=2 — with out-of-scope groups/periods ignored and a
    missing cell yielding NULL did."""
    from parquet_on_fhir_spark.operators.analytics import (
        diff_in_differences,
    )

    rows = [
        ("A", "pre", 1.0), ("A", "pre", 3.0),
        ("A", "post", 5.0), ("A", "post", 9.0),
        ("B", "pre", 2.0), ("B", "pre", 4.0),
        ("B", "post", 4.0), ("B", "post", 8.0),
        ("C", "post", 999.0), ("A", "mid", 999.0),  # ignored
    ]
    df = spark.createDataFrame(rows, "grp string, period string, y double")
    r = diff_in_differences(
        df, "grp", "period", "y", "A", "B", "pre", "post"
    ).collect()[0]
    assert abs(r.did - 2.0) < 1e-12 and r.n == 8
    assert abs(r.mean_treated_pre - 2.0) < 1e-12
    assert abs(r.mean_control_post - 6.0) < 1e-12
    # missing treated-post cell -> NULL did, not 0
    partial = df.filter("NOT (grp = 'A' AND period = 'post')")
    r2 = diff_in_differences(
        partial, "grp", "period", "y", "A", "B", "pre", "post"
    ).collect()[0]
    assert r2.did is None and r2.mean_treated_post is None


def test_restricted_mean_survival_known_values(spark):
    """operators/analytics.py::restricted_mean_survival vs the
    hand-integrated KM step curve (S: 1 -> .75 @1 -> .75 @2 (censor)
    -> .375 @3): RMST(10)=5.125, RMST(2.5)=2.125, median=3."""
    import pytest

    from parquet_on_fhir_spark.operators.analytics import (
        restricted_mean_survival,
    )

    rows = [(1.0, True), (2.0, False), (3.0, True), (3.0, False)]
    df = spark.createDataFrame(rows, "dur double, ev boolean")
    r = restricted_mean_survival(df, "dur", "ev", tau=10.0).collect()[0]
    assert abs(r.rmst - 5.125) < 1e-9
    assert r.median_t == 3.0 and r.tau == 10.0
    # tau cuts inside a segment; median is a property of the full curve
    r2 = restricted_mean_survival(df, "dur", "ev", tau=2.5).collect()[0]
    assert abs(r2.rmst - 2.125) < 1e-9 and r2.median_t == 3.0
    # curve never reaches 0.5 -> NULL median; rmst still defined
    alive = spark.createDataFrame(
        [(1.0, True), (2.0, False), (3.0, False), (4.0, False)],
        "dur double, ev boolean",
    )
    r3 = restricted_mean_survival(alive, "dur", "ev", tau=5.0).collect()[0]
    assert r3.median_t is None and r3.rmst is not None
    with pytest.raises(ValueError, match="tau"):
        restricted_mean_survival(df, "dur", "ev", tau=0.0)


def test_mann_whitney_known_values(spark):
    """operators/analytics.py::mann_whitney_u vs hand-computed rank
    sums: the untied textbook case, an average-rank tie case with the
    tie-corrected variance, the empty-arm and all-tied NULL-z guards."""
    import math

    from parquet_on_fhir_spark.operators.analytics import mann_whitney_u

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 4.0), ("b", 3.0), ("b", 5.0)],
        "grp string, v double",
    )
    r = mann_whitney_u(df, "v", "grp", "a", "b").collect()[0]
    # ranks 1,2,4 -> R_A=7, U_A = 7 - 3*4/2 = 1; mu = 3; var = 3
    assert (r.n_a, r.n_b) == (3, 2)
    assert r.u_a == 1.0
    assert abs(r.z - (1.0 - 3.0) / math.sqrt(3.0)) < 1e-12

    tied = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)],
        "grp string, v double",
    )
    r2 = mann_whitney_u(tied, "v", "grp", "a", "b").collect()[0]
    # three 2.0s share avg rank 3: R_A = 1+3+3 = 7, U_A = 1
    # T = 3^3-3 = 24; var = (6/12)*((5+1) - 24/(5*4)) = 2.4
    assert r2.u_a == 1.0
    assert abs(r2.z - (1.0 - 3.0) / math.sqrt(2.4)) < 1e-12

    # one empty arm -> U = 0, z NULL (no comparison possible)
    solo = mann_whitney_u(df.filter("grp = 'a'"), "v", "grp", "a", "b")
    r3 = solo.collect()[0]
    assert (r3.n_a, r3.n_b, r3.u_a, r3.z) == (3, 0, 0.0, None)

    # all values tied -> zero variance -> z NULL, u_a = mu exactly
    flat = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0)], "grp string, v double"
    )
    r4 = mann_whitney_u(flat, "v", "grp", "a", "b").collect()[0]
    assert (r4.u_a, r4.z) == (1.0, None)

    # quantize tier: coarse buckets collapse near-equal values into
    # ties, reproducing the hand-tied case above exactly
    near = spark.createDataFrame(
        [("a", 1.01), ("a", 1.99), ("a", 2.02), ("b", 2.01), ("b", 3.02)],
        "grp string, v double",
    )
    rq = mann_whitney_u(near, "v", "grp", "a", "b", quantize=1.0).collect()[0]
    assert rq.u_a == 1.0
    assert abs(rq.z - (1.0 - 3.0) / math.sqrt(2.4)) < 1e-12


def test_spearman_known_values(spark):
    """operators/analytics.py::spearman_correlation vs hand-computed
    average-rank Pearson: perfect monotone = ±1, a tie case, and the
    constant-column NULL guard."""
    from parquet_on_fhir_spark.operators.analytics import (
        spearman_correlation,
    )

    mono = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (3.0, 35.0)], "x double, y double"
    )
    assert abs(
        spearman_correlation(mono, "x", "y").collect()[0].rho - 1.0
    ) < 1e-12
    rev = spark.createDataFrame(
        [(1.0, 30.0), (2.0, 20.0), (3.0, 10.0)], "x double, y double"
    )
    assert abs(
        spearman_correlation(rev, "x", "y").collect()[0].rho + 1.0
    ) < 1e-12
    # ties: rx = [1, 2.5, 2.5, 4], ry = [1, 3, 2, 4]
    # cov = 4.5, var_rx = 4.5, var_ry = 5 -> rho = 4.5/sqrt(22.5)
    tied = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (3.0, 4.0)],
        "x double, y double",
    )
    r = spearman_correlation(tied, "x", "y").collect()[0]
    assert r.n == 4
    assert abs(r.rho - 4.5 / (22.5 ** 0.5)) < 1e-12
    # constant column -> zero rank variance -> NULL
    flat = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0)], "x double, y double"
    )
    assert spearman_correlation(flat, "x", "y").collect()[0].rho is None
    # NULLs excluded pairwise
    nulls = spark.createDataFrame(
        [(1.0, 10.0), (None, 5.0), (2.0, 20.0), (3.0, None), (3.0, 30.0)],
        "x double, y double",
    )
    r2 = spearman_correlation(nulls, "x", "y").collect()[0]
    assert r2.n == 3 and abs(r2.rho - 1.0) < 1e-12
    # quantize tier: bucketing both columns reproduces the tied case
    nearq = spark.createDataFrame(
        [(1.02, 0.99), (2.01, 2.98), (1.98, 2.02), (3.01, 4.02)],
        "x double, y double",
    )
    rq = spearman_correlation(nearq, "x", "y", quantize=1.0).collect()[0]
    assert abs(rq.rho - 4.5 / (22.5 ** 0.5)) < 1e-12


def test_ndcg_and_mrr_known_values(spark):
    """operators/analytics.py::ndcg_at_k / mean_reciprocal_rank vs
    hand-computed DCG chains: exponential gains, log2 discounts, rank
    truncation, the zero-gain NULL guard, and the miss-as-zero MRR
    convention."""
    import math

    from parquet_on_fhir_spark.operators.analytics import (
        mean_reciprocal_rank,
        ndcg_at_k,
    )

    rows = [
        ("g1", 0.9, 3, 1), ("g1", 0.8, 0, 2), ("g1", 0.7, 2, 3),
        ("g2", 0.5, 0, 4), ("g2", 0.4, 0, 5),
    ]
    df = spark.createDataFrame(rows, "g string, score double, rel int, id int")
    out = {r.g: r for r in ndcg_at_k(df, "g", "score", "rel", 2, "id").collect()}
    idcg = 7.0 + 3.0 / math.log2(3.0)
    assert abs(out["g1"].dcg - 7.0) < 1e-12
    assert abs(out["g1"].idcg - idcg) < 1e-12
    assert abs(out["g1"].ndcg - 7.0 / idcg) < 1e-12
    # zero-gain group: idcg = 0 -> ndcg NULL, not division error
    assert out["g2"].ndcg is None and out["g2"].idcg == 0.0
    # k=1 truncation: only the top item counts -> perfect score
    out1 = {r.g: r for r in ndcg_at_k(df, "g", "score", "rel", 1, "id").collect()}
    assert out1["g1"].ndcg == 1.0

    mrr_rows = [
        ("u1", 0.9, 0, 1), ("u1", 0.8, 1, 2),   # first hit at rank 2
        ("u2", 0.9, 0, 3),                       # no hit -> rr 0
        ("u3", 0.9, 1, 4), ("u3", 0.8, 1, 5),   # hit at rank 1
    ]
    mdf = spark.createDataFrame(
        mrr_rows, "g string, score double, rel int, id int"
    )
    m = mean_reciprocal_rank(mdf, "g", "score", "rel", "id").collect()[0]
    assert (m.n_groups, m.n_hit) == (3, 2)
    assert abs(m.mrr - (0.5 + 0.0 + 1.0) / 3.0) < 1e-12


def test_anova_kruskal_known_values(spark):
    """operators/analytics.py::anova_f / kruskal_wallis vs textbook
    hand computations: three-group ANOVA (F=13, eta2=0.8125), untied
    Kruskal-Wallis (H = 32/7), the tie-corrected case, and NULL
    guards."""
    from parquet_on_fhir_spark.operators.analytics import (
        anova_f,
        kruskal_wallis,
    )

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 3.0), ("b", 4.0),
            ("c", 5.0), ("c", 6.0), ("c", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_f(df, "v", "g").collect()[0]
    assert (r.df_between, r.df_within, r.n, r.k) == (2, 6, 9, 3)
    assert abs(r.f - 13.0) < 1e-9
    assert abs(r.eta_sq - 26.0 / 32.0) < 1e-12
    # single group / constant groups -> NULL f
    solo = anova_f(df.filter("g = 'a'"), "v", "g").collect()[0]
    assert solo.f is None and solo.k == 1
    flat = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)],
        "g string, v double",
    )
    rf = anova_f(flat, "v", "g").collect()[0]
    assert rf.f is None and abs(rf.eta_sq - 1.0) < 1e-12

    kw = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
         ("c", 5.0), ("c", 6.0)],
        "g string, v double",
    )
    r2 = kruskal_wallis(kw, "v", "g").collect()[0]
    assert (r2.df, r2.n, r2.k) == (2, 6, 3)
    assert abs(r2.h - 32.0 / 7.0) < 1e-12
    # ties: a=[1,1], b=[2,3] -> H_raw = 2.4, corr = 0.9
    tied = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 3.0)],
        "g string, v double",
    )
    r3 = kruskal_wallis(tied, "v", "g").collect()[0]
    assert abs(r3.h - 2.4 / 0.9) < 1e-12
    # all values identical -> correction hits 0 -> NULL
    allt = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0), ("b", 5.0)], "g string, v double"
    )
    assert kruskal_wallis(allt, "v", "g").collect()[0].h is None
    # quantize tier reuses the escape hatch
    nearq = spark.createDataFrame(
        [("a", 1.02), ("a", 0.98), ("b", 2.01), ("b", 2.99)],
        "g string, v double",
    )
    rq = kruskal_wallis(nearq, "v", "g", quantize=1.0).collect()[0]
    assert abs(rq.h - 2.4 / 0.9) < 1e-12


def test_variance_homogeneity_known_values(spark):
    """operators/analytics.py::variance_homogeneity (Brown-Forsythe)
    vs a hand computation: equal-spread groups give W = 0; a
    wide-vs-narrow pair reproduces the ANOVA-on-|x−median| statistic
    computed by hand."""
    from parquet_on_fhir_spark.operators.analytics import (
        variance_homogeneity,
    )

    same = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 11.0), ("b", 13.0)],
        "g string, v double",
    )
    r = variance_homogeneity(same, "v", "g").collect()[0]
    # both groups have |x - med| = 1 for every row -> SSB = SSW = 0 ->
    # degenerate 0/0 guard: W NULL (ssw = 0)
    assert r.w is None and (r.n, r.k) == (4, 2)

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 2.0), ("a", 4.0),     # med 2, z = [2,0,2]
         ("b", 10.0), ("b", 10.5), ("b", 11.0)],  # med 10.5, z=[.5,0,.5]
        "g string, v double",
    )
    r2 = variance_homogeneity(df, "v", "g").collect()[0]
    # z-means: a=4/3, b=1/3; grand 5/6; SSB = 3(1/4+1/4) = 3/2
    # SSW = a:(2-4/3)^2*2+(0-4/3)^2 = 8/3; b:(1/6)^2*2+(1/3)^2 = 1/6
    # W = (1.5/1) / ((8/3+1/6)/4) = 1.5/(17/24) = 36/17
    assert (r2.df_between, r2.df_within) == (1, 4)
    assert abs(r2.w - 36.0 / 17.0) < 1e-9


def test_logistic_regression_fit_matches_numpy_irls(spark):
    """operators/analytics.py::logistic_regression_fit vs an
    independent numpy IRLS on the same rows: the convex MLE is unique,
    so both must land on the same coefficients; empty input refuses by
    name."""
    import numpy as np
    import pytest

    from parquet_on_fhir_spark.operators.analytics import (
        logistic_regression_fit,
    )

    rng_rows = []
    # deterministic synthetic: y depends on x1 strongly, x2 weakly
    for i in range(200):
        x1 = (i % 20) / 10.0 - 1.0
        x2 = ((i * 7) % 13) / 13.0
        logit = 2.0 * x1 - 1.0 * x2 + 0.5
        p = 1.0 / (1.0 + np.exp(-logit))
        y = 1 if (((i * 2654435761) % 1000) / 1000.0) < p else 0
        rng_rows.append((float(x1), float(x2), y))
    df = spark.createDataFrame(rng_rows, "x1 double, x2 double, y int")
    got = {
        r.feature: r.coefficient
        for r in logistic_regression_fit(df, ["x1", "x2"], "y").collect()
    }

    X = np.array([[r[0], r[1], 1.0] for r in rng_rows])
    Y = np.array([r[2] for r in rng_rows], dtype=float)
    beta = np.zeros(3)
    for _ in range(50):
        z = np.clip(X @ beta, -30, 30)
        pr = 1.0 / (1.0 + np.exp(-z))
        g = X.T @ (Y - pr)
        H = (X * (pr * (1 - pr))[:, None]).T @ X
        step = np.linalg.solve(H, g)
        beta += step
        if np.max(np.abs(step)) < 1e-12:
            break
    assert abs(got["x1"] - beta[0]) < 1e-6
    assert abs(got["x2"] - beta[1]) < 1e-6
    assert abs(got["__intercept__"] - beta[2]) < 1e-6
    # log-likelihood matches the numpy fit's
    z = np.clip(X @ beta, -30, 30)
    ll = float(np.sum(Y * z - np.log1p(np.exp(z))))
    assert abs(got["__log_likelihood__"] - ll) < 1e-6
    assert got["__n_iter__"] >= 2

    empty = spark.createDataFrame([], "x1 double, x2 double, y int")
    with pytest.raises(ValueError, match="logistic_regression_fit"):
        logistic_regression_fit(empty, ["x1", "x2"], "y")


def test_psi_known_values(spark):
    """operators/analytics.py::population_stability_index vs a hand
    computation on 2 bins, plus the identical-distribution zero case."""
    import math

    from parquet_on_fhir_spark.operators.analytics import (
        population_stability_index,
    )

    rows = (
        [("r", 0.0)] * 3 + [("r", 10.0)] * 1
        + [("c", 0.0)] * 1 + [("c", 10.0)] * 3
    )
    df = spark.createDataFrame(rows, "g string, v double")
    r = population_stability_index(df, "v", "g", "r", "c", bins=2).collect()[0]
    assert (r.n_ref, r.n_cand, r.n_bins) == (4, 4, 2)
    # smoothed: bin0 p=(3.5/5), q=(1.5/5); bin1 mirrored
    p0, q0 = 3.5 / 5.0, 1.5 / 5.0
    want = 2 * round((p0 - q0) * math.log(p0 / q0), 12)
    assert abs(r.psi - want) < 1e-12
    same = spark.createDataFrame(
        [("r", 1.0), ("r", 2.0), ("c", 1.0), ("c", 2.0)],
        "g string, v double",
    )
    r2 = population_stability_index(same, "v", "g", "r", "c", bins=2).collect()[0]
    assert abs(r2.psi) < 1e-12


def test_proportions_ztest_known_values(spark):
    """operators/analytics.py::proportions_ztest vs the hand-computed
    pooled z, risk ratio and odds ratio, plus the degenerate NULL
    guards."""
    import math

    from parquet_on_fhir_spark.operators.analytics import proportions_ztest

    rows = [("a", 1), ("a", 1), ("a", 0), ("a", 0),
            ("b", 1), ("b", 0), ("b", 0), ("b", 0)]
    df = spark.createDataFrame(rows, "g string, s int")
    r = proportions_ztest(df, "g", "a", "b", "s").collect()[0]
    assert (r.n_a, r.n_b, r.x_a, r.x_b) == (4, 4, 2, 1)
    pool = 3.0 / 8.0
    want_z = (0.5 - 0.25) / math.sqrt(pool * (1 - pool) * 0.5)
    assert abs(r.z - want_z) < 1e-12
    assert abs(r.risk_ratio - 2.0) < 1e-12
    assert abs(r.odds_ratio - 3.0) < 1e-12
    # all-success pooled rate 1 -> zero variance -> z NULL; OR NULL on
    # a zero cell
    ones = spark.createDataFrame(
        [("a", 1), ("b", 1)], "g string, s int"
    )
    r2 = proportions_ztest(ones, "g", "a", "b", "s").collect()[0]
    assert r2.z is None and r2.odds_ratio is None
    assert abs(r2.risk_ratio - 1.0) < 1e-12
    # empty arm
    solo = proportions_ztest(
        df.filter("g = 'a'"), "g", "a", "b", "s"
    ).collect()[0]
    assert solo.z is None and solo.p_b is None and solo.n_b == 0


def test_bootstrap_mean_ci_properties(spark):
    """operators/analytics.py::bootstrap_mean_ci: deterministic across
    runs AND partitionings (integer values make the replicate sums
    exact), ordered bounds bracketing the mean, seed sensitivity, and
    the alpha guard."""
    import pytest

    from parquet_on_fhir_spark.operators.analytics import bootstrap_mean_ci

    rows = [(i, float((i * 37) % 100)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v double")
    r = bootstrap_mean_ci(df, "v", "id", n_replicates=100, seed=1).collect()[0]
    assert r.n == 300 and r.n_replicates == 100
    assert r.ci_lo <= r.mean <= r.ci_hi
    # exact determinism: rerun + different partitioning
    r2 = bootstrap_mean_ci(
        df.repartition(7), "v", "id", n_replicates=100, seed=1
    ).collect()[0]
    assert (r.ci_lo, r.ci_hi, r.mean) == (r2.ci_lo, r2.ci_hi, r2.mean)
    # a different seed moves the bounds (same point estimate)
    r3 = bootstrap_mean_ci(df, "v", "id", n_replicates=100, seed=2).collect()[0]
    assert r3.mean == r.mean and (r3.ci_lo, r3.ci_hi) != (r.ci_lo, r.ci_hi)
    # CI width shrinks roughly with sqrt(n): a 10x larger sample from
    # the same distribution gives a clearly narrower interval
    big = spark.createDataFrame(
        [(i, float((i * 37) % 100)) for i in range(3000)], "id long, v double"
    )
    rb = bootstrap_mean_ci(big, "v", "id", n_replicates=100, seed=1).collect()[0]
    assert (rb.ci_hi - rb.ci_lo) < (r.ci_hi - r.ci_lo)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_mean_ci(df, "v", "id", alpha=1.5)


def test_round9_advice_guards(spark):
    """Round-9 ADVICE regression guards: bootstrap n_replicates >= 1,
    logistic singular-Hessian named error, proportions_ztest success
    domain validation (values outside {0,1} and uncastable strings
    raise; booleans pass)."""
    import pytest

    from parquet_on_fhir_spark.operators.analytics import (
        bootstrap_mean_ci,
        logistic_regression_fit,
        proportions_ztest,
    )

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(20)], "id long, v double"
    )
    with pytest.raises(ValueError, match="n_replicates"):
        bootstrap_mean_ci(df, "v", "id", n_replicates=0)

    # constant-zero feature with ridge=0 -> singular Hessian -> named
    # ValueError pointing at ridge, not a raw numpy LinAlgError
    sing = spark.createDataFrame(
        [(0.0, 1.0, 1), (0.0, 2.0, 0), (0.0, 3.0, 1), (0.0, 4.0, 0)],
        "x1 double, x2 double, y int",
    )
    with pytest.raises(ValueError, match="ridge"):
        logistic_regression_fit(sing, ["x1", "x2"], "y", ridge=0.0)

    # count-valued success column: raises at action time
    from pyspark.sql.utils import AnalysisException  # noqa: F401
    from py4j.protocol import Py4JJavaError

    counts = spark.createDataFrame(
        [("a", 3), ("a", 0), ("b", 1), ("b", 1)], "g string, s int"
    )
    with pytest.raises(Exception, match="success_col must be 0/1"):
        proportions_ztest(counts, "g", "a", "b", "s").collect()
    # string success column that fails the int cast: raises, never drops
    strs = spark.createDataFrame(
        [("a", "yes"), ("a", "no"), ("b", "1"), ("b", "0")], "g string, s string"
    )
    with pytest.raises(Exception, match="success_col must be 0/1"):
        proportions_ztest(strs, "g", "a", "b", "s").collect()
    # boolean success column still works
    bools = spark.createDataFrame(
        [("a", True), ("a", False), ("b", True), ("b", True)],
        "g string, s boolean",
    )
    r = proportions_ztest(bools, "g", "a", "b", "s").collect()[0]
    assert (r.n_a, r.n_b, r.x_a, r.x_b) == (2, 2, 1, 2)


def test_ks_two_sample_matches_numpy(spark):
    """ks_two_sample vs a numpy ECDF reference: exact D on pooled
    distinct values, z scaling, and the empty-group NULL contract."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import ks_two_sample

    rng = np.random.RandomState(7)
    a = np.round(rng.normal(10, 2, 300), 1)
    b = np.round(rng.normal(11, 3, 200), 1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    pooled = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), pooled, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pooled, side="right") / len(b)
    d_ref = np.max(np.abs(fa - fb))
    assert (r.n_a, r.n_b) == (300, 200)
    assert abs(r.d_stat - d_ref) < 1e-12
    assert abs(r.ks_z - d_ref * np.sqrt(300 * 200 / 500)) < 1e-12
    # identical distributions -> D from sampling only; same sample -> 0
    same = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("a", 2.0), ("b", 2.0)], "g string, v double"
    )
    assert ks_two_sample(same, "v", "g", "a", "b").collect()[0].d_stat == 0.0
    empty = ks_two_sample(
        df.filter("g = 'a'"), "v", "g", "a", "b"
    ).collect()[0]
    assert empty.d_stat is None and empty.ks_z is None


def test_theil_index_matches_numpy(spark):
    """theil_index vs numpy: total, between, within, the exact
    decomposition T = T_between + T_within, and the ungrouped path."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import theil_index

    rng = np.random.RandomState(11)
    vals = np.round(rng.lognormal(3, 1, 500), 2)
    g = rng.choice(["x", "y", "z"], 500)
    df = spark.createDataFrame(
        [(str(gg), float(v)) for gg, v in zip(g, vals)], "g string, v double"
    )
    r = theil_index(df, "v", "g").collect()[0]
    mu = vals.mean()
    t_ref = np.mean((vals / mu) * np.log(vals / mu))
    s = vals.sum()
    tb = tw = 0.0
    for gg in ("x", "y", "z"):
        m = vals[g == gg]
        mug = m.mean()
        tb += (m.sum() / s) * np.log(mug / mu)
        tw += (m.sum() / s) * np.mean((m / mug) * np.log(m / mug))
    assert abs(r.theil - t_ref) < 1e-9
    assert abs(r.theil_between - tb) < 1e-9
    assert abs(r.theil_within - tw) < 1e-9
    assert abs(r.theil - (r.theil_between + r.theil_within)) < 1e-9
    ru = theil_index(df, "v").collect()[0]
    assert abs(ru.theil - t_ref) < 1e-9 and ru.n == 500
    # perfectly equal values -> T exactly 0 (ln 1 terms)
    eq = spark.createDataFrame([("x", 5.0)] * 10, "g string, v double")
    assert theil_index(eq, "v").collect()[0].theil == 0.0


def test_aalen_johansen_matches_reference(spark):
    """aalen_johansen vs a sequential pure-python CIF: risk sets,
    per-cause increments, and the identity S(inf) + sum_k CIF_k = 1."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import aalen_johansen

    rng = np.random.RandomState(3)
    n = 200
    dur = rng.randint(1, 30, n)
    cause = rng.choice([None, "a", "b"], n, p=[0.3, 0.4, 0.3])
    df = spark.createDataFrame(
        [(int(d), c) for d, c in zip(dur, cause)], "dur int, cause string"
    )
    res = {
        (r.t, r.cause): (r.n_risk, r.n_events, r.cif)
        for r in aalen_johansen(df, "dur", "cause", ["a", "b"]).collect()
    }
    surv, left = 1.0, 0
    cif = {"a": 0.0, "b": 0.0}
    for tt in sorted(set(dur)):
        at = [c for d, c in zip(dur, cause) if d == tt]
        nr = n - left
        d_at = {k: sum(1 for c in at if c == k) for k in ("a", "b")}
        for k in ("a", "b"):
            cif[k] += surv * d_at[k] / nr
            got = res[(tt, k)]
            assert got[0] == nr and got[1] == d_at[k]
            assert abs(got[2] - cif[k]) < 1e-9
        surv *= 1 - (d_at["a"] + d_at["b"]) / nr
        left += len(at)
    assert abs(surv + cif["a"] + cif["b"] - 1.0) < 1e-9


def test_cochran_armitage_and_hosmer_lemeshow(spark):
    """cochran_armitage_trend vs the Armitage formula in numpy;
    hosmer_lemeshow vs a lexsort+slice reference (deterministic
    (score, id) ntile cut)."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import (
        cochran_armitage_trend,
        hosmer_lemeshow,
    )

    rng = np.random.RandomState(5)
    buckets = rng.randint(1, 6, 500)
    y = (rng.rand(500) < buckets / 10.0).astype(int)
    df = spark.createDataFrame(
        [(int(b), int(t)) for b, t in zip(buckets, y)], "b int, y int"
    )
    r = cochran_armitage_trend(df, "b", "y").collect()[0]
    nn, x = 500, y.sum()
    p = x / nn
    swx = (buckets * y).sum()
    swn = buckets.sum()
    swwn = (buckets * buckets).sum()
    z_ref = (swx - p * swn) / np.sqrt(
        p * (1 - p) * (swwn - swn**2 / nn)
    )
    assert abs(r.z - z_ref) < 1e-9 and r.k_buckets == 5
    # constant outcome -> zero variance -> NULL z
    const = spark.createDataFrame([(1, 1), (2, 1)], "b int, y int")
    assert cochran_armitage_trend(const, "b", "y").collect()[0].z is None

    score = np.round(rng.rand(200), 3)
    lab = (rng.rand(200) < score).astype(int)
    df2 = spark.createDataFrame(
        [(i, float(s), int(v)) for i, (s, v) in enumerate(zip(score, lab))],
        "id int, s double, y int",
    )
    bins = hosmer_lemeshow(df2, "s", "y", "id", 10).collect()
    order = np.lexsort((np.arange(200), score))
    assert len(bins) == 10
    for b in bins:
        idx = order[(b.bin - 1) * 20 : b.bin * 20]
        o, e = lab[idx].sum(), score[idx].sum()
        pi = e / 20
        assert b.n == 20 and b.observed == o
        assert abs(b.expected - e) < 1e-9
        assert abs(b.contrib - (o - e) ** 2 / (20 * pi * (1 - pi))) < 1e-9


def test_quantile_forecast_eval_matches_numpy(spark):
    """quantile_forecast_eval vs numpy percentile + pinball loss."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import (
        quantile_forecast_eval,
    )

    rng = np.random.RandomState(9)
    trv = rng.rand(100) * 10
    tev = rng.rand(50) * 10
    tr = spark.createDataFrame([("k", float(v)) for v in trv], "k string, v double")
    te = spark.createDataFrame([("k", float(v)) for v in tev], "k string, v double")
    r = quantile_forecast_eval(tr, te, ["k"], "v", [0.5, 0.9]).collect()[0]
    q5, q9 = np.percentile(trv, 50), np.percentile(trv, 90)
    l5 = np.mean(np.maximum(0.5 * (tev - q5), -0.5 * (tev - q5)))
    l9 = np.mean(np.maximum(0.9 * (tev - q9), -0.1 * (tev - q9)))
    assert abs(r.q_05 - q5) < 1e-9 and abs(r.q_09 - q9) < 1e-9
    assert abs(r.loss_05 - l5) < 1e-9 and abs(r.loss_09 - l9) < 1e-9
    assert r.n_test == 50


def test_cox_ph_matches_bruteforce_numpy(spark):
    """cox_ph (r10): distributed Newton with reverse-cumulative risk
    sets vs an INDEPENDENT brute-force numpy Breslow Cox (per-event
    risk-set loops over raw arrays — a different formulation
    entirely); ties included by construction (discrete durations).
    Plus the named error contracts (no features, zero events,
    singular Hessian -> ridge hint)."""
    import numpy as np
    import pytest

    from parquet_on_fhir_spark.operators.analytics import cox_ph

    def cox_ref(t_arr, e_arr, x_mat, max_iter=50, tol=1e-10):
        n, p = x_mat.shape
        beta = np.zeros(p)
        for _ in range(max_iter):
            r = np.exp(x_mat @ beta)
            g = np.zeros(p)
            hess = np.zeros((p, p))
            for tt in np.unique(t_arr[e_arr == 1]):
                atrisk = t_arr >= tt
                evs = (t_arr == tt) & (e_arr == 1)
                d = evs.sum()
                s0 = r[atrisk].sum()
                s1 = (r[atrisk, None] * x_mat[atrisk]).sum(axis=0)
                s2 = (
                    r[atrisk, None, None]
                    * x_mat[atrisk, :, None]
                    * x_mat[atrisk, None, :]
                ).sum(axis=0)
                g += x_mat[evs].sum(axis=0) - d * s1 / s0
                hess += d * (s2 / s0 - np.outer(s1 / s0, s1 / s0))
            delta = np.linalg.solve(hess, g)
            beta += delta
            if np.abs(delta).max() < tol:
                break
        return beta

    rng = np.random.RandomState(5)
    n = 300
    x = np.column_stack(
        [rng.binomial(1, 0.5, n), np.round(rng.randn(n), 2)]
    )
    true = np.array([0.8, -0.5])
    t_true = np.ceil(
        -np.log(rng.rand(n)) / (0.1 * np.exp(x @ true))
    ).astype(int)
    c = rng.randint(1, 30, n)
    e = (t_true <= c).astype(int)
    t_obs = np.minimum(t_true, c)
    df = spark.createDataFrame(
        [
            (int(tt), int(ee), int(x0), float(x1))
            for tt, ee, x0, x1 in zip(t_obs, e, x[:, 0], x[:, 1])
        ],
        "dur int, ev int, x0 int, x1 double",
    )
    out = {r.feature: r for r in cox_ph(df, "dur", "ev", ["x0", "x1"]).collect()}
    b_ref = cox_ref(t_obs, e, x)
    assert abs(out["x0"].coefficient - b_ref[0]) < 1e-6
    assert abs(out["x1"].coefficient - b_ref[1]) < 1e-6
    assert abs(out["x0"].hazard_ratio - np.exp(b_ref[0])) < 1e-6
    assert out["__n_iter__"].coefficient >= 2

    with pytest.raises(ValueError, match="feature"):
        cox_ph(df, "dur", "ev", [])
    no_events = df.withColumn("ev", df.ev * 0)
    with pytest.raises(ValueError, match="event"):
        cox_ph(no_events, "dur", "ev", ["x0"])
    const = df.withColumn("x0", df.x0 * 0)
    with pytest.raises(ValueError, match="ridge"):
        cox_ph(const, "dur", "ev", ["x0"])


def test_propensity_match_att_reference(spark):
    """propensity_match_att vs a sequential nearest-control reference
    (same tie rules: backward on equal distance, controls-first order,
    id tiebreak); recovers a planted treatment effect; caliper drops
    distant pairs."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import (
        propensity_match_att,
    )

    rng = np.random.RandomState(8)
    n = 200
    score = np.round(rng.rand(n), 3)
    treat = (rng.rand(n) < 0.4).astype(int)
    y = 2 * score + treat * 1.5 + rng.randn(n) * 0.1
    df = spark.createDataFrame(
        [
            (i, float(s), int(tt), float(v))
            for i, (s, tt, v) in enumerate(zip(score, treat, y))
        ],
        "id int, s double, t int, y double",
    )
    r = propensity_match_att(df, "s", "t", "y", "id").collect()[0]
    order = sorted(range(n), key=lambda i: (score[i], treat[i], i))
    atts = []
    for pos, i in enumerate(order):
        if treat[i] == 0:
            continue
        prevs = [j for j in order[:pos] if treat[j] == 0]
        nxts = [j for j in order[pos + 1 :] if treat[j] == 0]
        pv = prevs[-1] if prevs else None
        nx = nxts[0] if nxts else None
        if pv is not None and (
            nx is None or abs(score[i] - score[pv]) <= abs(score[i] - score[nx])
        ):
            m = pv
        else:
            m = nx
        atts.append(y[i] - y[m])
    assert r.n_treated == treat.sum() and r.n_control == (1 - treat).sum()
    assert r.n_matched == r.n_treated
    assert abs(r.att - float(np.mean(atts))) < 1e-9
    assert 1.3 < r.att < 1.7  # planted effect 1.5 recovered
    # a tiny caliper unmatches pairs (scores are 3dp-grid, most gaps > 0)
    rc = propensity_match_att(df, "s", "t", "y", "id", caliper=0.0).collect()[0]
    assert rc.n_matched < r.n_matched


def test_wasserstein_1d_matches_numpy(spark):
    """wasserstein_1d vs the numpy ECDF-area reference (equal-weight
    empirical distributions); zero for identical samples; empty-arm
    NULL."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import wasserstein_1d

    rng = np.random.RandomState(21)
    a = np.round(rng.normal(10, 2, 250), 1)
    b = np.round(rng.normal(12, 3, 150), 1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = wasserstein_1d(df, "v", "g", "a", "b").collect()[0]
    # reference: integral of |Fa - Fb| over the pooled grid
    grid = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), grid, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), grid, side="right") / len(b)
    ref = float(np.sum(np.abs(fa[:-1] - fb[:-1]) * np.diff(grid)))
    assert abs(r.w1 - ref) < 1e-9
    assert (r.n_a, r.n_b) == (250, 150)
    same = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("a", 5.0), ("b", 5.0)], "g string, v double"
    )
    assert wasserstein_1d(same, "v", "g", "a", "b").collect()[0].w1 == 0.0
    empty = wasserstein_1d(
        df.filter("g = 'a'"), "v", "g", "a", "b"
    ).collect()[0]
    assert empty.w1 is None


def test_conformal_interval_guarantee(spark):
    """conformal_interval vs a numpy split-conformal reference: exact
    k-th order statistic half-width, finite-sample coverage >= 1-alpha
    in expectation (checked loosely), tiny-calibration NULL q_hat, and
    the alpha guard."""
    import numpy as np
    import pytest

    from parquet_on_fhir_spark.operators.analytics import (
        conformal_interval,
    )

    rng = np.random.RandomState(33)
    mk = lambda n: [("k", float(v)) for v in rng.normal(50, 5, n)]  # noqa: E731
    tr = spark.createDataFrame(mk(200), "k string, v double")
    ca_vals = rng.normal(50, 5, 99)
    ca = spark.createDataFrame(
        [("k", float(v)) for v in ca_vals], "k string, v double"
    )
    te = spark.createDataFrame(mk(300), "k string, v double")
    r = conformal_interval(tr, ca, te, ["k"], "v", alpha=0.1).collect()[0]
    point = np.percentile(np.array([row.v for row in tr.collect()]), 50)
    scores = np.sort(np.abs(ca_vals - point))
    k = int(np.ceil(100 * 0.9))  # (n_cal+1)(1-alpha) = 90
    assert abs(r.point - point) < 1e-9
    assert r.n_cal == 99
    assert abs(r.q_hat - scores[k - 1]) < 1e-9
    assert r.coverage >= 0.8  # guarantee is >= 0.9 in expectation
    # calibration too small for the level -> NULL q_hat, not the max
    tiny = spark.createDataFrame(mk(5), "k string, v double")
    rt = conformal_interval(tr, tiny, te, ["k"], "v", alpha=0.1).collect()[0]
    assert rt.q_hat is None
    with pytest.raises(ValueError, match="alpha"):
        conformal_interval(tr, ca, te, ["k"], "v", alpha=1.5)


def test_cox_ph_efron_ties(spark):
    """cox_ph(ties='efron') vs an independent brute-force numpy Efron
    reference on heavily-tied data; differs from Breslow exactly where
    ties exist and coincides bit-for-bit on tie-free durations; bad
    ties value raises."""
    import numpy as np
    import pytest

    from parquet_on_fhir_spark.operators.analytics import cox_ph

    def cox_ref(t_arr, e_arr, x_mat, max_iter=50, tol=1e-10):
        n, p = x_mat.shape
        beta = np.zeros(p)
        for _ in range(max_iter):
            r = np.exp(x_mat @ beta)
            g = np.zeros(p)
            hess = np.zeros((p, p))
            for tt in np.unique(t_arr[e_arr == 1]):
                atrisk = t_arr >= tt
                evs = (t_arr == tt) & (e_arr == 1)
                d = evs.sum()
                s0 = r[atrisk].sum()
                s1 = (r[atrisk, None] * x_mat[atrisk]).sum(0)
                s2 = (
                    r[atrisk, None, None]
                    * x_mat[atrisk, :, None]
                    * x_mat[atrisk, None, :]
                ).sum(0)
                e0 = r[evs].sum()
                e1 = (r[evs, None] * x_mat[evs]).sum(0)
                e2 = (
                    r[evs, None, None]
                    * x_mat[evs, :, None]
                    * x_mat[evs, None, :]
                ).sum(0)
                gx = x_mat[evs].sum(0)
                for j in range(d):
                    f = j / d
                    s0s, s1s, s2s = s0 - f * e0, s1 - f * e1, s2 - f * e2
                    g += gx / d - s1s / s0s
                    hess += s2s / s0s - np.outer(s1s / s0s, s1s / s0s)
            delta = np.linalg.solve(hess, g)
            beta += delta
            if np.abs(delta).max() < tol:
                break
        return beta

    rng = np.random.RandomState(5)
    n = 250
    x = np.column_stack([rng.binomial(1, 0.5, n), np.round(rng.randn(n), 2)])
    true = np.array([0.8, -0.5])
    t_true = np.ceil(
        -np.log(rng.rand(n)) / (0.15 * np.exp(x @ true))
    ).astype(int)
    c = rng.randint(1, 20, n)
    e = (t_true <= c).astype(int)
    t_obs = np.minimum(t_true, c)
    df = spark.createDataFrame(
        [
            (int(tt), int(ee), int(x0), float(x1))
            for tt, ee, x0, x1 in zip(t_obs, e, x[:, 0], x[:, 1])
        ],
        "dur int, ev int, x0 int, x1 double",
    )
    ef = {
        r.feature: r.coefficient
        for r in cox_ph(df, "dur", "ev", ["x0", "x1"], ties="efron").collect()
    }
    b_ref = cox_ref(t_obs, e, x)
    assert abs(ef["x0"] - b_ref[0]) < 1e-6 and abs(ef["x1"] - b_ref[1]) < 1e-6
    br = {
        r.feature: r.coefficient
        for r in cox_ph(df, "dur", "ev", ["x0", "x1"]).collect()
    }
    assert abs(br["x0"] - ef["x0"]) > 1e-4  # ties present -> estimators differ
    # tie-free: identical
    t_u = t_obs * 1000 + np.arange(n)
    dfu = spark.createDataFrame(
        [
            (int(tt), int(ee), int(x0), float(x1))
            for tt, ee, x0, x1 in zip(t_u, e, x[:, 0], x[:, 1])
        ],
        "dur long, ev int, x0 int, x1 double",
    )
    oe = {r.feature: r.coefficient for r in cox_ph(dfu, "dur", "ev", ["x0", "x1"], ties="efron").collect()}
    ob = {r.feature: r.coefficient for r in cox_ph(dfu, "dur", "ev", ["x0", "x1"]).collect()}
    assert abs(oe["x0"] - ob["x0"]) < 1e-9 and abs(oe["x1"] - ob["x1"]) < 1e-9
    with pytest.raises(ValueError, match="ties"):
        cox_ph(df, "dur", "ev", ["x0"], ties="exact")


def test_ks_w1_invariance_properties(spark):
    """Distribution-test invariants: KS D is invariant under strictly
    monotone transforms (it only reads ECDF order), W1 is
    scale-EQUIVARIANT (W1(c·X) = c·W1(X)) and shift-invariant in the
    gap sense (W1(X+c, Y+c) = W1(X, Y)) — the properties that make
    them trustworthy drift metrics."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import (
        ks_two_sample,
        wasserstein_1d,
    )

    rng = np.random.RandomState(41)
    a = np.round(rng.gamma(2, 3, 200), 2)
    b = np.round(rng.gamma(3, 3, 150), 2)

    def frame(xa, xb):
        rows = [("a", float(v)) for v in xa] + [("b", float(v)) for v in xb]
        return spark.createDataFrame(rows, "g string, v double")

    d0 = ks_two_sample(frame(a, b), "v", "g", "a", "b").collect()[0].d_stat
    # strictly monotone transform: exp(x/10)
    d1 = ks_two_sample(
        frame(np.exp(a / 10), np.exp(b / 10)), "v", "g", "a", "b"
    ).collect()[0].d_stat
    assert abs(d0 - d1) < 1e-12

    w0 = wasserstein_1d(frame(a, b), "v", "g", "a", "b").collect()[0].w1
    w3 = wasserstein_1d(frame(3 * a, 3 * b), "v", "g", "a", "b").collect()[0].w1
    assert abs(w3 - 3 * w0) < 1e-9
    ws = wasserstein_1d(
        frame(a + 100, b + 100), "v", "g", "a", "b"
    ).collect()[0].w1
    assert abs(ws - w0) < 1e-9


def test_round10_hardening_guards(spark):
    """Round-10 self-review guards: cochran_armitage raises on
    fractional bucket scores and non-0/1 successes; aalen_johansen
    excludes NULL durations from risk sets."""
    import pytest

    from parquet_on_fhir_spark.operators.analytics import (
        aalen_johansen,
        cochran_armitage_trend,
    )

    frac = spark.createDataFrame(
        [(1.5, 1), (2.0, 0), (2.5, 1), (3.0, 0)], "b double, y int"
    )
    with pytest.raises(Exception, match="integer-valued"):
        cochran_armitage_trend(frac, "b", "y").collect()
    counts = spark.createDataFrame(
        [(1, 3), (2, 0), (3, 1)], "b int, y int"
    )
    with pytest.raises(Exception, match="0/1"):
        cochran_armitage_trend(counts, "b", "y").collect()

    rows = [(5, "a"), (None, "a"), (7, None), (None, None), (9, "b")]
    df = spark.createDataFrame(rows, "dur int, cause string")
    out = aalen_johansen(df, "dur", "cause", ["a", "b"]).collect()
    # only non-NULL durations participate: times {5, 7, 9}, N = 3
    assert sorted({r.t for r in out}) == [5, 7, 9]
    assert max(r.n_risk for r in out) == 3


def test_ks_w1_quantize_hatch(spark):
    """The continuous-metric escape hatch: quantized KS/W1 stay within
    the documented error bounds of the unquantized statistics (D moves
    by at most the rebucketed mass; W1 by at most quantize/2) and the
    distinct-value frame actually shrinks."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import (
        ks_two_sample,
        wasserstein_1d,
    )

    rng = np.random.RandomState(55)
    a = rng.normal(10, 2, 400)   # full-precision doubles
    b = rng.normal(11, 2, 300)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    d0 = ks_two_sample(df, "v", "g", "a", "b").collect()[0].d_stat
    dq = ks_two_sample(
        df, "v", "g", "a", "b", quantize=0.1
    ).collect()[0].d_stat
    assert abs(dq - d0) < 0.05  # rebucketed mass at 0.1-wide edges
    w0 = wasserstein_1d(df, "v", "g", "a", "b").collect()[0].w1
    wq = wasserstein_1d(
        df, "v", "g", "a", "b", quantize=0.1
    ).collect()[0].w1
    assert abs(wq - w0) <= 0.05 + 1e-9  # quantize/2 bound


def test_brier_decomposition_matches_numpy(spark):
    """brier_decomposition (r11) vs a direct numpy computation of the
    Murphy components, plus the exact identity binned-Brier =
    REL - RES + UNC (which holds when forecasts are collapsed to their
    bin means — the decomposition's defining property)."""
    import numpy as np

    from parquet_on_fhir_spark.operators.analytics import (
        brier_decomposition,
    )

    rng = np.random.default_rng(5)
    p = rng.uniform(0, 1, 400)
    o = (rng.uniform(0, 1, 400) < p * 0.8 + 0.1).astype(float)
    df = spark.createDataFrame(
        [(float(a), bool(b)) for a, b in zip(p, o)]
        + [(None, True), (0.5, None)],  # NULLs are excluded, not biased in
        "prob double, outcome boolean",
    )
    row = brier_decomposition(df, "prob", "outcome", n_bins=10).collect()[0]

    bins = np.minimum((p * 10).astype(int), 9)
    n = len(p)
    obar = o.mean()
    rel = res = 0.0
    binned_brier = 0.0
    for b in range(10):
        m = bins == b
        if not m.any():
            continue
        nb, fb, ob = m.sum(), p[m].mean(), o[m].mean()
        rel += nb * (fb - ob) ** 2 / n
        res += nb * (ob - obar) ** 2 / n
        binned_brier += ((fb - o[m]) ** 2).sum() / n
    assert row["n"] == n
    assert abs(row["brier"] - ((p - o) ** 2).mean()) < 1e-12
    assert abs(row["reliability"] - rel) < 1e-12
    assert abs(row["resolution"] - res) < 1e-12
    assert abs(row["uncertainty"] - obar * (1 - obar)) < 1e-12
    # Murphy identity on the binned forecast
    assert abs(
        (row["reliability"] - row["resolution"] + row["uncertainty"])
        - binned_brier
    ) < 1e-12


def test_rank_biased_overlap_reference_and_extremes(spark):
    """rank_biased_overlap (r11) vs a pure-python truncated RBO;
    identical rankings give 1 - p^d, disjoint top-d give 0, and a
    partial agreement matches the reference sum term-for-term."""
    from parquet_on_fhir_spark.operators.analytics import (
        rank_biased_overlap,
    )

    def ref_rbo(la, lb, p, d):
        tot = 0.0
        for k in range(1, d + 1):
            ov = len(set(la[:k]) & set(lb[:k]))
            tot += (1 - p) * p ** (k - 1) * ov / k
        return tot

    def to_df(lst):
        # score = descending position
        return spark.createDataFrame(
            [(x, float(len(lst) - i)) for i, x in enumerate(lst)],
            "item long, score double",
        )

    la = [1, 2, 3, 4, 5, 6, 7, 8]
    lb = [2, 1, 3, 9, 5, 10, 7, 11]
    d = 6
    got = rank_biased_overlap(
        to_df(la), to_df(lb), "item", "score", p=0.8, depth=d
    ).collect()[0]
    assert abs(got["rbo"] - ref_rbo(la, lb, 0.8, d)) < 1e-12
    assert got["overlap_at_depth"] == len(set(la[:d]) & set(lb[:d]))
    same = rank_biased_overlap(
        to_df(la), to_df(la), "item", "score", p=0.8, depth=d
    ).collect()[0]
    assert abs(same["rbo"] - (1 - 0.8**d)) < 1e-12
    disj = rank_biased_overlap(
        to_df([1, 2, 3]), to_df([4, 5, 6]), "item", "score", p=0.8, depth=3
    ).collect()[0]
    assert disj["rbo"] == 0.0


def test_bh_fdr_matches_reference_and_per_key(spark):
    """bh_fdr vs the textbook step-up procedure run in plain python
    (sort, suffix min of m·p/i, cap at 1), including tied p-values
    receiving identical adjusted values, plus the r11 key_cols mode:
    each key runs its own independent BH family."""
    from parquet_on_fhir_spark.operators.analytics import bh_fdr

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205,
          0.205, 0.8, 1.0, 0.0001]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "hid long, p double"
    )
    got = {
        r["hid"]: (r["p_adj"], r["rejected"])
        for r in bh_fdr(df, "p", q=0.05, tie_cols=["hid"]).collect()
    }

    def ref(ps_, q):
        m = len(ps_)
        order = sorted(range(m), key=lambda i: (ps_[i], i))
        raw = [ps_[i] * m / (r + 1) for r, i in enumerate(order)]
        suffix = raw[:]
        for r in range(m - 2, -1, -1):
            suffix[r] = min(suffix[r], suffix[r + 1])
        return {
            i: min(suffix[r], 1.0) for r, i in enumerate(order)
        }

    exp = ref(ps, 0.05)
    for i in range(len(ps)):
        assert abs(got[i][0] - exp[i]) < 1e-12, (i, got[i][0], exp[i])
        # k* step-up rejection == adjusted-p ≤ q (the standard identity)
        assert got[i][1] == (exp[i] <= 0.05)
    # the two tied 0.205 hypotheses get the same adjusted value
    assert got[7][0] == got[8][0]

    # key_cols: two segments adjust INDEPENDENTLY — segment b's small
    # family must not inflate segment a's m
    seg = [("a", i, p) for i, p in enumerate(ps)] + [
        ("b", i, p) for i, p in enumerate([0.01, 0.2, 0.9])
    ]
    sdf = spark.createDataFrame(seg, "seg string, hid long, p double")
    per = {
        (r["seg"], r["hid"]): r["p_adj"]
        for r in bh_fdr(
            sdf, "p", q=0.05, tie_cols=["hid"], key_cols=["seg"]
        ).collect()
    }
    expb = ref([0.01, 0.2, 0.9], 0.05)
    for i in range(len(ps)):
        assert abs(per[("a", i)] - exp[i]) < 1e-12
    for i in range(3):
        assert abs(per[("b", i)] - expb[i]) < 1e-12


def test_weighted_sample_wor_matches_reference(spark):
    """weighted_sample_wor (r11) vs a hashlib recomputation of the
    Efraimidis-Spirakis keys: same top-k set, zero/negative/NULL
    weights excluded, and heavier items dominate across seeds."""
    import hashlib

    from pyspark.sql import functions as F

    from parquet_on_fhir_spark.operators.curation import (
        weighted_sample_wor,
    )

    rows = [(i, float(w)) for i, w in enumerate(
        [1, 5, 0, 100, 2, 50, 3, -1, 10, 4, 7, 20, 1, 1, 1, 60]
    )]
    df = spark.createDataFrame(rows, "id long, w double").withColumn(
        "w", F.when(F.col("id") == 14, None).otherwise(F.col("w"))
    )

    def key(i, w, seed):
        u = (int(hashlib.md5(
            f"ws{seed}:{i}".encode()).hexdigest()[:15], 16) + 1) / 2**60
        import math

        return math.log(u) / w

    for seed in (0, 7):
        got = {
            r["id"]
            for r in weighted_sample_wor(df, "id", "w", 5, seed=seed).collect()
        }
        eligible = [(i, w) for i, w in rows if w > 0 and i != 14]
        exp = {
            i
            for i, _ in sorted(
                eligible, key=lambda t: (-key(t[0], t[1], seed), t[0])
            )[:5]
        }
        assert got == exp, (seed, got, exp)
    # excluded ids never appear even with k > eligible count
    allr = weighted_sample_wor(df, "id", "w", 100, seed=0).collect()
    assert {r["id"] for r in allr}.isdisjoint({2, 7, 14})


def test_fisher_exact_matches_exact_fractions(spark):
    """fisher_exact vs an independent exact-fractions reference over
    several planted 2x2 tables, including zero cells and the
    degenerate all-one-margin case."""
    from fractions import Fraction
    from math import comb

    from parquet_on_fhir_spark.operators.analytics import fisher_exact

    def ref(a, b, c, d):
        r1, r2, c1, n = a + b, c + d, a + c, a + b + c + d
        wobs = comb(r1, a) * comb(r2, c1 - a)
        tot = comb(n, c1)
        ks = range(max(0, c1 - r2), min(r1, c1) + 1)
        p2 = Fraction(
            sum(
                comb(r1, k) * comb(r2, c1 - k)
                for k in ks
                if comb(r1, k) * comb(r2, c1 - k) <= wobs
            ),
            tot,
        )
        pge = Fraction(
            sum(comb(r1, k) * comb(r2, c1 - k) for k in ks if k >= a), tot
        )
        ple = Fraction(
            sum(comb(r1, k) * comb(r2, c1 - k) for k in ks if k <= a), tot
        )
        return (
            round(float(p2), 12),
            round(float(pge), 12),
            round(float(ple), 12),
        )

    tables = [
        (8, 2, 1, 5),  # the classic tea-tasting-like small table
        (0, 10, 10, 0),  # perfect separation
        (3, 0, 0, 3),
        (5, 5, 5, 5),  # perfectly balanced -> p_two = 1.0
        (1, 9, 11, 3),
        (20, 30, 25, 25),  # n = 100, near the DECIMAL envelope
        (0, 0, 4, 6),  # empty exposure row margin
    ]
    for a, b, c, d in tables:
        rows = (
            [(True, True)] * a
            + [(True, False)] * b
            + [(False, True)] * c
            + [(False, False)] * d
        )
        df = spark.createDataFrame(rows, ["e", "o"])
        got = fisher_exact(df, "e", "o").collect()[0]
        assert (got["a"], got["b"], got["c"], got["d"]) == (a, b, c, d)
        p2, pge, ple = ref(a, b, c, d)
        assert got["p_two_sided"] == p2, (a, b, c, d, got["p_two_sided"], p2)
        assert got["p_greater"] == pge
        assert got["p_less"] == ple


def test_fisher_exact_null_rows_excluded_and_envelope_guard(spark):
    import pytest

    from parquet_on_fhir_spark.operators.analytics import fisher_exact

    rows = [(True, True), (True, None), (None, False), (False, False)]
    df = spark.createDataFrame(rows, ["e", "o"])
    got = fisher_exact(df, "e", "o").collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (1, 0, 0, 1)

    # n = 200: the k-grid's binomial fold would overflow DECIMAL(38,0),
    # so the guard on the cells must raise first, with its own message
    big = spark.range(200).selectExpr(
        "id % 2 = 0 AS e", "id % 3 = 0 AS o"
    )
    with pytest.raises(Exception, match=r"fisher_exact: n > 120 exceeds"):
        fisher_exact(big, "e", "o").collect()


def test_mcnemar_exact_matches_binomial_reference(spark):
    from math import comb

    from parquet_on_fhir_spark.operators.analytics import mcnemar_exact

    tables = [  # (n11, b, c, n00) — concordant counts must NOT matter
        (10, 3, 9, 5),
        (0, 7, 7, 0),  # b == c → p = 1.0
        (50, 0, 6, 2),  # zero b margin
        (4, 0, 0, 4),  # no discordant pairs at all
        (1, 25, 12, 1),
    ]
    for n11, b, c, n00 in tables:
        rows = (
            [(True, True)] * n11
            + [(True, False)] * b
            + [(False, True)] * c
            + [(False, False)] * n00
        )
        df = spark.createDataFrame(rows, ["pre", "post"])
        got = mcnemar_exact(df, "pre", "post").collect()[0]
        assert got["n_pairs"] == n11 + b + c + n00
        assert (got["b"], got["c"]) == (b, c)
        n = b + c
        if n == 0:
            want = 1.0
        else:
            tail = sum(comb(n, k) for k in range(0, min(b, c) + 1))
            want = round(min(1.0, 2 * tail / 2**n), 12)
        assert got["p_two_sided"] == want, (b, c, got["p_two_sided"], want)
        if c > 0:
            assert got["odds_ratio"] == round(b / c, 12)
        else:
            assert got["odds_ratio"] is None


def test_mcnemar_exact_null_pairs_and_envelope(spark):
    import pytest

    from parquet_on_fhir_spark.operators.analytics import mcnemar_exact

    df = spark.createDataFrame(
        [(True, False), (None, True), (False, None), (False, True)],
        ["pre", "post"],
    )
    got = mcnemar_exact(df, "pre", "post").collect()[0]
    assert got["n_pairs"] == 2 and (got["b"], got["c"]) == (1, 1)

    # b + c = 150: the fold would overflow first without the cell guard
    big = spark.range(300).selectExpr("id % 2 = 0 AS pre", "id % 3 = 0 AS post")
    with pytest.raises(Exception, match=r"mcnemar_exact: b \+ c > 120 exceeds"):
        mcnemar_exact(big, "pre", "post").collect()


def test_msprt_monitor_matches_reference_and_peeking_guarantee(spark):
    """msprt_monitor vs an independent python recurrence (exact-decimal
    cumulative moments); always-valid p is monotone non-increasing;
    a planted lift drives p down while a null effect keeps it high;
    parameter guards."""
    import datetime as dt
    import math
    import random

    import pytest

    from parquet_on_fhir_spark.operators.analytics import msprt_monitor

    def simulate(lift):
        rng = random.Random(5)
        rows = []
        for d in range(10):
            for i in range(40):
                ts = dt.datetime(2024, 1, 1 + d, i % 24)
                arm = i % 2
                val = round(rng.gauss(10 + (lift if arm == 0 else 0), 2), 2)
                rows.append((ts, arm, val))
        return rows

    rows = simulate(0.8)
    df = spark.createDataFrame(rows, ["ts", "arm", "value"])
    got = (
        msprt_monitor(df, "ts", "arm", "value", 0, 1, tau=1.0, value_dp=2)
        .orderBy("bucket")
        .collect()
    )
    # independent reference with exact Fraction accumulation
    from fractions import Fraction

    days = sorted({r[0].date() for r in rows})
    cum = {"na": 0, "nb": 0, "sa": Fraction(0), "sb": Fraction(0),
           "qa": Fraction(0), "qb": Fraction(0)}
    run_min = 1.0
    for d, r in zip(days, got):
        for ts, arm, val in rows:
            if ts.date() == d:
                v = Fraction(str(round(val, 2)))
                if arm == 0:
                    cum["na"] += 1
                    cum["sa"] += v
                    cum["qa"] += v * v
                else:
                    cum["nb"] += 1
                    cum["sb"] += v
                    cum["qb"] += v * v
        na, nb = cum["na"], cum["nb"]
        delta = float(cum["sa"]) / na - float(cum["sb"]) / nb
        ss = (float(cum["qa"]) - float(cum["sa"]) ** 2 / na) + (
            float(cum["qb"]) - float(cum["sb"]) ** 2 / nb
        )
        s2 = ss / (na + nb - 2)
        vn = s2 * (1 / na + 1 / nb)
        lam = round(
            math.sqrt(vn / (vn + 1))
            * math.exp(delta * delta / (2 * vn * (vn + 1))),
            12,
        )
        run_min = min(run_min, round(1 / lam, 12) if lam > 1 else 1.0)
        assert r["n_a"] == na and r["n_b"] == nb
        assert abs(r["lambda_stat"] - lam) < 1e-9, (d, r["lambda_stat"], lam)
        assert abs(r["p_always_valid"] - run_min) < 1e-9

    ps = [r["p_always_valid"] for r in got]
    assert all(a >= b for a, b in zip(ps, ps[1:]))  # monotone
    assert ps[-1] < 0.05  # the planted lift is detected

    null_df = spark.createDataFrame(simulate(0.0), ["ts", "arm", "value"])
    null_p = (
        msprt_monitor(null_df, "ts", "arm", "value", 0, 1, value_dp=2)
        .orderBy("bucket")
        .collect()[-1]["p_always_valid"]
    )
    assert null_p > 0.05  # no effect -> no (spurious) detection

    with pytest.raises(ValueError, match="tau"):
        msprt_monitor(df, "ts", "arm", "value", 0, 1, tau=0.0)
    with pytest.raises(ValueError, match="value_dp"):
        msprt_monitor(df, "ts", "arm", "value", 0, 1, value_dp=6)


def test_cohens_d_and_bland_altman_references(spark):
    import math
    import random
    import statistics

    from parquet_on_fhir_spark.operators.analytics import (
        bland_altman,
        cohens_d,
    )

    rng = random.Random(3)
    rows = [("a", round(rng.gauss(10, 2), 2)) for _ in range(50)] + [
        ("b", round(rng.gauss(9, 2), 2)) for _ in range(40)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = cohens_d(df, "g", "a", "b", "v").collect()[0]
    va = [v for g, v in rows if g == "a"]
    vb = [v for g, v in rows if g == "b"]
    sp = math.sqrt(
        (
            (len(va) - 1) * statistics.variance(va)
            + (len(vb) - 1) * statistics.variance(vb)
        )
        / (len(va) + len(vb) - 2)
    )
    d_ref = (statistics.mean(va) - statistics.mean(vb)) / sp
    assert abs(r["cohens_d"] - d_ref) < 1e-9
    assert abs(r["hedges_g"] - d_ref * (1 - 3 / (4 * 90 - 9))) < 1e-9
    # degenerate: single-value group -> NULL effect
    tiny = spark.createDataFrame([("a", 1.0), ("b", 2.0), ("b", 3.0)], ["g", "v"])
    assert cohens_d(tiny, "g", "a", "b", "v").collect()[0]["cohens_d"] is None

    pairs = [
        (m1, round(m1 * 1.02 + rng.gauss(0.5, 1.5), 2))
        for m1 in (round(rng.gauss(100, 10), 2) for _ in range(80))
    ]
    r = bland_altman(spark.createDataFrame(pairs, ["m1", "m2"]), "m1", "m2").collect()[0]
    diffs = [round(m1 - m2, 2) for m1, m2 in pairs]
    bias = statistics.mean(diffs)
    sd = statistics.stdev(diffs)
    assert abs(r["bias"] - bias) < 1e-9
    assert abs(r["loa_lo"] - (bias - 1.96 * sd)) < 1e-9
    assert r["n_outside"] == sum(
        1 for d in diffs if d < bias - 1.96 * sd or d > bias + 1.96 * sd
    )


def test_icc_and_deming_references(spark):
    import math
    import random
    import statistics
    from collections import defaultdict

    import pytest

    from parquet_on_fhir_spark.operators.analytics import (
        deming_regression,
        icc_oneway,
    )

    rng = random.Random(3)
    subj = []
    for s in range(30):
        true = rng.gauss(50, 8)
        for _ in range(rng.randint(2, 4)):
            subj.append((s, round(true + rng.gauss(0, 2), 2)))
    r = icc_oneway(
        spark.createDataFrame(subj, ["s", "v"]), "s", "v"
    ).collect()[0]
    by = defaultdict(list)
    for s, v in subj:
        by[s].append(v)
    n, N = len(by), len(subj)
    gm = statistics.mean([v for _, v in subj])
    msb = sum(
        len(vs) * (statistics.mean(vs) - gm) ** 2 for vs in by.values()
    ) / (n - 1)
    msw = sum(
        (v - statistics.mean(vs)) ** 2 for vs in by.values() for v in vs
    ) / (N - n)
    k0 = (N - sum(len(vs) ** 2 for vs in by.values()) / N) / (n - 1)
    icc_ref = (msb - msw) / (msb + (k0 - 1) * msw)
    assert abs(r["icc"] - icc_ref) < 1e-9
    assert r["icc"] > 0.8  # planted strong subject effect
    assert r["n_subjects"] == n and r["n_obs"] == N

    xy = [
        (x, round(1.05 * x - 3 + rng.gauss(0, 2), 2))
        for x in (round(rng.gauss(100, 15), 2) for _ in range(100))
    ]
    r = deming_regression(
        spark.createDataFrame(xy, ["x", "y"]), "x", "y"
    ).collect()[0]
    mx = statistics.mean(x for x, _ in xy)
    my = statistics.mean(y for _, y in xy)
    sxx = sum((x - mx) ** 2 for x, _ in xy)
    syy = sum((y - my) ** 2 for _, y in xy)
    sxy = sum((x - mx) * (y - my) for x, y in xy)
    slope_ref = (syy - sxx + math.sqrt((syy - sxx) ** 2 + 4 * sxy**2)) / (
        2 * sxy
    )
    assert abs(r["slope"] - slope_ref) < 1e-8
    assert abs(r["intercept"] - (my - slope_ref * mx)) < 1e-6
    assert abs(r["slope"] - 1.05) < 0.02  # recovers the planted relation

    with pytest.raises(ValueError, match="lambda"):
        deming_regression(
            spark.createDataFrame(xy, ["x", "y"]), "x", "y", lambda_=0
        )
