"""Unit tests for the round-10 rank-statistics & concentration wave:
kruskal_wallis, kendall_tau_cells, gini_index, seasonal_naive_mase —
each pinned against an independent brute-force replay on fixtures
(no scipy in the container; the replays are direct definitional
implementations, not re-uses of the operator's decomposition).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdataframe_spark.operators.diagnostics import gini_index
from mdataframe_spark.operators.stats_tests import (
    kendall_tau_cells,
    kruskal_wallis,
)
from mdataframe_spark.operators.timeseries import seasonal_naive_mase

HOUR_NS = 3_600_000_000_000


# --- kruskal-wallis --------------------------------------------------

def _kw_reference(values, groups):
    """Definitional tie-corrected H via midranks."""
    v = np.asarray(values, dtype=float)
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v))
    sv = v[order]
    i = 0
    r = 1
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        mid = (r + (r + (j - i) - 1)) / 2.0
        ranks[order[i:j]] = mid
        r += j - i
        i = j
    n = len(v)
    groups = np.asarray(groups)
    sr = 0.0
    for g in np.unique(groups):
        m = groups == g
        sr += ranks[m].sum() ** 2 / m.sum()
    h = 12.0 / (n * (n + 1)) * sr - 3 * (n + 1)
    _, counts = np.unique(v, return_counts=True)
    c = 1.0 - (counts**3 - counts).sum() / (n**3 - n)
    return h / c


def test_kruskal_wallis_matches_definitional_replay(spark):
    vals = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 7.0, 8.0, 2.0, 9.0, 4.0]
    grps = ["a", "a", "b", "b", "b", "c", "c", "c", "a", "c", "b", "a"]
    df = spark.createDataFrame(
        list(zip(vals, grps)), "v DOUBLE, g STRING"
    )
    row = kruskal_wallis(df, "v", "g", with_p=False).collect()[0]
    assert row["n_groups"] == 3 and row["n"] == 12
    assert row["h_stat"] == pytest.approx(
        _kw_reference(vals, grps), abs=1e-5
    )


def test_kruskal_wallis_p_value_in_range_and_degenerate_cases(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    grps = ["a", "a", "b", "b", "c", "c"]
    df = spark.createDataFrame(list(zip(vals, grps)), "v DOUBLE, g STRING")
    row = kruskal_wallis(df, "v", "g").collect()[0]
    assert 0.0 < row["p_value"] < 1.0
    # all values tied -> C = 0 -> H NULL
    tied = spark.createDataFrame(
        [(2.0, "a"), (2.0, "a"), (2.0, "b")], "v DOUBLE, g STRING"
    )
    assert kruskal_wallis(tied, "v", "g", with_p=False).collect()[0][
        "h_stat"
    ] is None
    # single group -> NULL
    one = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a")], "v DOUBLE, g STRING"
    )
    assert kruskal_wallis(one, "v", "g", with_p=False).collect()[0][
        "h_stat"
    ] is None


# --- kendall tau-b ---------------------------------------------------

def _tau_b_reference(x, y):
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    n = len(x)
    p = q = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = x[j] - x[i]
            dy = y[j] - y[i]
            if dx * dy > 0:
                p += 1
            elif dx * dy < 0:
                q += 1
    n0 = n * (n - 1) / 2
    _, tx = np.unique(x, return_counts=True)
    _, ty = np.unique(y, return_counts=True)
    n1 = (tx * (tx - 1) / 2).sum()
    n2 = (ty * (ty - 1) / 2).sum()
    return p, q, (p - q) / np.sqrt((n0 - n1) * (n0 - n2))


def test_kendall_tau_matches_definitional_replay(spark):
    x = [1, 2, 2, 3, 4, 4, 5, 6, 1, 3]
    y = [2, 1, 3, 3, 5, 4, 6, 5, 1, 2]
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x DOUBLE, y DOUBLE"
    )
    row = kendall_tau_cells(df, "x", "y").collect()[0]
    p, q, tau = _tau_b_reference(x, y)
    assert row["n"] == 10
    assert row["concordant"] == p
    assert row["discordant"] == q
    assert row["tau_b"] == pytest.approx(tau, abs=1e-6)


def test_kendall_tau_perfect_and_reversed_and_tied(spark):
    inc = spark.createDataFrame(
        [(float(i), float(i * 2)) for i in range(6)], "x DOUBLE, y DOUBLE"
    )
    assert kendall_tau_cells(inc, "x", "y").collect()[0]["tau_b"] == 1.0
    dec = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(6)], "x DOUBLE, y DOUBLE"
    )
    assert kendall_tau_cells(dec, "x", "y").collect()[0]["tau_b"] == -1.0
    # fully tied margin -> NULL
    tied = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (1.0, 3.0)], "x DOUBLE, y DOUBLE"
    )
    assert kendall_tau_cells(tied, "x", "y").collect()[0]["tau_b"] is None


# --- gini index ------------------------------------------------------

def _gini_reference(values):
    v = np.sort(np.asarray(values, dtype=float))
    n = len(v)
    ranks = np.arange(1, n + 1)
    return 2 * (ranks * v).sum() / (n * v.sum()) - (n + 1) / n


def test_gini_fixture_and_replay(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in [1, 1, 2]], "v DOUBLE"
    )
    row = gini_index(df, "v").collect()[0]
    assert row["group"] == "all" and row["n"] == 3
    assert row["total"] == 4.0
    assert row["gini"] == pytest.approx(1.0 / 6.0, abs=1e-6)
    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    df2 = spark.createDataFrame([(float(v),) for v in vals], "v DOUBLE")
    got = gini_index(df2, "v").collect()[0]["gini"]
    assert got == pytest.approx(_gini_reference(vals), abs=1e-6)


def test_gini_ties_get_midranks_order_independent(spark):
    # sorted-rank references disagree on tie ordering; the midrank
    # identity must give the same answer for any permutation
    vals = [2.0, 2.0, 2.0, 8.0]
    for perm in ([2.0, 8.0, 2.0, 2.0], [8.0, 2.0, 2.0, 2.0]):
        df = spark.createDataFrame([(v,) for v in perm], "v DOUBLE")
        got = gini_index(df, "v").collect()[0]["gini"]
        # direct trapezoid-Lorenz for [2,2,2,8]: G = 2*Σ r·v/(n·S)−(n+1)/n
        # with midranks r = (2,2,2,4) for the tie block (1..3 mid 2)
        expect = 2 * (2 * 2 + 2 * 2 + 2 * 2 + 4 * 8) / (4 * 14.0) - 5 / 4.0
        assert got == pytest.approx(expect, abs=1e-6)


def test_gini_edge_cases(spark):
    # equality -> 0; single row -> NULL; negatives rejected
    eq = spark.createDataFrame([(5.0,)] * 4, "v DOUBLE")
    assert gini_index(eq, "v").collect()[0]["gini"] == 0.0
    one = spark.createDataFrame([(5.0,)], "v DOUBLE")
    assert gini_index(one, "v").collect()[0]["gini"] is None
    neg = spark.createDataFrame(
        [(-1.0,), (2.0,), (3.0,)], "v DOUBLE"
    )
    assert gini_index(neg, "v").collect()[0]["n"] == 2


def test_gini_grouped(spark):
    rows = [("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = {r["group"]: r for r in gini_index(df, "v", "g").collect()}
    assert out["a"]["gini"] == pytest.approx(1.0 / 6.0, abs=1e-6)
    assert out["b"]["gini"] == 0.0


# --- seasonal-naive MASE ---------------------------------------------

def _events_df(spark, counts):
    rows = []
    for b, n in enumerate(counts):
        for j in range(n):
            rows.append((b * HOUR_NS + j * 1_000_000,))
    return spark.createDataFrame(rows, "ts BIGINT")


def test_mase_strong_seasonality(spark):
    # period-3 series repeated: seasonal-naive (lag 3) is PERFECT
    # (MAE 0 -> mase NULL denominator guard), so use a near-perfect
    # one: one bucket off by 1
    counts = [5, 1, 9] * 4
    counts[-1] = 10
    df = _events_df(spark, counts)
    row = seasonal_naive_mase(df, season_lag=3).collect()[0]
    n = len(counts)
    naive = [abs(counts[i] - counts[i - 1]) for i in range(1, n)]
    seas = [abs(counts[i] - counts[i - 3]) for i in range(3, n)]
    assert row["n_naive"] == len(naive)
    assert row["n_seasonal"] == len(seas)
    assert row["mae_naive"] == pytest.approx(np.mean(naive), abs=1e-6)
    assert row["mae_seasonal"] == pytest.approx(np.mean(seas), abs=1e-6)
    assert row["mase"] == pytest.approx(
        np.mean(naive) / np.mean(seas), abs=1e-6
    )
    assert row["mase"] > 5  # strong seasonality


def test_mase_perfect_seasonal_is_null(spark):
    df = _events_df(spark, [5, 1, 9] * 4)
    assert seasonal_naive_mase(df, season_lag=3).collect()[0]["mase"] is None


def test_mase_missing_buckets_are_complete_case(spark):
    # bucket 2 empty (absent row, not zero): naive pairs where both
    # buckets exist are (1,0),(4,3),(5,4); seasonal lag-3 pairs are
    # (3,0),(4,1) — (5,2) drops because bucket 2 is absent
    counts = [2, 3, 0, 4, 6, 1]
    df = _events_df(spark, counts)
    row = seasonal_naive_mase(df, season_lag=3).collect()[0]
    assert row["n_naive"] == 3
    assert row["n_seasonal"] == 2
    assert row["mae_naive"] == pytest.approx((1 + 2 + 5) / 3.0, abs=1e-6)
    assert row["mae_seasonal"] == pytest.approx((2 + 3) / 2.0, abs=1e-6)
    assert row["mase"] == pytest.approx((8 / 3.0) / 2.5, abs=1e-6)


def test_mase_rejects_degenerate_lag(spark):
    df = _events_df(spark, [1, 2, 3])
    with pytest.raises(ValueError, match="season_lag"):
        seasonal_naive_mase(df, season_lag=1)


# --- kaplan-meier ----------------------------------------------------

def test_kaplan_meier_textbook_fixture(spark):
    rows = [(1.0, 1), (2.0, 0), (3.0, 1), (3.0, 1), (4.0, 0), (5.0, 1)]
    df = spark.createDataFrame(rows, "dur DOUBLE, ev INT")
    from mdataframe_spark.operators.survival import kaplan_meier

    out = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert out[1.0]["n_at_risk"] == 6 and out[1.0]["n_events"] == 1
    assert out[1.0]["survival"] == pytest.approx(5 / 6, abs=1e-6)
    # censoring at t=2 leaves the curve flat but shrinks the risk set
    assert out[2.0]["n_censored"] == 1
    assert out[2.0]["survival"] == out[1.0]["survival"]
    assert out[3.0]["n_at_risk"] == 4 and out[3.0]["n_events"] == 2
    assert out[3.0]["survival"] == pytest.approx(5 / 12, abs=1e-6)
    assert out[5.0]["n_at_risk"] == 1
    assert out[5.0]["survival"] == 0.0


def test_kaplan_meier_monotone_and_no_censoring_equals_ecdf(spark):
    from mdataframe_spark.operators.survival import kaplan_meier

    durs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame([(d, 1) for d in durs], "dur DOUBLE, ev INT")
    rows = kaplan_meier(df, "dur", "ev").collect()
    surv = [r["survival"] for r in rows]
    assert surv == sorted(surv, reverse=True)
    # with zero censoring KM degenerates to 1 - ECDF
    n = len(durs)
    for r in rows:
        frac_gt = sum(1 for d in durs if d > r["t"]) / n
        assert r["survival"] == pytest.approx(frac_gt, abs=1e-6)


# --- code-review regressions: NaN populations & guard semantics ------

def test_rank_operators_drop_nan_like_null(spark):
    nan = float("nan")
    kw_clean = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b")],
        "v DOUBLE, g STRING",
    )
    kw_noisy = kw_clean.unionByName(
        spark.createDataFrame([(nan, "a"), (nan, "b")], "v DOUBLE, g STRING")
    )
    assert (
        kruskal_wallis(kw_noisy, "v", "g", with_p=False).collect()
        == kruskal_wallis(kw_clean, "v", "g", with_p=False).collect()
    )

    kt_clean = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 1.0), (3.0, 4.0)], "x DOUBLE, y DOUBLE"
    )
    kt_noisy = kt_clean.unionByName(
        spark.createDataFrame([(nan, 1.0), (1.0, nan)], "x DOUBLE, y DOUBLE")
    )
    assert (
        kendall_tau_cells(kt_noisy, "x", "y").collect()
        == kendall_tau_cells(kt_clean, "x", "y").collect()
    )

    gi_clean = spark.createDataFrame([(1.0,), (1.0,), (2.0,)], "v DOUBLE")
    gi_noisy = gi_clean.unionByName(
        spark.createDataFrame([(nan,)], "v DOUBLE")
    )
    assert (
        gini_index(gi_noisy, "v").collect()
        == gini_index(gi_clean, "v").collect()
    )

    from mdataframe_spark.operators.survival import kaplan_meier

    km_clean = spark.createDataFrame(
        [(1.0, 1), (2.0, 0), (3.0, 1)], "dur DOUBLE, ev INT"
    )
    km_noisy = km_clean.unionByName(
        spark.createDataFrame([(nan, 1)], "dur DOUBLE, ev INT")
    )
    assert (
        kaplan_meier(km_noisy, "dur", "ev").collect()
        == kaplan_meier(km_clean, "dur", "ev").collect()
    )


def test_kendall_constant_margin_counts_are_zero_not_null(spark):
    tied = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (1.0, 3.0)], "x DOUBLE, y DOUBLE"
    )
    row = kendall_tau_cells(tied, "x", "y").collect()[0]
    assert row["concordant"] == 0 and row["discordant"] == 0
    assert row["tau_b"] is None


# --- count-min join-size gate ----------------------------------------

def test_join_size_gate_exact_on_wide_sketch(spark):
    from mdataframe_spark.operators.sketches import count_min_join_size

    a = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3]], "k BIGINT"
    )
    b = spark.createDataFrame(
        [(k,) for k in [1, 2, 2, 4]], "k BIGINT"
    )
    # exact join size: 3*1 (k=1) + 2*2 (k=2) = 7
    r = count_min_join_size(a, b, "k", depth=3, width=1 << 16).collect()[0]
    assert (r["n_a"], r["n_b"]) == (6, 4)
    assert r["exact_join_size"] == 7
    assert r["cm_estimate"] >= 7  # never undercounts
    assert r["overcount"] == r["cm_estimate"] - 7
    assert r["within_bound"]
    # 3 distinct keys in 65536 buckets: md5 is deterministic, and this
    # fixture is collision-free at this width -> estimate is EXACT
    assert r["cm_estimate"] == 7


def test_join_size_gate_disjoint_keys(spark):
    from mdataframe_spark.operators.sketches import count_min_join_size

    a = spark.createDataFrame([(1,), (2,)], "k BIGINT")
    b = spark.createDataFrame([(3,), (4,)], "k BIGINT")
    r = count_min_join_size(a, b, "k", depth=3, width=1 << 16).collect()[0]
    assert r["exact_join_size"] == 0
    assert r["cm_estimate"] >= 0 and r["within_bound"]


def test_join_size_gate_narrow_sketch_still_one_sided(spark):
    from mdataframe_spark.operators.sketches import count_min_join_size

    import numpy as np

    rng = np.random.RandomState(13)
    a = spark.createDataFrame(
        [(int(k),) for k in rng.randint(0, 200, 500)], "k BIGINT"
    )
    b = spark.createDataFrame(
        [(int(k),) for k in rng.randint(0, 200, 300)], "k BIGINT"
    )
    # width 64 << 200 keys: heavy collisions, but the one-sided
    # guarantee and the certified bound must still hold
    r = count_min_join_size(a, b, "k", depth=3, width=64).collect()[0]
    assert r["overcount"] >= 0
    assert r["within_bound"]
