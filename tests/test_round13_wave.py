"""Semantic pins for the round-13 wave (oracle parity is covered by
tests/test_extra_parity.py; these check the MATH on hand-sized inputs
where the right answer is computable by hand, numpy or scipy-free
reference formulas)."""

import datetime
import math

import pytest
from pyspark.sql import functions as F

from mdataframe_spark.functions.stats import bh_adjust, storey_qvalue
from mdataframe_spark.operators.baskets import global_clustering
from mdataframe_spark.operators.diagnostics import ingest_gaps
from mdataframe_spark.operators.events import interevent_stats
from mdataframe_spark.operators.experiments import proportion_power_mde
from mdataframe_spark.operators.stats_tests import cvm_two_sample
from mdataframe_spark.operators.text import heaps_law_fit
from mdataframe_spark.operators.timeseries import cross_correlation


def _ts(h, m=0):
    return datetime.datetime(2024, 1, 1 + h // 24, h % 24, m, 0)


# --- Cramér–von Mises ----------------------------------------------------

def _cvm_reference(xs, ys):
    pooled = sorted(set(xs) | set(ys))
    n1, n2 = len(xs), len(ys)
    big_n = n1 + n2
    t = 0.0
    for v in pooled:
        mult = xs.count(v) + ys.count(v)
        f1 = sum(1 for x in xs if x <= v) / n1
        f2 = sum(1 for y in ys if y <= v) / n2
        t += mult * (f1 - f2) ** 2
    return n1 * n2 / big_n**2 * t


def test_cvm_matches_direct_enumeration(spark):
    xs = [1.0, 2.0, 2.0, 5.0, 7.0]
    ys = [2.0, 3.0, 6.0, 6.0]
    rows = [(v, True) for v in xs] + [(v, False) for v in ys]
    df = spark.createDataFrame(rows, "v double, g boolean")
    r = cvm_two_sample(df, "v", "g").collect()[0]
    assert r["n1"] == 5 and r["n2"] == 4
    assert r["cvm"] == pytest.approx(_cvm_reference(xs, ys), abs=1e-6)


def test_cvm_identical_samples_zero(spark):
    rows = [(float(v), bool(i % 2)) for v in (1, 2, 3, 4) for i in range(2)]
    df = spark.createDataFrame(rows, "v double, g boolean")
    r = cvm_two_sample(df, "v", "g").collect()[0]
    assert r["cvm"] == 0.0


def test_cvm_empty_group_null(spark):
    df = spark.createDataFrame([(1.0, True), (2.0, True)], "v double, g boolean")
    r = cvm_two_sample(df, "v", "g").collect()[0]
    assert r["cvm"] is None


def test_cvm_detects_shift_ks_scale(spark):
    # disjoint supports: every CDF gap is maximal mid-range
    rows = [(float(v), True) for v in range(10)] + [
        (float(v) + 100.0, False) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "v double, g boolean")
    r = cvm_two_sample(df, "v", "g").collect()[0]
    assert r["cvm"] > 0.4


# --- Storey q-values -------------------------------------------------------

def test_storey_q_equals_bh_times_pi0(spark):
    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.212, 0.216,
          0.222, 0.251, 0.269, 0.275, 0.34, 0.341, 0.384, 0.569, 0.594, 0.696,
          0.762, 0.94, 0.942, 0.975, 0.986]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(ps)], "k int, p double")
    n_above = sum(1 for p in ps if p > 0.5)
    pi0 = round(min(1.0, max(n_above / (len(ps) * 0.5), 1.0 / len(ps))), 6)
    got = {
        r["k"]: (r["qvalue"], r["pi0"])
        for r in storey_qvalue(df, "p", tiebreak_cols=["k"]).collect()
    }
    bh = {
        r["k"]: r["fdr"]
        for r in bh_adjust(df, "p", tiebreak_cols=["k"]).collect()
    }
    assert all(g[1] == pi0 for g in got.values())
    for k in bh:
        assert got[k][0] == pytest.approx(bh[k] * pi0, rel=1e-12)


def test_storey_pi0_floor_and_cap(spark):
    # all tiny p: n_above = 0 -> pi0 floored at 1/n, never 0
    df = spark.createDataFrame([(i, 0.001) for i in range(10)], "k int, p double")
    r = storey_qvalue(df, "p").collect()
    assert all(row["pi0"] == pytest.approx(0.1) for row in r)
    # all huge p: pi0 capped at 1 (raw estimate 2.0)
    df2 = spark.createDataFrame([(i, 0.99) for i in range(10)], "k int, p double")
    r2 = storey_qvalue(df2, "p").collect()
    assert all(row["pi0"] == 1.0 for row in r2)


def test_storey_null_p_gets_null_q(spark):
    df = spark.createDataFrame(
        [(0, 0.01), (1, None), (2, 0.8)], "k int, p double"
    )
    rows = {r["k"]: r["qvalue"] for r in storey_qvalue(df, "p").collect()}
    assert rows[1] is None
    assert rows[0] is not None


# --- MDE planning ----------------------------------------------------------

def test_mde_closed_form(spark):
    # 100 users, 20 converted: p=0.2, n_arm=50
    rows = [(f"u{i}", i < 20) for i in range(100)]
    df = spark.createDataFrame(rows, "u string, c boolean")
    r = proportion_power_mde(df, "u", "c").collect()[0]
    expect = (1.959963985 + 0.841621234) * math.sqrt(2 * 0.2 * 0.8 / 50)
    assert r["n_units"] == 100 and r["n_per_arm"] == 50
    assert r["base_rate"] == pytest.approx(0.2)
    assert r["mde_abs"] == pytest.approx(expect, abs=1e-6)
    assert r["mde_rel"] == pytest.approx(expect / 0.2, abs=1e-5)


def test_mde_degenerate_rates_null(spark):
    allc = spark.createDataFrame([(f"u{i}", True) for i in range(10)], "u string, c boolean")
    r = proportion_power_mde(allc, "u", "c").collect()[0]
    assert r["base_rate"] == 1.0 and r["mde_abs"] is None


def test_mde_unit_collapse_any_row_converts(spark):
    # one user with 5 rows, one converted row -> the unit converts once
    rows = [("u1", i == 0) for i in range(5)] + [("u2", False)]
    df = spark.createDataFrame(rows, "u string, c boolean")
    r = proportion_power_mde(df, "u", "c").collect()[0]
    assert r["n_units"] == 2 and r["base_rate"] == 0.5


# --- global clustering ------------------------------------------------------

def test_global_clustering_triangle_plus_tail(spark):
    # K3 on {1,2,3} plus pendant 3-4: T=1; degs 2,2,3,1
    # wedges = 1+1+3+0 = 5; transitivity = 3/5
    # local: 1.0, 1.0, 1/3, NULL -> avg = (2 + 1/3)/3
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a int, id_b int"
    )
    r = global_clustering(pairs).collect()[0]
    assert r["n_vertices"] == 4 and r["n_edges"] == 4
    assert r["n_triangles"] == 1 and r["n_wedges"] == 5
    assert r["transitivity"] == pytest.approx(0.6)
    assert r["avg_local_cc"] == pytest.approx((1.0 + 1.0 + 0.333333) / 3, abs=1e-4)


def test_global_clustering_triangle_free(spark):
    # star graph: wedges plenty, triangles none
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a int, id_b int"
    )
    r = global_clustering(pairs).collect()[0]
    assert r["n_triangles"] == 0 and r["transitivity"] == 0.0
    assert r["n_wedges"] == 6


# --- inter-event burstiness ---------------------------------------------------

def test_interevent_metronome_negative_b(spark):
    # perfectly regular 10-minute gaps: sd=0 -> B = -1
    rows = [("u", _ts(0, 10 * i)) for i in range(6)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    r = interevent_stats(df).collect()[0]
    assert r["n_gaps"] == 5
    assert r["mean_gap"] == 10.0 and r["sd_gap"] == 0.0
    assert r["burstiness"] == -1.0


def test_interevent_gaps_by_hand(spark):
    # u1 gaps (minutes): 5, 15; u2 gap: 40
    rows = [
        ("u1", _ts(0, 0)), ("u1", _ts(0, 5)), ("u1", _ts(0, 20)),
        ("u2", _ts(1, 0)), ("u2", _ts(1, 40)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    r = interevent_stats(df).collect()[0]
    gaps = [5, 15, 40]
    mu = sum(gaps) / 3
    sd = math.sqrt(sum(g * g for g in gaps) / 3 - mu * mu)
    assert r["n_users"] == 2 and r["n_gaps"] == 3
    assert r["mean_gap"] == pytest.approx(mu, abs=1e-6)
    assert r["sd_gap"] == pytest.approx(sd, abs=1e-6)
    assert r["burstiness"] == pytest.approx((sd - mu) / (sd + mu), abs=1e-6)
    assert r["max_gap"] == 40


def test_interevent_tie_order_irrelevant(spark):
    # two events at the same instant: gap 0 regardless of tie order
    rows = [("u", _ts(0, 0)), ("u", _ts(0, 0)), ("u", _ts(0, 30))]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    r = interevent_stats(df).collect()[0]
    assert r["n_gaps"] == 2
    assert r["p50_gap"] == pytest.approx(15.0)
    assert r["max_gap"] == 30


# --- Heaps' law ----------------------------------------------------------------

def test_heaps_power_law_recovered(spark):
    # synthetic corpus with an exact V = N^0.5 growth: doc i introduces
    # tokens so that after bucket b, vocab ~ sqrt(tokens). Build docs
    # whose tokens are globally unique -> V(N) = N exactly, beta = 1.
    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(10))) for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = heaps_law_fit(df, n_buckets=8).collect()[0]
    assert r["n_tokens"] == 640 and r["vocab_size"] == 640
    assert r["heaps_beta"] == pytest.approx(1.0, abs=1e-6)
    assert r["heaps_k"] == pytest.approx(1.0, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)


def test_heaps_saturated_vocab_beta_near_zero(spark):
    # every doc repeats the same 5 words: vocab flat after bucket 1
    rows = [(i, "alpha beta gamma delta eps") for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = heaps_law_fit(df, n_buckets=8).collect()[0]
    assert r["vocab_size"] == 5
    assert r["heaps_beta"] < 0.05


def test_heaps_deterministic_under_repartition(spark):
    rows = [(i, f"w{i % 30} common filler w{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = heaps_law_fit(df, n_buckets=8).collect()[0]
    b = heaps_law_fit(df.repartition(13), n_buckets=8).collect()[0]
    assert a == b


# --- cross-correlation -----------------------------------------------------------

def test_ccf_perfect_lead_at_known_lag(spark):
    # y is x shifted by +2 hours with identical per-hour counts:
    # ccf peaks at lag +2 with r = 1
    counts = [1, 5, 2, 8, 3, 9, 4, 7, 2, 6]
    xrows = [(_ts(h),) for h, c in enumerate(counts) for _ in range(c)]
    yrows = [(_ts(h + 2),) for h, c in enumerate(counts) for _ in range(c)]
    x = spark.createDataFrame(xrows, "ts timestamp")
    y = spark.createDataFrame(yrows, "ts timestamp")
    got = {r["lag"]: r for r in cross_correlation(x, y, max_lag=3).collect()}
    assert got[2]["ccf"] == pytest.approx(1.0, abs=1e-6)
    assert got[2]["n_pairs"] == 10
    assert abs(got[0]["ccf"]) < 1.0


def test_ccf_constant_series_null(spark):
    x = spark.createDataFrame([(_ts(h),) for h in range(5)], "ts timestamp")
    got = {r["lag"]: r["ccf"] for r in cross_correlation(x, x, max_lag=1).collect()}
    # one event per hour on both sides: zero variance -> NULL
    assert got[0] is None


# --- ingest gaps -------------------------------------------------------------------

def test_ingest_gaps_counts_missing_and_runs(spark):
    # hours 0,1,2, 5, 9 observed over span 0..9: expected 10,
    # observed 5, missing 5; runs: 2 (3,4) and 3 (6,7,8) -> max 3
    rows = [(_ts(h),) for h in (0, 1, 2, 5, 9)]
    df = spark.createDataFrame(rows, "ts timestamp")
    r = ingest_gaps(df).collect()[0]
    assert r["n_expected"] == 10 and r["n_observed"] == 5
    assert r["n_missing"] == 5
    assert r["coverage"] == pytest.approx(0.5)
    assert r["max_gap_run"] == 3


def test_ingest_gaps_complete_stream(spark):
    rows = [(_ts(h),) for h in range(6) for _ in range(3)]
    df = spark.createDataFrame(rows, "ts timestamp")
    r = ingest_gaps(df).collect()[0]
    assert r["n_missing"] == 0 and r["coverage"] == 1.0
    assert r["max_gap_run"] == 0


def test_ingest_gaps_empty_stream_nulls(spark):
    df = spark.createDataFrame([], "ts timestamp")
    r = ingest_gaps(df).collect()[0]
    assert r["n_observed"] == 0
    assert r["first_bucket"] is None and r["max_gap_run"] is None


# --- pipeline composition -----------------------------------------------------------

def test_training_mix_stages_shrink_monotonically(spark):
    from mdataframe_spark.queries import pipe_training_mix

    out = pipe_training_mix(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    # packing invariants: offsets within capacity, bins non-negative
    assert all(0 <= r["bin_offset"] < 1024 for r in rows)
    assert all(r["bin_id"] >= 0 for r in rows)
    # eval slice excluded and dedup keeps one doc per text
    assert all(r["doc_id"] % 97 != 0 for r in rows)


# --- round-13 mid-round review fixes ------------------------------------------

def test_interevent_null_ts_dropped_complete_case(spark):
    # the review's reproducer: a NULL ts row must not occupy a lag
    # slot in EITHER engine (the SQL mirror's NULLS LAST ordering used
    # to count a phantom gap and deflate the mean)
    rows = [
        ("u1", _ts(0, 0)), ("u1", _ts(0, 10)), ("u1", None),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    r = interevent_stats(df).collect()[0]
    assert r["n_gaps"] == 1
    assert r["mean_gap"] == 10.0


def test_ccf_keeps_empty_lag_spine_rows(spark):
    # two series overlapping on a single bucket: every lag row must
    # still be present, with n_pairs 0 where nothing aligns
    x = spark.createDataFrame([(_ts(0),), (_ts(1),)], "ts timestamp")
    y = spark.createDataFrame([(_ts(1),), (_ts(9),)], "ts timestamp")
    got = {r["lag"]: r for r in cross_correlation(x, y, max_lag=2).collect()}
    assert sorted(got) == [-2, -1, 0, 1, 2]
    assert got[-2]["n_pairs"] == 0 and got[-2]["ccf"] is None


# --- round-13 addendum pair -----------------------------------------------------

def test_wilson_ci_known_interval(spark):
    from mdataframe_spark.operators.experiments import wilson_ci

    # 10 trials, 8 successes at z=1.959963985: the textbook Wilson
    # interval ~ (0.4902, 0.9433)
    rows = [("a", i < 8) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, s boolean")
    r = wilson_ci(df, "g", "s").collect()[0]
    z = 1.959963985
    n, p = 10, 0.8
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert r["rate"] == pytest.approx(0.8)
    assert r["ci_lo"] == pytest.approx(center - half, abs=1e-6)
    assert r["ci_hi"] == pytest.approx(center + half, abs=1e-6)
    assert 0.0 <= r["ci_lo"] < r["ci_hi"] <= 1.0


def test_wilson_ci_extreme_rate_stays_in_unit_interval(spark):
    from mdataframe_spark.operators.experiments import wilson_ci

    # all successes at n=5: Wald would give [1, 1]; Wilson pulls lo
    # well below 1 and never exceeds it
    rows = [("a", True)] * 5
    df = spark.createDataFrame(rows, "g string, s boolean")
    r = wilson_ci(df, "g", "s").collect()[0]
    assert r["rate"] == 1.0
    assert r["ci_hi"] == 1.0
    assert 0.5 < r["ci_lo"] < 0.7  # exact: z²/(n+z²) lower bound ≈ 0.566


def test_dau_mau_by_hand(spark):
    from mdataframe_spark.operators.events import dau_mau_stickiness

    # u1 active day 0 and 1; u2 active day 1. window=2 days:
    # day0: dau 1, mau 1; day1: dau 2, mau(days 0-1) = 2
    rows = [
        ("u1", datetime.datetime(2024, 1, 1, 5)),
        ("u1", datetime.datetime(2024, 1, 2, 6)),
        ("u1", datetime.datetime(2024, 1, 2, 7)),
        ("u2", datetime.datetime(2024, 1, 2, 8)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {r["day_epoch"]: r for r in dau_mau_stickiness(df, window_days=2).collect()}
    days = sorted(got)
    assert got[days[0]]["dau"] == 1 and got[days[0]]["mau"] == 1
    assert got[days[1]]["dau"] == 2 and got[days[1]]["mau"] == 2
    assert got[days[1]]["stickiness"] == 1.0


def test_dau_mau_window_slides_off(spark):
    from mdataframe_spark.operators.events import dau_mau_stickiness

    # u1 active day 0 only; u2 active day 40 only: with the default
    # 28-day window, day 40's MAU must NOT include u1
    rows = [
        ("u1", datetime.datetime(2024, 1, 1, 5)),
        ("u2", datetime.datetime(2024, 2, 10, 5)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = sorted(
        dau_mau_stickiness(df).collect(), key=lambda r: r["day_epoch"]
    )
    assert len(got) == 2
    assert got[1]["mau"] == 1 and got[1]["stickiness"] == 1.0


# --- Hodges–Lehmann shift -------------------------------------------------------

def test_hl_matches_direct_enumeration(spark):
    from mdataframe_spark.operators.stats_tests import hodges_lehmann_shift

    xs = [1.0, 3.0, 5.0, 5.0]
    ys = [2.0, 2.0, 6.0]
    rows = [(v, True) for v in xs] + [(v, False) for v in ys]
    df = spark.createDataFrame(rows, "v double, g boolean")
    diffs = sorted(x - y for x in xs for y in ys)
    n = len(diffs)
    expect = (diffs[(n + 1) // 2 - 1] + diffs[(n + 2) // 2 - 1]) / 2
    r = hodges_lehmann_shift(df, "v", "g").collect()[0]
    assert r["n_pairs"] == 12
    assert r["hl_shift"] == pytest.approx(expect)


def test_hl_pure_shift_recovered(spark):
    from mdataframe_spark.operators.stats_tests import hodges_lehmann_shift

    # y = x - 7 exactly: HL estimate of the shift is exactly 7
    xs = [float(v) for v in (10, 12, 15, 19, 23)]
    rows = [(v, True) for v in xs] + [(v - 7.0, False) for v in xs]
    df = spark.createDataFrame(rows, "v double, g boolean")
    r = hodges_lehmann_shift(df, "v", "g").collect()[0]
    assert r["hl_shift"] == 7.0


def test_hl_empty_group_null(spark):
    from mdataframe_spark.operators.stats_tests import hodges_lehmann_shift

    df = spark.createDataFrame([(1.0, True)], "v double, g boolean")
    r = hodges_lehmann_shift(df, "v", "g").collect()[0]
    assert r["hl_shift"] is None


def test_hl_guard_raises_on_cells_squared(spark):
    from mdataframe_spark.operators.guards import CollapsedTableTooLarge
    from mdataframe_spark.operators.stats_tests import hodges_lehmann_shift

    cont = spark.range(200).select(
        (F.col("id") + 0.123).alias("v"), (F.col("id") % 2 == 0).alias("g")
    )
    # 100 x 100 distinct cells > the toy cap; None accepts
    with pytest.raises(CollapsedTableTooLarge, match="max_pairs"):
        hodges_lehmann_shift(cont, "v", "g", max_pairs=1000)
    open_arm = hodges_lehmann_shift(cont, "v", "g", max_pairs=None).collect()[0]
    guarded = hodges_lehmann_shift(
        cont, "v", "g", max_pairs=100_000
    ).collect()[0]
    assert open_arm == guarded
