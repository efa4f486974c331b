"""Semantics tests for the distribution-test wave
(operators/stats_tests.py) plus rolling stats and histogram: every
statistic pinned to an independent hand/naive computation. Cross-engine
hash parity runs in the EXTRA registry.
"""

import math

import pytest

from mdataframe_spark.operators.diagnostics import histogram
from mdataframe_spark.operators.events import rolling_stats
from mdataframe_spark.operators.stats_tests import (
    chi2_independence,
    ks_two_sample,
    mannwhitney_u,
)

NS = 1_000_000_000


def test_chi2_hand_computed_2x2(spark):
    # contingency: a=[10, 20; 30, 40]
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20 + [("y", "p")] * 30 + [("y", "q")] * 40
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    got = chi2_independence(df, "a", "b").first()
    n = 100.0
    expect = 0.0
    for o, r, c in [(10, 30, 40), (20, 30, 60), (30, 70, 40), (40, 70, 60)]:
        e = r * c / n
        expect += (o - e) ** 2 / e
    assert got["n"] == 100 and got["dof"] == 1
    assert got["chi2"] == pytest.approx(expect, abs=1e-5)
    assert got["cramers_v"] == pytest.approx(math.sqrt(expect / 100), abs=1e-5)


def test_chi2_independent_columns_near_zero(spark):
    # perfectly proportional table -> chi2 exactly 0
    rows = [("x", "p")] * 10 + [("x", "q")] * 10 + [("y", "p")] * 20 + [("y", "q")] * 20
    got = chi2_independence(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b"
    ).first()
    assert got["chi2"] == pytest.approx(0.0, abs=1e-9)


def test_mannwhitney_hand_computed_with_ties(spark):
    # group1: [1, 2, 2], group2: [2, 3, 4]
    rows = [(1.0, True), (2.0, True), (2.0, True), (2.0, False), (3.0, False), (4.0, False)]
    df = spark.createDataFrame(rows, ["v", "g"])
    got = mannwhitney_u(df, "v", "g").first()
    # ranks: 1 -> 1; three 2s -> avg 3; 3 -> 5; 4 -> 6
    # R1 = 1 + 3 + 3 = 7; U1 = 7 - 3*4/2 = 1
    assert got["n1"] == 3 and got["n2"] == 3
    assert got["u1"] == 1.0
    n = 6
    ties = (3**3 - 3)  # one tie block of size 3
    var = 3 * 3 / 12 * ((n + 1) - ties / (n * (n - 1)))
    z = (1 - 4.5) / math.sqrt(var)
    assert got["z"] == pytest.approx(z, abs=1e-5)


def test_mannwhitney_all_tied_is_null_z(spark):
    df = spark.createDataFrame(
        [(5.0, True), (5.0, False), (5.0, True)], ["v", "g"]
    )
    got = mannwhitney_u(df, "v", "g").first()
    assert got["z"] is None


def test_ks_hand_computed(spark):
    # g1 = [1, 2, 3], g2 = [4, 5, 6]: disjoint supports -> D = 1
    rows = [(float(v), True) for v in (1, 2, 3)] + [
        (float(v), False) for v in (4, 5, 6)
    ]
    got = ks_two_sample(
        spark.createDataFrame(rows, ["v", "g"]), "v", "g"
    ).first()
    assert got["d"] == 1.0
    assert got["ks_stat"] == pytest.approx(math.sqrt(9 / 6), abs=1e-5)


def test_ks_identical_samples_zero(spark):
    rows = [(float(v), True) for v in (1, 2, 3)] + [
        (float(v), False) for v in (1, 2, 3)
    ]
    got = ks_two_sample(
        spark.createDataFrame(rows, ["v", "g"]), "v", "g"
    ).first()
    assert got["d"] == 0.0


def test_rolling_stats_fixture(spark):
    rows = [(1, t * NS, t, float(t)) for t in range(1, 7)]
    df = spark.createDataFrame(rows, "user_id bigint, ts bigint, event_id bigint, value double")
    out = {
        r["event_id"]: r
        for r in rolling_stats(
            df, "user_id", ["ts", "event_id"], "value", window_rows=3
        ).collect()
    }
    assert out[1]["moving_n"] == 1 and out[1]["moving_avg"] == 1.0
    assert out[3]["moving_sum"] == 6.0 and out[3]["moving_avg"] == 2.0
    # trailing frame: rows 4,5,6 -> mean 5
    assert out[6]["moving_n"] == 3 and out[6]["moving_avg"] == 5.0


def test_histogram_bins_and_clamp(spark):
    df = spark.createDataFrame([(float(v),) for v in range(0, 101)], ["x"])
    out = {r["bin"]: r for r in histogram(df, "x", n_bins=10).collect()}
    # width 10: bins 0..9; the max value (100) clamps into bin 9
    assert set(out) == set(range(10))
    assert out[0]["n"] == 10 and out[9]["n"] == 11
    assert out[0]["bin_lo"] == 0.0 and out[0]["bin_hi"] == 10.0
    assert out[9]["bin_hi"] == 100.0


def test_histogram_degenerate_range_raises(spark):
    df = spark.createDataFrame([(1.0,), (1.0,)], ["x"])
    with pytest.raises(ValueError, match="hi > lo"):
        histogram(df, "x")


# ---------------------------------------------------------------------------
# entity-matching & data-ops wave
# ---------------------------------------------------------------------------
def test_fuzzy_string_pairs_finds_typos(spark):
    from mdataframe_spark.operators.dedup import fuzzy_string_pairs

    rows = [
        (1, "acme widgets inc"),
        (2, "acme widgets inc."),   # distance 1
        (3, "acme wigdets inc"),    # transposition = 2 edits
        (4, "globex corporation"),  # unrelated
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in fuzzy_string_pairs(df, "id", "name").collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    # 2 vs 3 is THREE edits (swap + trailing dot): must be filtered
    assert (2, 3) not in got
    assert not any(4 in k for k in got)


def test_fuzzy_string_pairs_case_and_space_normalized(spark):
    from mdataframe_spark.operators.dedup import fuzzy_string_pairs

    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello world ")], ["id", "name"]
    )
    got = fuzzy_string_pairs(df, "id", "name").collect()
    assert len(got) == 1 and got[0]["edit_distance"] == 0


def test_expectations_battery(spark):
    from pyspark.sql import functions as F

    from mdataframe_spark.operators.diagnostics import expectations

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id bigint, v double"
    )
    out = {
        r["rule"]: r
        for r in expectations(
            df,
            {
                "v_not_null": F.col("v").isNotNull(),
                "v_nonneg": F.col("v") >= 0,
            },
        ).collect()
    }
    assert out["v_not_null"]["passed"] == 2
    assert out["v_not_null"]["failed"] == 1
    # the NULL row must count as FAILED for v_nonneg, not vanish
    assert out["v_nonneg"]["passed"] == 1 and out["v_nonneg"]["failed"] == 2
    assert out["v_nonneg"]["pass_rate"] == pytest.approx(1 / 3, abs=1e-6)


def test_period_over_period_fixture(spark):
    from mdataframe_spark.operators.events import period_over_period

    day = 86400
    rows = (
        [(i, "click", (0 * day + i) * NS, 1.0) for i in range(10)]
        + [(100 + i, "click", (1 * day + i) * NS, 1.0) for i in range(15)]
        + [(200 + i, "click", (2 * day + i) * NS, 1.0) for i in range(6)]
    )
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts bigint, value double"
    )
    out = {
        r["period_epoch"]: r for r in period_over_period(df).collect()
    }
    assert out[0]["delta_events"] is None and out[0]["pct_change"] is None
    assert out[day]["delta_events"] == 5
    assert out[day]["pct_change"] == pytest.approx(0.5)
    assert out[2 * day]["pct_change"] == pytest.approx(-0.6)


# ---------------------------------------------------------------------------
# basket-analytics & graph wave
# ---------------------------------------------------------------------------
def test_co_occurrence_counts_and_lift(spark):
    from mdataframe_spark.operators.baskets import co_occurrence_pairs

    rows = [
        (1, "x"), (1, "y"), (1, "z"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"),
        (4, "z"),
        (5, "x"), (5, "x"),  # duplicate item in a basket counts once
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {
        (r["item_a"], r["item_b"]): r
        for r in co_occurrence_pairs(df, "basket", "item", min_count=2).collect()
    }
    # (x, y) co-occurs 3 times; x in 4 baskets, y in 3; N = 5
    assert set(out) == {("x", "y")}
    r = out[("x", "y")]
    assert r["n_co"] == 3 and r["n_a"] == 4 and r["n_b"] == 3
    assert r["lift"] == pytest.approx(5 * 3 / (4 * 3), abs=1e-6)


def test_pagerank_star_graph(spark):
    from mdataframe_spark.operators.baskets import pagerank

    # star: hub 0 connected to 1..4 — hub must outrank the leaves,
    # leaves symmetric; total mass conserved (undirected, no dangling)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], ["id_a", "id_b"]
    )
    out = {r["v"]: r["rank"] for r in pagerank(pairs).collect()}
    assert len(out) == 5
    assert out[0] > out[1]
    leaf_ranks = {out[i] for i in range(1, 5)}
    assert len(leaf_ranks) == 1
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_regular_graph_uniform(spark):
    from mdataframe_spark.operators.baskets import pagerank

    # a 4-cycle is 2-regular: PageRank must stay uniform at 1/4
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], ["id_a", "id_b"]
    )
    out = {r["v"]: r["rank"] for r in pagerank(pairs).collect()}
    assert all(v == pytest.approx(0.25, abs=1e-6) for v in out.values())


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from mdataframe_spark.operators.datasets import bootstrap_mean_ci

    df = spark.createDataFrame(
        [(i, float(i % 20)) for i in range(400)], ["event_id", "value"]
    )
    r1 = bootstrap_mean_ci(df, "value", key="event_id").first()
    assert r1["ci_lo"] <= r1["mean"] <= r1["ci_hi"]
    assert r1["ci_lo"] < r1["ci_hi"]
    assert r1["n_replicates"] == 100
    # deterministic under repartitioning (md5 draw, order-free sums)
    r2 = bootstrap_mean_ci(df.repartition(13), "value", key="event_id").first()
    assert (r1["ci_lo"], r1["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])
    # interval width shrinks with sample size (sanity of the method)
    big = spark.createDataFrame(
        [(i, float(i % 20)) for i in range(4000)], ["event_id", "value"]
    )
    r3 = bootstrap_mean_ci(big, "value", key="event_id").first()
    assert (r3["ci_hi"] - r3["ci_lo"]) < (r1["ci_hi"] - r1["ci_lo"])


def test_scd2_merge_semantics(spark):
    from pyspark.sql import functions as F

    from mdataframe_spark.operators.scd import scd2_merge

    current = spark.createDataFrame(
        [
            # closed history row: must pass through untouched
            (1, "alice", 10.0, 100, 200),
            # open rows
            (1, "alice2", 11.0, 200, None),
            (2, "bob", 20.0, 100, None),
            (3, "carol", 30.0, 100, None),
        ],
        "k bigint, name string, bal double, valid_from int, valid_to int",
    )
    updates = spark.createDataFrame(
        [
            (1, "alice2", 99.0),   # changed -> close + reopen
            (2, "bob", 20.0),      # unchanged -> keep
            (9, "zoe", 5.0),       # new key -> insert
            # key 3 absent -> keep open
        ],
        "k bigint, name string, bal double",
    )
    out = scd2_merge(current, updates, "k", ["name", "bal"], 300).collect()
    rows = {(r["k"], r["valid_from"], r["valid_to"]): r for r in out}
    assert len(out) == 6
    # history untouched
    assert rows[(1, 100, 200)]["name"] == "alice"
    # changed: old version closed at 300, new version open from 300
    assert rows[(1, 200, 300)]["bal"] == 11.0
    assert rows[(1, 300, None)]["bal"] == 99.0
    # unchanged + absent keys keep their open rows
    assert rows[(2, 100, None)]["bal"] == 20.0
    assert rows[(3, 100, None)]["name"] == "carol"
    # new key inserted open
    assert rows[(9, 300, None)]["name"] == "zoe"


def test_scd2_merge_null_safe_attr_compare(spark):
    from mdataframe_spark.operators.scd import scd2_merge

    current = spark.createDataFrame(
        [(1, None, 100, None)], "k bigint, name string, valid_from int, valid_to int"
    )
    updates = spark.createDataFrame([(1, None)], "k bigint, name string")
    out = scd2_merge(current, updates, "k", ["name"], 200).collect()
    # NULL == NULL must be UNCHANGED (eqNullSafe), not a new version
    assert len(out) == 1 and out[0]["valid_to"] is None


# ---------------------------------------------------------------------------
# round-7 ADVICE regression tests
# ---------------------------------------------------------------------------
def test_chi2_degenerate_input_null_guarded(spark):
    """Empty input (or all-null in either column) returns the
    NULL-guarded (0, 0, NULL, NULL) row — the mannwhitney/ks
    convention — instead of crashing on the scalar probe."""
    empty = spark.createDataFrame([], "a string, b string")
    row = chi2_independence(empty, "a", "b").first()
    assert (row["n"], row["dof"]) == (0, 0)
    assert row["chi2"] is None and row["cramers_v"] is None

    all_null = spark.createDataFrame(
        [("x", None), (None, "y")], "a string, b string"
    )
    row = chi2_independence(all_null, "a", "b").first()
    assert (row["n"], row["dof"]) == (0, 0)


def test_mannwhitney_rank_sum_is_decimal_exact(spark):
    """The N²-scaling rank-sum accumulation must run in decimal(38,0)
    (exact, order-independent, mirrors DuckDB's SUM(BIGINT)→HUGEINT),
    never a silently-wrapping int64 — asserted on the analyzed plan's
    aggregate expressions."""
    df = spark.createDataFrame(
        [(1.0, True), (2.0, False), (2.0, True)], "v double, g boolean"
    )
    out = mannwhitney_u(df, "v", "g")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "decimal(38,0)" in plan


def test_cohort_bucket_boundary_is_integer_exact(spark):
    """Epoch-ns one tick below a period boundary must land in the
    EARLIER bucket: floor(bigint/bigint) runs as double division and
    epoch-ns (~1.7e18) exceeds 2^53, so a ts within ~128 ns of the
    boundary could round across it. The operators bucket with integer
    `div` (matching the oracles' integer //)."""
    from mdataframe_spark.operators.events import cohort_retention

    day_ns = 86400 * NS
    # a realistic 2024-era epoch where double rounding bites:
    # k*day_ns - 1 is NOT representable as a double (1.7e18 > 2^53)
    k = 19_900
    rows = [
        (1, (k * day_ns) - 1),  # one tick before the boundary
        (1, k * day_ns),        # exactly on it
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts bigint")
    out = {
        r["offset_periods"]: r["active_users"]
        for r in cohort_retention(df).collect()
    }
    # two DIFFERENT buckets: cohort day k-1 (offset 0) and day k (offset 1)
    assert out == {0: 1, 1: 1}


def test_co_occurrence_lift_denominators_from_capped_population(spark):
    """When a basket exceeds basket_cap it is dropped BEFORE pairing —
    and the lift denominators (n_baskets, item totals) must describe
    that same capped population, not the raw frame (raw denominators
    systematically deflate lift)."""
    from mdataframe_spark.operators.baskets import co_occurrence_pairs

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b")]
    # basket 3 is a mega-basket over the cap: items c0..c4 plus a, b
    rows += [(3, f"c{i}") for i in range(5)] + [(3, "a"), (3, "b")]
    df = spark.createDataFrame(rows, "basket bigint, item string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in co_occurrence_pairs(
            df, "basket", "item", min_count=2, basket_cap=4
        ).collect()
    }
    r = got[("a", "b")]
    # capped population: baskets {1, 2} only → n=2, n_a=n_b=2, co=2
    assert (r["n_co"], r["n_a"], r["n_b"]) == (2, 2, 2)
    # lift = N·co/(n_a·n_b) = 2·2/(2·2) = 1.0 — raw denominators would
    # have produced 3·2/(3·3) ≈ 0.667
    assert r["lift"] == 1.0


# ---------------------------------------------------------------------------
# companion p-values (round 7): pinned to INDEPENDENT closed forms —
# stdlib math.erfc and direct theta-series loops, not the numerics
# module the operators call
# ---------------------------------------------------------------------------
def test_chi2_p_value_closed_form(spark):
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20 + [("y", "p")] * 30 + [("y", "q")] * 40
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    got = chi2_independence(df, "a", "b").first()
    # dof = 1: survival = erfc(sqrt(chi2/2)) exactly
    expect = math.erfc(math.sqrt(got["chi2"] / 2.0))
    assert got["p_value"] == pytest.approx(expect, abs=2e-6)


def test_chi2_p_value_dof2_exponential_form(spark):
    # 2x3 table → dof = 2: survival = exp(-chi2/2) exactly
    rows = (
        [("x", "p")] * 5 + [("x", "q")] * 9 + [("x", "r")] * 14
        + [("y", "p")] * 16 + [("y", "q")] * 8 + [("y", "r")] * 3
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    got = chi2_independence(df, "a", "b").first()
    assert got["dof"] == 2
    assert got["p_value"] == pytest.approx(
        math.exp(-got["chi2"] / 2.0), abs=2e-6
    )


def test_mannwhitney_p_value_two_sided_normal(spark):
    rows = [(float(v), v % 3 == 0) for v in range(40)]
    df = spark.createDataFrame(rows, "v double, g boolean")
    got = mannwhitney_u(df, "v", "g").first()
    expect = math.erfc(abs(got["z"]) / math.sqrt(2.0))
    assert got["p_value"] == pytest.approx(expect, abs=2e-6)


def test_ks_p_value_theta_series(spark):
    rows = [(float(v), v % 2 == 0) for v in range(30)] + [
        (float(v) + 7.5, False) for v in range(12)
    ]
    df = spark.createDataFrame(rows, "v double, g boolean")
    got = ks_two_sample(df, "v", "g").first()
    lam = got["ks_stat"]
    # independent evaluation: pick the representation by magnitude
    if lam >= 1.18:
        expect = 2.0 * sum(
            (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
            for k in range(1, 60)
        )
    else:
        expect = 1.0 - (math.sqrt(2.0 * math.pi) / lam) * sum(
            math.exp(-((2 * k - 1) ** 2) * math.pi**2 / (8.0 * lam * lam))
            for k in range(1, 20)
        )
    assert got["p_value"] == pytest.approx(expect, abs=2e-6)


def test_p_values_excluded_from_registered_oracle_queries(spark):
    """The driver hash compares every output column, and the special
    functions have no cross-engine-exact form: the registered queries
    must NOT emit p_value."""
    from mdataframe_spark.queries import EXTRA_QUERIES, QUERIES

    for name in (
        "stat_chi2_independence", "stat_mannwhitney_u", "stat_ks_two_sample"
    ):
        df = {**QUERIES, **EXTRA_QUERIES}[name](spark, "/root/testdata/sf0.001")
        assert "p_value" not in df.columns, name


# ---------------------------------------------------------------------------
# robust outliers (round 7)
# ---------------------------------------------------------------------------
def test_robust_outliers_hand_computed(spark):
    from mdataframe_spark.operators.diagnostics import robust_outliers

    # group a: median 10, MAD 1 -> cut (k=2) = 2*1.4826 = 2.9652;
    # 50 is 40 off -> flagged; 12.9 is 2.9 off -> not flagged
    rows = [("a", v) for v in [8.0, 9.0, 10.0, 11.0, 12.9, 50.0, 10.0]]
    # group b: all identical -> MAD 0 -> NULL rate, zero outliers
    rows += [("b", 5.0)] * 4
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["grp"]: r for r in robust_outliers(df, "v", "g", k=2.0).collect()}
    a = got["a"]
    assert a["n"] == 7 and a["med"] == 10.0 and a["mad"] == 1.0
    assert a["n_outliers"] == 1
    assert a["outlier_rate"] == pytest.approx(1 / 7, abs=1e-6)
    b = got["b"]
    assert b["mad"] == 0.0 and b["n_outliers"] == 0
    assert b["outlier_rate"] is None


def test_robust_outliers_null_values_excluded(spark):
    from mdataframe_spark.operators.diagnostics import robust_outliers

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("a", 3.0)], "g string, v double"
    )
    r = robust_outliers(df, "v", "g").first()
    assert r["n"] == 3 and r["med"] == 2.0


# ---------------------------------------------------------------------------
# data-governance wave (round 7): k-anonymity + referential integrity
# ---------------------------------------------------------------------------
def test_k_anonymity_hand_computed(spark):
    from mdataframe_spark.operators.diagnostics import k_anonymity

    # classes: (a,x):3 rows, (a,y):1, (b,x):2 -> with k=2: one class
    # below k, 1 row at risk
    rows = [("a", "x")] * 3 + [("a", "y")] + [("b", "x")] * 2
    df = spark.createDataFrame(rows, "q1 string, q2 string")
    r = k_anonymity(df, ["q1", "q2"], k=2).first()
    assert (r["n_rows"], r["n_classes"], r["min_class_size"]) == (6, 3, 1)
    assert (r["n_classes_below_k"], r["n_rows_at_risk"]) == (1, 1)
    assert r["at_risk_rate"] == pytest.approx(1 / 6, abs=1e-6)


def test_referential_integrity_orphans_and_nulls(spark):
    from mdataframe_spark.operators.diagnostics import referential_integrity

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (99,), (None,)], "fk bigint"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk bigint")
    r = referential_integrity([("edge", child, "fk", parent, "pk")]).first()
    # 99 appears twice (2 orphan rows, 1 orphan key); NULL fk is
    # counted separately, never as an orphan
    assert r["edge"] == "edge"
    assert (r["n_child"], r["n_null_fk"]) == (6, 1)
    assert (r["n_orphans"], r["n_orphan_keys"]) == (2, 1)


def test_referential_integrity_multi_edge_union(spark):
    from mdataframe_spark.operators.diagnostics import referential_integrity

    c1 = spark.createDataFrame([(1,), (5,)], "fk bigint")
    c2 = spark.createDataFrame([(7,)], "fk bigint")
    p = spark.createDataFrame([(1,), (7,)], "pk bigint")
    got = {
        r["edge"]: r
        for r in referential_integrity(
            [("a", c1, "fk", p, "pk"), ("b", c2, "fk", p, "pk")]
        ).collect()
    }
    assert got["a"]["n_orphans"] == 1 and got["b"]["n_orphans"] == 0


# ---------------------------------------------------------------------------
# triangle counting (round 7)
# ---------------------------------------------------------------------------
def test_triangle_count_k4_and_path(spark):
    from mdataframe_spark.operators.baskets import triangle_count

    # K4: every vertex in 3 triangles, coefficient exactly 1
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "id_a bigint, id_b bigint")
    got = {r["v"]: r for r in triangle_count(df).collect()}
    assert all(got[v]["n_triangles"] == 3 for v in range(4))
    assert all(got[v]["clustering_coeff"] == 1.0 for v in range(4))
    assert all(got[v]["degree"] == 3 for v in range(4))

    # path 0-1-2-3: zero triangles; endpoints have NULL coefficient
    path = [(0, 1), (1, 2), (2, 3)]
    df = spark.createDataFrame(path, "id_a bigint, id_b bigint")
    got = {r["v"]: r for r in triangle_count(df).collect()}
    assert all(got[v]["n_triangles"] == 0 for v in range(4))
    assert got[0]["clustering_coeff"] is None  # degree 1
    assert got[1]["clustering_coeff"] == 0.0


def test_triangle_count_hub_orientation_exact(spark):
    """A hub wheel (center joined to a cycle) — the degree-oriented
    wedge enumeration must count exactly the rim triangles despite the
    hub's high degree, and duplicate/reversed input edges must not
    inflate counts."""
    from mdataframe_spark.operators.baskets import triangle_count

    n = 8
    edges = [(100, i) for i in range(n)] + [(i, (i + 1) % n) for i in range(n)]
    # noise: reversed + duplicate edges
    edges += [(i, 100) for i in range(0, n, 2)] + [(0, 1), (1, 0)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["v"]: r for r in triangle_count(df).collect()}
    # wheel W8: 8 triangles, all containing the hub
    assert got[100]["n_triangles"] == n and got[100]["degree"] == n
    assert all(got[i]["n_triangles"] == 2 for i in range(n))
    # hub coefficient: 2*8/(8*7)
    import pytest as _p
    assert got[100]["clustering_coeff"] == _p.approx(16 / 56, abs=1e-6)


# ---------------------------------------------------------------------------
# population stability index (round 7)
# ---------------------------------------------------------------------------
def test_psi_identical_populations_near_zero(spark):
    from mdataframe_spark.operators.stats_tests import (
        population_stability_index,
    )

    rows = [(float(v % 20), v % 2 == 0) for v in range(400)]
    df = spark.createDataFrame(rows, "v double, cur boolean")
    out = population_stability_index(df, "v", "cur", n_bins=10).collect()
    psi = sum(r["psi_term"] for r in out)
    assert abs(psi) < 1e-6  # identical distributions -> PSI ~ 0


def test_psi_shifted_population_flags_drift(spark):
    import math

    from mdataframe_spark.operators.stats_tests import (
        population_stability_index,
    )

    # baseline uniform on [0, 10); current uniform on [5, 15) — a
    # gross shift: PSI must exceed the 0.25 "shifted" rule of thumb
    rows = [(float(v % 10), False) for v in range(300)]
    rows += [(5.0 + (v % 10), True) for v in range(300)]
    df = spark.createDataFrame(rows, "v double, cur boolean")
    out = population_stability_index(
        df, "v", "cur", n_bins=10, lo=0.0, hi=15.0
    ).collect()
    psi = sum(r["psi_term"] for r in out)
    assert psi > 0.25
    # independent recomputation of one populated bin's term
    r = {x["bin"]: x for x in out}[0]
    pb = round((r["n_base"] + 0.5) / (300 + 0.5 * 10), 9)
    pc = round((r["n_cur"] + 0.5) / (300 + 0.5 * 10), 9)
    assert r["psi_term"] == round((pc - pb) * math.log(pc / pb), 9)
    assert r["n_base"] > 0 and r["n_cur"] == 0  # smoothing kept it finite


# ---------------------------------------------------------------------------
# round-7 self-review regression tests
# ---------------------------------------------------------------------------
def test_psi_emits_full_bin_spectrum_and_clamps_lo(spark):
    """Bins empty in BOTH splits still carry nonzero smoothed psi
    terms and must appear (zero-filled); values below an explicit lo
    clamp into bin 0, never a negative index."""
    from mdataframe_spark.operators.stats_tests import (
        population_stability_index,
    )

    rows = [(10.0, False)] * 10 + [(90.0, True)] * 90
    df = spark.createDataFrame(rows, "v double, cur boolean")
    out = {r["bin"]: r for r in population_stability_index(
        df, "v", "cur", n_bins=10, lo=0.0, hi=100.0).collect()}
    assert sorted(out) == list(range(10))  # all ten bins present
    # an everywhere-empty bin still contributes its smoothed term
    empty = out[5]
    assert empty["n_base"] == 0 and empty["n_cur"] == 0
    assert empty["psi_term"] != 0.0
    # below-lo values clamp into bin 0
    low = spark.createDataFrame([(-50.0, False), (5.0, True)],
                                "v double, cur boolean")
    got = {r["bin"]: r for r in population_stability_index(
        low, "v", "cur", n_bins=10, lo=0.0, hi=100.0).collect()}
    assert got[0]["n_base"] == 1  # -50 clamped, not bin -5


def test_referential_integrity_empty_edges_raises(spark):
    import pytest as _p

    from mdataframe_spark.operators.diagnostics import referential_integrity

    with _p.raises(ValueError, match="non-empty"):
        referential_integrity([])


def test_ns_timezone_pin_is_scoped(spark):
    """_ns must canonicalize NTZ timestamps against UTC WITHOUT
    leaking spark.sql.session.timeZone=UTC into the caller's session
    (the cast binds the zone at analysis time)."""
    import datetime

    from pyspark.sql import functions as F

    from mdataframe_spark.operators.events import _ns

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        df = spark.createDataFrame([("2024-01-01 00:00:00",)], "s string").select(
            F.col("s").cast("timestamp_ntz").alias("ts")
        )
        out = _ns(df, "ts")
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        expect = int(
            datetime.datetime(
                2024, 1, 1, tzinfo=datetime.timezone.utc
            ).timestamp() * 1e9
        )
        assert out.first()["ts"] == expect
        # fractional seconds survive the NTZ wall-clock arithmetic
        frac = spark.createDataFrame(
            [("2024-01-01 00:00:00.123456",)], "s string"
        ).select(F.col("s").cast("timestamp_ntz").alias("ts"))
        assert _ns(frac, "ts").first()["ts"] == expect + 123456000
        # plain TIMESTAMP holds an instant: unix_micros reads it
        # zone-free regardless of the session zone
        inst = spark.sql(
            "SELECT timestamp'2024-01-01 00:00:00 UTC' AS ts"
        )
        assert _ns(inst, "ts").first()["ts"] == expect
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_psi_empty_input_raises_descriptive(spark):
    """PSI on empty/all-NULL input must raise a descriptive ValueError
    from the lo/hi probe, not a bare TypeError from float(None)
    (round-7 advice; matches the NULL-guarded degenerate paths of
    chi-squared/MWU/KS in this module)."""
    import pytest as _p

    from mdataframe_spark.operators.stats_tests import (
        population_stability_index,
    )

    empty = spark.createDataFrame([], "v double, is_cur boolean")
    with _p.raises(ValueError, match="no non-NULL"):
        population_stability_index(empty, "v", "is_cur")

    all_null = spark.createDataFrame(
        [(None, True), (None, False)], "v double, is_cur boolean"
    )
    with _p.raises(ValueError, match="no non-NULL"):
        population_stability_index(all_null, "v", "is_cur")

    # explicit lo/hi skip the probe entirely and keep working on the
    # degenerate input: the full smoothed zero-spectrum comes back
    out = population_stability_index(
        empty, "v", "is_cur", n_bins=4, lo=0.0, hi=1.0
    ).collect()
    assert len(out) == 4
    assert all(r["n_base"] == 0 and r["n_cur"] == 0 for r in out)
