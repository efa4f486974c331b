"""Round-8 evaluation & statistics wave: hand-computed / independently
recomputed fixtures for the new operators (the oracle parity sweep in
test_extra_parity.py covers the registered queries; these pin the
NUMERICS to references outside both engines)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdataframe_spark.operators.evaluation import confusion_metrics, ndcg_at_k
from mdataframe_spark.operators.regression import ols_closed_form, ols_moments
from mdataframe_spark.operators.similarity import nearest_centroid_predict
from mdataframe_spark.operators.stats_tests import spearman_rho, welch_ttest


def _t_cdf_upper2(t, dof, steps=400_000):
    """Two-sided Student-t p by direct Simpson integration of the
    density — independent of both engines and of numerics.betainc."""
    t = abs(float(t))
    c = math.exp(
        math.lgamma((dof + 1) / 2.0)
        - math.lgamma(dof / 2.0)
        - 0.5 * math.log(dof * math.pi)
    )

    def pdf(x):
        return c * (1.0 + x * x / dof) ** (-(dof + 1) / 2.0)

    # integrate 0..t, p = 2 * (0.5 - integral)
    h = t / steps
    s = pdf(0.0) + pdf(t)
    for i in range(1, steps):
        s += pdf(i * h) * (4 if i % 2 else 2)
    integral = s * h / 3.0
    return 2.0 * (0.5 - integral)


def test_welch_ttest_hand(spark):
    a = [2.1, 2.5, 2.3, 2.9, 2.7, 2.2]
    b = [1.1, 1.8, 1.4, 1.2, 1.9, 1.6, 1.3]
    df = spark.createDataFrame(
        [(x, True) for x in a] + [(x, False) for x in b], ["v", "g"]
    )
    row = welch_ttest(df, "v", "g").collect()[0]
    # independent recomputation from the same rounded sums
    s1a, s2a = round(sum(a), 4), round(sum(x * x for x in a), 4)
    s1b, s2b = round(sum(b), 4), round(sum(x * x for x in b), 4)
    n1, n2 = len(a), len(b)
    m1, m2 = s1a / n1, s1b / n2
    v1 = (s2a - s1a * m1) / (n1 - 1)
    v2 = (s2b - s1b * m2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / math.sqrt(se2)
    dof = se2 * se2 / (
        (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
    )
    assert row["n1"] == n1 and row["n2"] == n2
    assert row["mean1"] == pytest.approx(round(m1, 6), abs=1e-9)
    assert row["t"] == pytest.approx(round(t, 6), abs=1e-9)
    assert row["dof"] == pytest.approx(round(dof, 4), abs=1e-9)
    assert row["p_value"] == pytest.approx(
        _t_cdf_upper2(round(t, 6), round(dof, 4)), abs=2e-6
    )


def test_welch_ttest_degenerate(spark):
    # constant values in both groups: zero variance -> NULL t/dof/p
    df = spark.createDataFrame(
        [(1.0, True)] * 3 + [(1.0, False)] * 3, ["v", "g"]
    )
    row = welch_ttest(df, "v", "g").collect()[0]
    assert row["t"] is None and row["p_value"] is None


def _spearman_ref(xs, ys):
    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2.0 + 1.0
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    vx = sum((a - mx) ** 2 for a in rx)
    vy = sum((b - my) ** 2 for b in ry)
    return cov / math.sqrt(vx * vy)


def test_spearman_rho_ties(spark):
    xs = [1.0, 2.0, 2.0, 3.0, 4.0, 4.0, 4.0, 5.0]
    ys = [2.0, 1.0, 3.0, 3.0, 5.0, 4.0, 6.0, 7.0]
    df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
    row = spearman_rho(df, "x", "y").collect()[0]
    assert row["n"] == 8
    assert row["n_distinct_x"] == 5 and row["n_distinct_y"] == 7
    assert row["rho"] == pytest.approx(_spearman_ref(xs, ys), abs=1e-6)


def test_spearman_perfect_monotone(spark):
    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(1, 20)], ["x", "y"]
    )
    assert spearman_rho(df, "x", "y").collect()[0]["rho"] == pytest.approx(
        1.0, abs=1e-9
    )


def test_ols_closed_form_vs_numpy(spark):
    rng = np.random.RandomState(7)
    x1 = rng.uniform(0, 10, 200)
    x2 = rng.uniform(0, 5, 200)
    y = 3.0 + 1.5 * x1 - 2.0 * x2 + rng.normal(0, 0.3, 200)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        ["x1", "x2", "y"],
    )
    row = ols_closed_form(df, "y", ["x1", "x2"]).collect()[0]
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    # moments are rounded to 6dp before the solve — tolerance reflects it
    assert row["b0"] == pytest.approx(beta[0], abs=1e-3)
    assert row["b1"] == pytest.approx(beta[1], abs=1e-3)
    assert row["b2"] == pytest.approx(beta[2], abs=1e-3)
    resid = y - X @ beta
    r2 = 1.0 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))
    assert row["r2"] == pytest.approx(r2, abs=1e-3)
    assert 0.9 < row["r2"] <= 1.0


def test_ols_singular_design_null(spark):
    # x2 = 2*x1 exactly -> singular normal equations -> NULL betas
    df = spark.createDataFrame(
        [(float(i), float(2 * i), float(i)) for i in range(1, 30)],
        ["x1", "x2", "y"],
    )
    row = ols_closed_form(df, "y", ["x1", "x2"]).collect()[0]
    assert row["b0"] is None and row["b1"] is None and row["b2"] is None


def test_ols_moments_rejects_nothing_and_counts_complete_case(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (None, 2.0, 3.0), (1.0, 2.0, None)],
        ["x1", "x2", "y"],
    )
    assert ols_moments(df, "y", ["x1", "x2"]).collect()[0]["n"] == 1
    with pytest.raises(ValueError):
        ols_closed_form(df, "y", ["x1"])


def test_confusion_metrics_hand(spark):
    rows = [("a", "a")] * 5 + [("a", "b")] * 2 + [("b", "b")] * 3 + [
        ("b", "c")
    ] * 1 + [("c", "a")] * 2
    df = spark.createDataFrame(rows, ["label", "pred"])
    out = {r["class"]: r for r in confusion_metrics(df, "label", "pred").collect()}
    assert out["a"]["tp"] == 5 and out["a"]["fn"] == 2 and out["a"]["fp"] == 2
    assert out["a"]["precision"] == pytest.approx(5 / 7)
    assert out["a"]["recall"] == pytest.approx(5 / 7)
    assert out["b"]["tp"] == 3 and out["b"]["fp"] == 2 and out["b"]["fn"] == 1
    assert out["b"]["f1"] == pytest.approx(round(2 * 3 / (5 + 4), 6))
    # class c: never predicted correctly — precision NULL when n_pred>0? c predicted once
    assert out["c"]["tp"] == 0 and out["c"]["n_pred"] == 1 and out["c"]["n_true"] == 2
    assert out["c"]["precision"] == 0.0 and out["c"]["recall"] == 0.0


def test_ndcg_hand(spark):
    # one user; relevance 3,2,0 ranked by score puts rel=2 first
    rows = [(1, 10.0, 2.0, 1), (1, 5.0, 3.0, 2), (1, 1.0, 0.0, 3)]
    df = spark.createDataFrame(rows, ["u", "s", "r", "id"])
    row = ndcg_at_k(df, "u", "s", "r", k=10, tiebreak_col="id").collect()[0]
    dcg = round(2.0 / math.log2(2), 9) + round(3.0 / math.log2(3), 9)
    idcg = round(3.0 / math.log2(2), 9) + round(2.0 / math.log2(3), 9)
    assert row["dcg"] == pytest.approx(round(dcg, 6), abs=1e-9)
    assert row["idcg"] == pytest.approx(round(idcg, 6), abs=1e-9)
    assert row["ndcg"] == pytest.approx(round(round(dcg, 6) / round(idcg, 6), 6), abs=1e-9)


def test_ndcg_k_cutoff(spark):
    # 3 items, k=1: only the top-ranked item contributes
    rows = [(1, 10.0, 1.0, 1), (1, 5.0, 3.0, 2), (1, 1.0, 2.0, 3)]
    df = spark.createDataFrame(rows, ["u", "s", "r", "id"])
    row = ndcg_at_k(df, "u", "s", "r", k=1, tiebreak_col="id").collect()[0]
    assert row["dcg"] == pytest.approx(1.0)
    assert row["idcg"] == pytest.approx(3.0)
    assert row["ndcg"] == pytest.approx(round(1 / 3, 6))


def test_nearest_centroid_predict_hand(spark):
    # two tight clusters; one vector mislabeled -> predicted to other class
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 0.9], 1),
        (5, [0.05, 1.0], 0),  # sits in cluster 1's region but labeled 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["vec_id"]: r["pred"] for r in nearest_centroid_predict(df).collect()}
    assert out[3] == 1 and out[4] == 1
    assert out[1] == 0 and out[2] == 0
    # the mislabeled point's own-class centroid is dragged toward it,
    # but the cosine to class 1's centroid is still higher
    assert out[5] == 1


def test_cdc_apply_hand(spark):
    from mdataframe_spark.operators.scd import cdc_apply

    rows = [
        # key 1: upsert then delete -> gone
        (1, 1, "upsert", 10.0),
        (1, 2, "delete", None),
        # key 2: delete then upsert -> alive at the later value
        (2, 1, "delete", None),
        (2, 2, "upsert", 20.0),
        (2, 3, "upsert", 25.0),
        # key 3: single insert
        (3, 1, "upsert", 30.0),
    ]
    df = spark.createDataFrame(rows, ["k", "seq", "op", "val"])
    out = {r["k"]: r for r in cdc_apply(df, ["k"], ["seq"]).collect()}
    assert set(out) == {2, 3}
    assert out[2]["val"] == 25.0 and out[2]["seq"] == 3
    assert out[3]["val"] == 30.0


def test_snapshot_diff_hand(spark):
    from mdataframe_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(2, 21.0), (3, None), (4, 40.0)], ["k", "v"]
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert out[1]["change_type"] == "removed"
    assert out[2]["change_type"] == "changed"
    assert out[2]["old_v"] == 20.0 and out[2]["new_v"] == 21.0
    assert out[4]["change_type"] == "added"
    assert 3 not in out  # NULL == NULL is unchanged (null-safe compare)


def test_jaccard_link_prediction_hand(spark):
    from mdataframe_spark.operators.baskets import jaccard_link_prediction

    # path graph 1-2-3 plus edge 2-4: candidates at distance 2 through 2
    edges = [(1, 2), (2, 3), (2, 4)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = {(r["id_x"], r["id_y"]): r for r in
           jaccard_link_prediction(df).collect()}
    # neighbors: N(1)={2}, N(3)={2}, N(4)={2} -> all pairs share exactly {2}
    assert set(out) == {(1, 3), (1, 4), (3, 4)}
    for r in out.values():
        assert r["common_neighbors"] == 1
        assert r["jaccard"] == 1.0  # 1 / (1 + 1 - 1)


def test_jaccard_link_prediction_hub_cap(spark):
    from mdataframe_spark.operators.baskets import jaccard_link_prediction

    # star around 0 with 5 leaves; cap degree below 5 kills every wedge
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    assert jaccard_link_prediction(df, max_degree=4).count() == 0
    # uncapped: all leaf pairs score 1.0
    assert jaccard_link_prediction(df, max_degree=5).count() == 10


def test_event_transitions_hand(spark):
    from mdataframe_spark.operators.events import event_transitions
    from datetime import datetime

    t = datetime(2024, 1, 1)
    rows = [
        (1, t.replace(hour=1), "a", 1),
        (1, t.replace(hour=2), "b", 2),
        (1, t.replace(hour=3), "a", 3),
        (2, t.replace(hour=1), "a", 4),
        (2, t.replace(hour=2), "b", 5),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    out = {(r["from_type"], r["to_type"]): r for r in
           event_transitions(df).collect()}
    assert out[("a", "b")]["n"] == 2
    assert out[("b", "a")]["n"] == 1
    assert out[("a", "b")]["prob"] == 1.0  # a always goes to b
    assert out[("b", "a")]["prob"] == 1.0


def _anova_ref(groups):
    """Independent one-way ANOVA from the same rounded per-group sums."""
    stats = []
    for vals in groups:
        stats.append(
            (len(vals), round(sum(vals), 4), round(sum(v * v for v in vals), 4))
        )
    k = len(stats)
    n = sum(s[0] for s in stats)
    t1 = sum(s[1] for s in stats)
    t2 = sum(s[2] for s in stats)
    ssw = sum(s2 - s1 * s1 / ng for ng, s1, s2 in stats)
    sst = t2 - t1 * t1 / n
    ssb = sst - ssw
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return k, n, ssb, ssw, f, ssb / sst


def test_anova_oneway_hand(spark):
    from mdataframe_spark.operators.stats_tests import anova_oneway

    groups = {
        "a": [2.1, 2.5, 2.3, 2.9],
        "b": [1.1, 1.8, 1.4, 1.2, 1.9],
        "c": [3.0, 3.4, 3.2],
    }
    rows = [(v, g) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, ["v", "g"])
    row = anova_oneway(df, "v", "g").collect()[0]
    k, n, ssb, ssw, f, eta = _anova_ref(list(groups.values()))
    assert row["n_groups"] == k and row["n"] == n
    assert row["ss_between"] == pytest.approx(round(ssb, 4), abs=1e-9)
    assert row["ss_within"] == pytest.approx(round(ssw, 4), abs=1e-9)
    assert row["f_stat"] == pytest.approx(round(f, 6), abs=1e-9)
    assert row["eta_sq"] == pytest.approx(round(eta, 6), abs=1e-9)
    assert 0 < row["p_value"] < 0.01  # clearly separated means


def test_anova_f_p_matches_t_squared(spark):
    """For d1 = 1 (two groups), the F(1, d2) upper tail equals the
    two-sided t p at t = sqrt(F) — an independent closed-form check of
    the incomplete-beta p path."""
    from mdataframe_spark.operators.stats_tests import anova_oneway

    a = [2.1, 2.5, 2.3, 2.9, 2.7]
    b = [1.9, 1.8, 2.4, 2.2]
    df = spark.createDataFrame(
        [(v, "a") for v in a] + [(v, "b") for v in b], ["v", "g"]
    )
    row = anova_oneway(df, "v", "g").collect()[0]
    d2 = row["n"] - row["n_groups"]
    expected = _t_cdf_upper2(math.sqrt(row["f_stat"]), d2)
    assert row["p_value"] == pytest.approx(expected, abs=2e-6)


def test_anova_degenerate_constant(spark):
    from mdataframe_spark.operators.stats_tests import anova_oneway

    df = spark.createDataFrame(
        [(1.0, "a")] * 3 + [(1.0, "b")] * 3, ["v", "g"]
    )
    row = anova_oneway(df, "v", "g").collect()[0]
    assert row["f_stat"] is None and row["p_value"] is None


def test_brown_forsythe_detects_spread(spark):
    from mdataframe_spark.operators.stats_tests import brown_forsythe

    # same median, wildly different spread
    tight = [10.0 + d for d in (-0.1, -0.05, 0.0, 0.05, 0.1) * 4]
    wide = [10.0 + d for d in (-5.0, -2.5, 0.0, 2.5, 5.0) * 4]
    df = spark.createDataFrame(
        [(v, "tight") for v in tight] + [(v, "wide") for v in wide],
        ["v", "g"],
    )
    row = brown_forsythe(df, "v", "g").collect()[0]
    assert row["f_stat"] > 10
    assert row["p_value"] < 0.01
    # identical groups: no spread difference
    df2 = spark.createDataFrame(
        [(v, "x") for v in wide] + [(v, "y") for v in wide], ["v", "g"]
    )
    assert brown_forsythe(df2, "v", "g").collect()[0]["f_stat"] == pytest.approx(
        0.0, abs=1e-6
    )


def test_gain_deciles_hand(spark):
    from mdataframe_spark.operators.evaluation import gain_deciles

    # 20 rows, scores descending 20..1; positives are the top 5 scores
    rows = [(float(s), 1 if s > 15 else 0, s) for s in range(1, 21)]
    df = spark.createDataFrame(rows, ["score", "y", "id"])
    out = {r["bucket"]: r for r in
           gain_deciles(df, "score", "y", n_buckets=4, tiebreak_col="id").collect()}
    # 4 buckets of 5; all positives land in bucket 1
    assert out[1]["n"] == 5 and out[1]["n_pos"] == 5
    assert out[1]["cum_capture_rate"] == 1.0
    assert out[1]["lift"] == pytest.approx(4.0)  # 100% vs base rate 25%
    assert out[2]["n_pos"] == 0
    assert out[4]["cum_capture_rate"] == 1.0
    assert out[4]["lift"] == pytest.approx(1.0)


def test_ols_collinear_noninteger_null(spark):
    """Review fix: a collinear design on NON-integer data has a
    rounding-noise-sized (not exactly zero) determinant — the
    tolerance guard must still yield NULLs."""
    rng = np.random.RandomState(11)
    x1 = rng.uniform(0, 10, 100)
    df = spark.createDataFrame(
        [(float(a), float(2.0 * a), float(1.0 + 0.5 * a)) for a in x1],
        ["x1", "x2", "y"],
    )
    row = ols_closed_form(df, "y", ["x1", "x2"]).collect()[0]
    assert row["b0"] is None and row["b1"] is None and row["b2"] is None
    assert row["r2"] is None


def test_ols_decimals_respected(spark):
    rng = np.random.RandomState(3)
    x1 = rng.uniform(0, 10, 100)
    x2 = rng.uniform(0, 5, 100)
    y = 1.0 + 2.0 * x1 + 3.0 * x2
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        ["x1", "x2", "y"],
    )
    row = ols_closed_form(df, "y", ["x1", "x2"], decimals=4).collect()[0]
    # coefficients rounded at the REQUESTED precision (4 dp grid)
    for name in ("b0", "b1", "b2"):
        assert row[name] == round(row[name], 4)
    assert row["b1"] == pytest.approx(2.0, abs=1e-2)


def test_nearest_centroid_string_labels(spark):
    rows = [
        (1, [1.0, 0.0], "red"),
        (2, [0.9, 0.1], "red"),
        (3, [0.0, 1.0], "blue"),
        (4, [0.1, 0.9], "blue"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["vec_id"]: r["pred"] for r in nearest_centroid_predict(df).collect()}
    assert out[1] == "red" and out[3] == "blue"


def test_nearest_centroid_empty_raises(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    with pytest.raises(ValueError, match="empty input"):
        nearest_centroid_predict(df)


def test_cdc_apply_null_op_kept(spark):
    """Review fix: a winning change with op=NULL must not be silently
    treated as a delete."""
    from mdataframe_spark.operators.scd import cdc_apply

    df = spark.createDataFrame(
        [(1, 1, "upsert", 10.0), (1, 2, None, 11.0)],
        "k int, seq int, op string, val double",
    )
    out = cdc_apply(df, ["k"], ["seq"]).collect()
    assert len(out) == 1 and out[0]["val"] == 11.0


def test_snapshot_diff_empty_compare_cols(spark):
    from mdataframe_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], ["k"])
    new = spark.createDataFrame([(2,), (3,)], ["k"])
    out = {r["k"]: r["change_type"] for r in
           snapshot_diff(old, new, ["k"], []).collect()}
    assert out == {1: "removed", 3: "added"}


def test_count_min_never_undercounts(spark):
    from mdataframe_spark.operators.sketches import count_min_estimates

    rows = [(k,) for k in ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + list("defghij")]
    df = spark.createDataFrame(rows, ["k"])
    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], ["k"])
    # width=4 forces collisions: estimates must still never undercount
    out = {r["k"]: r["cm_estimate"] for r in
           count_min_estimates(df, "k", probes, depth=3, width=4).collect()}
    assert out["a"] >= 50 and out["b"] >= 20 and out["c"] >= 5
    assert out["z"] >= 0  # absent key: min over cells, never negative
    # a generous width makes the heavy key exact
    wide = {r["k"]: r["cm_estimate"] for r in
            count_min_estimates(df, "k", probes, depth=3, width=4096).collect()}
    assert wide["a"] == 50 and wide["b"] == 20 and wide["c"] == 5


def test_seasonal_profile_hand(spark):
    from datetime import datetime

    from mdataframe_spark.operators.events import seasonal_profile

    rows = []
    # type 'x': hour 1 values avg 10, hour 2 values avg 30 -> type mean 20
    for d in (1, 2, 3):
        rows.append((datetime(2024, 1, d, 1, 0), "x", 10.0))
        rows.append((datetime(2024, 1, d, 2, 0), "x", 30.0))
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = {r["hour_of_day"]: r for r in seasonal_profile(df).collect()}
    assert out[1]["mean_value"] == 10.0 and out[2]["mean_value"] == 30.0
    assert out[1]["seasonal_index"] == pytest.approx(0.5)
    assert out[2]["seasonal_index"] == pytest.approx(1.5)
    assert out[1]["n"] == 3


def test_candidate_keys_hand(spark):
    from mdataframe_spark.operators.diagnostics import candidate_keys

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (3, "b"), (4, None), (5, None)],
        "id int, grp string",
    )
    out = {r["candidate"]: r for r in
           candidate_keys(df, [["id"], ["grp"], ["id", "grp"]]).collect()}
    assert out["id"]["n_distinct"] == 5 and not out["id"]["is_unique"]
    # NULL counts as a groupable tuple value for key purposes
    assert out["grp"]["n_distinct"] == 3
    assert out["id+grp"]["n_distinct"] == 5
    assert out["id+grp"]["n_duplicate_rows"] == 1
    with pytest.raises(ValueError):
        candidate_keys(df, [])


def test_count_min_null_keys_dropped(spark):
    from mdataframe_spark.operators.sketches import count_min_estimates

    df = spark.createDataFrame([("a",), ("a",), (None,)], "k string")
    probes = spark.createDataFrame([("a",), (None,)], "k string")
    out = {r["k"]: r["cm_estimate"] for r in
           count_min_estimates(df, "k", probes, depth=3, width=64).collect()}
    # NULL keys dropped on both sides: no NULL probe row, 'a' unpolluted
    assert out == {"a": 2}


def test_seasonal_profile_pre_epoch_hour_domain(spark):
    from datetime import datetime

    from mdataframe_spark.operators.events import seasonal_profile

    rows = [
        (datetime(1969, 12, 31, 20, 30), "x", 1.0),  # pre-epoch
        (datetime(2024, 1, 1, 20, 30), "x", 3.0),
    ]
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = seasonal_profile(df).collect()
    # both land in hour 20 (floor-div + pmod keeps the 0..23 domain
    # across the epoch sign change)
    assert [r["hour_of_day"] for r in out] == [20]
    assert out[0]["n"] == 2


def test_embedding_drift_hand(spark):
    from mdataframe_spark.operators.similarity import embedding_drift

    a = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    # label 0 rotated 90 degrees in snapshot B; label 2 only in B
    b = spark.createDataFrame(
        [(4, [0.0, 1.0], 0), (5, [0.5, 0.5], 2)],
        ["vec_id", "embedding", "label"],
    )
    out = {r["label"]: r for r in embedding_drift(a, b).collect()}
    assert out[0]["centroid_cosine"] == pytest.approx(0.0, abs=1e-9)
    assert out[0]["drift"] == pytest.approx(1.0, abs=1e-9)
    assert out[0]["n_a"] == 2 and out[0]["n_b"] == 1
    # one-sided labels carry NULL cosine, zero count on the empty side
    assert out[1]["centroid_cosine"] is None and out[1]["n_b"] == 0
    assert out[2]["centroid_cosine"] is None and out[2]["n_a"] == 0


def test_embedding_drift_identical_snapshots(spark):
    from mdataframe_spark.operators.similarity import embedding_drift

    e = spark.createDataFrame(
        [(i, [float(i % 3 + 1), 2.0], i % 2) for i in range(10)],
        ["vec_id", "embedding", "label"],
    )
    for r in embedding_drift(e, e).collect():
        assert r["drift"] == pytest.approx(0.0, abs=1e-6)


def test_scd2_compact_hand(spark):
    from mdataframe_spark.operators.scd import scd2_compact

    rows = [
        # key 1: A,A,B,A with contiguous validity -> 3 runs
        (1, "A", 1, 2), (1, "A", 2, 3), (1, "B", 3, 4), (1, "A", 4, None),
        # key 2: identical attrs but a GAP between versions -> 2 runs
        (2, "X", 1, 2), (2, "X", 5, None),
    ]
    df = spark.createDataFrame(
        rows, "k int, attr string, valid_from int, valid_to int"
    )
    out = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_compact(df, "k", ["attr"]).collect()
    )
    assert out == [
        (1, "A", 1, 3),
        (1, "A", 4, None),
        (1, "B", 3, 4),
        (2, "X", 1, 2),
        (2, "X", 5, None),
    ]


def test_scd2_compact_open_run_stays_open(spark):
    from mdataframe_spark.operators.scd import scd2_compact

    df = spark.createDataFrame(
        [(1, "A", 1, 2), (1, "A", 2, None)],
        "k int, attr string, valid_from int, valid_to int",
    )
    out = scd2_compact(df, "k", ["attr"]).collect()
    assert len(out) == 1
    assert out[0]["valid_from"] == 1 and out[0]["valid_to"] is None


def test_pr_curve_hand(spark):
    from mdataframe_spark.operators.evaluation import pr_curve

    # scores 4,3,2,1 with labels 1,0,1,0
    rows = [(4.0, 1), (3.0, 0), (2.0, 1), (1.0, 0)]
    df = spark.createDataFrame(rows, ["s", "y"])
    out = {r["threshold"]: r for r in pr_curve(df, "s", "y").collect()}
    assert out[4.0]["precision"] == 1.0 and out[4.0]["recall"] == 0.5
    assert out[3.0]["precision"] == 0.5 and out[3.0]["recall"] == 0.5
    assert out[2.0]["precision"] == pytest.approx(round(2 / 3, 6))
    assert out[2.0]["recall"] == 1.0
    assert out[1.0]["precision"] == 0.5 and out[1.0]["recall"] == 1.0
    # f1 at the best threshold: 2*2/(3+2)
    assert out[2.0]["f1"] == 0.8


def test_pr_curve_ties_collapse(spark):
    from mdataframe_spark.operators.evaluation import pr_curve

    rows = [(1.0, 1), (1.0, 0), (0.5, 1)]
    df = spark.createDataFrame(rows, ["s", "y"])
    out = pr_curve(df, "s", "y").collect()
    assert len(out) == 2  # one row per DISTINCT score
    assert out[0]["n_ge"] == 2 and out[0]["pos_ge"] == 1


def test_top_event_paths_hand(spark):
    from datetime import datetime

    from mdataframe_spark.operators.events import top_event_paths

    t = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in (1, 2):
        for i, ty in enumerate(["a", "b", "c", "b"]):
            eid += 1
            rows.append((u, t.replace(hour=i + 1), ty, eid))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    out = {r["path"]: r["n"] for r in top_event_paths(df).collect()}
    # each user contributes a>b>c and b>c>b
    assert out == {"a>b>c": 2, "b>c>b": 2}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        top_event_paths(df, length=1)


def test_top_paths_null_first_element_dropped(spark):
    from datetime import datetime

    from mdataframe_spark.operators.events import top_event_paths

    t = datetime(2024, 1, 1)
    rows = [
        (1, t.replace(hour=1), None, 1),  # NULL first element
        (1, t.replace(hour=2), "b", 2),
        (1, t.replace(hour=3), "c", 3),
        (1, t.replace(hour=4), "d", 4),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    out = {r["path"]: r["n"] for r in top_event_paths(df).collect()}
    # the NULL-headed window must NOT surface as a truncated 'b>c' path
    assert out == {"b>c>d": 1}


def test_embedding_drift_null_first_vector(spark):
    from mdataframe_spark.operators.similarity import embedding_drift

    a = spark.createDataFrame(
        [(1, None, 0), (2, [1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    b = spark.createDataFrame(
        [(3, [1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    out = embedding_drift(a, b).collect()
    assert out[0]["drift"] == pytest.approx(0.0, abs=1e-9)


def test_jaccard_wedge_budget_falls_back_to_distributed(spark):
    from mdataframe_spark.operators.baskets import jaccard_link_prediction

    # star graph: center degree 9 -> wedge estimate C(9,2)=36
    edges = [(0, i) for i in range(1, 10)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    dist = sorted(
        tuple(r)
        for r in jaccard_link_prediction(
            df, max_degree=100, driver_wedge_max=10
        ).collect()
    )
    drv = sorted(
        tuple(r)
        for r in jaccard_link_prediction(
            df, max_degree=100, driver_wedge_max=10_000
        ).collect()
    )
    # over-budget path (distributed) and driver path agree
    assert dist == drv and len(dist) == 36


def test_gain_deciles_scale_safe_equals_exact(spark, monkeypatch):
    """The range arm (forced by a zero cut: distributed sort-rank
    ntile, no global window) must reproduce the window arm row-for-row
    whenever the order is total — including ties broken by
    tiebreak_col and N not divisible by n_buckets."""
    from mdataframe_spark.functions import stats
    from mdataframe_spark.operators.evaluation import gain_deciles

    rng = np.random.RandomState(7)
    # 237 rows (not divisible by 10), heavy score ties (quantized)
    rows = [
        (round(float(rng.uniform(0, 1)), 1), int(rng.rand() < 0.3), i)
        for i in range(237)
    ]
    df = spark.createDataFrame(rows, ["score", "y", "id"])
    for nb in (4, 10):
        exact = gain_deciles(
            df, "score", "y", n_buckets=nb, tiebreak_col="id"
        ).collect()
        with monkeypatch.context() as m:
            m.setattr(stats, "SINGLE_REDUCER_MAX_ROWS", 0)
            safe = gain_deciles(
                df, "score", "y", n_buckets=nb, tiebreak_col="id"
            ).collect()
        assert [r.asDict() for r in exact] == [r.asDict() for r in safe]
