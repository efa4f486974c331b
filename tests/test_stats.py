"""BH/FDR and ranking window primitives vs a numpy oracle."""

import numpy as np

from mdataframe_spark.functions.stats import add_rank, bh_adjust


def bh_numpy(p):
    p = np.asarray(p, dtype=float)
    n = len(p)
    order = np.argsort(p, kind="mergesort")
    ranked = p[order] * n / np.arange(1, n + 1)
    cummin = np.minimum.accumulate(ranked[::-1])[::-1]
    out = np.empty(n)
    out[order] = np.minimum(cummin, 1.0)
    return out


def test_bh_matches_numpy(spark):
    rng = np.random.RandomState(7)
    p = np.round(rng.uniform(0, 1, 200), 6)
    p[:20] = np.round(p[:20] / 100, 8)  # some small p
    p[50] = p[51] = p[52] = 0.5  # explicit ties
    df = spark.createDataFrame([(i, float(x)) for i, x in enumerate(p)], ["id", "p"])
    got_rows = bh_adjust(df, "p", "fdr").collect()
    got = np.empty(len(p))
    for r in got_rows:
        got[r["id"]] = r["fdr"]
    np.testing.assert_almost_equal(got, bh_numpy(p), decimal=12)


def test_bh_grouped(spark):
    p1 = [0.01, 0.02, 0.9]
    p2 = [0.5, 0.04]
    data = [("g1", i, x) for i, x in enumerate(p1)] + [("g2", i, x) for i, x in enumerate(p2)]
    df = spark.createDataFrame(data, ["grp", "id", "p"])
    rows = bh_adjust(df, "p", "fdr", group_cols=["grp"]).collect()
    by = {(r["grp"], r["id"]): r["fdr"] for r in rows}
    e1, e2 = bh_numpy(p1), bh_numpy(p2)
    for i in range(3):
        np.testing.assert_almost_equal(by[("g1", i)], e1[i], decimal=12)
    for i in range(2):
        np.testing.assert_almost_equal(by[("g2", i)], e2[i], decimal=12)


def test_add_rank(spark):
    df = spark.createDataFrame(
        [("a", 3.0), ("b", 1.0), ("c", 1.0), ("d", 2.0)], ["id", "v"]
    )
    rows = {r["id"]: r["rank"] for r in add_rank(df, "v").collect()}
    assert rows == {"b": 1, "c": 1, "d": 3, "a": 4}
    rows = {r["id"]: r["rank"] for r in add_rank(df, "v", method="dense_rank").collect()}
    assert rows == {"b": 1, "c": 1, "d": 2, "a": 3}


def test_unpartitioned_guard(spark, monkeypatch):
    """add_rank, which has no range arm, demands group_cols over large
    frames (probed via a cheap limit+count; thresholds shrunk here to
    avoid building 10M-row test frames)."""
    import pytest

    from mdataframe_spark.functions import stats as stats_mod

    monkeypatch.setattr(stats_mod, "SINGLE_REDUCER_WARN_ROWS", 10)
    monkeypatch.setattr(stats_mod, "SINGLE_REDUCER_MAX_ROWS", 50)
    big = spark.range(100).selectExpr("id", "id / 100.0 AS p")
    with pytest.raises(ValueError, match="unpartitioned window"):
        add_rank(big, "p")
    # opt-in accepts the single-reducer order
    assert add_rank(big, "p", allow_global=True).count() == 100
    # partitioned path never probes
    grouped = big.withColumn("g", big.id % 4)
    assert add_rank(grouped, "p", group_cols=["g"]).count() == 100
    mid = spark.range(30).selectExpr("id", "id / 30.0 AS p")
    with pytest.warns(UserWarning, match="single-reducer"):
        add_rank(mid, "p").count()


def _p_frame(spark, n, parts):
    """n p-values: ~half tiny (signal-like) with heavy ties, the rest
    spread over [0, 1) — the realistic text-corpus shape."""
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .withColumn(
            "p",
            F.when(F.col("id") % 2 == 0, (F.col("id") % 1000) / 1.0e7)
            .otherwise(((F.col("id") * 2654435761) % 10000) / 10000.0),
        )
        .repartition(parts)
    )


def test_bh_scale_safe_equals_window_path_1m(spark, monkeypatch):
    """bh_adjust's range arm (forced by a zero cut) reproduces the
    window arm exactly at 10^6 rows, with no unpartitioned window."""
    from pyspark.sql import functions as F

    from mdataframe_spark.functions import stats as stats_mod

    df = _p_frame(spark, 1_000_000, 32)
    ref = bh_adjust(df, "p", "fdr_ref", tiebreak_cols=["id"])
    monkeypatch.setattr(stats_mod, "SINGLE_REDUCER_MAX_ROWS", 0)
    fast = bh_adjust(df, "p", "fdr_fast", tiebreak_cols=["id"])
    joined = ref.join(fast.select("id", "fdr_fast"), "id")
    bad = joined.filter(
        F.abs(F.col("fdr_ref") - F.col("fdr_fast")) > 1e-12
    ).count()
    assert bad == 0


def test_by_scale_safe_equals_window_arm_200k(spark, monkeypatch):
    """Benjamini-Yekutieli through the range arm — identical to the
    window arm's BY output at 200k rows with heavy ties and near-0 p
    mass, and row-wise >= plain BH (the dominance property the
    harmonic factor guarantees)."""
    from pyspark.sql import functions as F

    from mdataframe_spark.functions import stats as stats_mod

    df = _p_frame(spark, 200_000, 16)
    ref = bh_adjust(df, "p", "fdr_ref", tiebreak_cols=["id"], by_correction=True)
    monkeypatch.setattr(stats_mod, "SINGLE_REDUCER_MAX_ROWS", 0)
    fast = bh_adjust(df, "p", "fdr_fast", tiebreak_cols=["id"], by_correction=True)
    bh_fast = bh_adjust(df, "p", "fdr_bh", tiebreak_cols=["id"])
    joined = (
        ref.join(fast.select("id", "fdr_fast"), "id")
        .join(bh_fast.select("id", "fdr_bh"), "id")
    )
    bad = joined.filter(
        F.abs(F.col("fdr_ref") - F.col("fdr_fast")) > 1e-12
    ).count()
    assert bad == 0
    dominated = joined.filter(
        F.col("fdr_fast") < F.col("fdr_bh") - 1e-12
    ).count()
    assert dominated == 0


def test_harmonic_crossover_continuity():
    """_harmonic: the asymptotic branch picks up where the exact loop
    leaves off — continuous at the 10^6 crossover to double ulp."""
    from mdataframe_spark.functions.stats import _harmonic

    exact = _harmonic(1_000_000)
    # one past the crossover via the asymptotic branch
    asym = _harmonic(1_000_001)
    assert abs(asym - (exact + 1.0 / 1_000_001)) < 1e-12
    assert _harmonic(0) == 0.0
    assert _harmonic(1) == 1.0
    assert _harmonic(3) == 1.0 + 0.5 + 1.0 / 3.0


def test_holm_scale_safe_equals_window_arm_200k(spark, monkeypatch):
    """Holm through the range arm — identical to the window arm at 200k
    rows with heavy ties and near-0 p mass, and the step-down
    monotonicity survives the bucket factorization."""
    from pyspark.sql import functions as F

    from mdataframe_spark.functions import stats as stats_mod
    from mdataframe_spark.functions.stats import holm_adjust

    df = _p_frame(spark, 200_000, 16)
    ref = holm_adjust(df, "p", "h_ref", tiebreak_cols=["id"])
    monkeypatch.setattr(stats_mod, "SINGLE_REDUCER_MAX_ROWS", 0)
    fast = holm_adjust(df, "p", "h_fast", tiebreak_cols=["id"])
    joined = ref.join(fast.select("id", "h_fast"), "id")
    bad = joined.filter(
        F.abs(F.col("h_ref") - F.col("h_fast")) > 1e-12
    ).count()
    assert bad == 0
