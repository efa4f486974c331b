"""Regression tests for the round-10 ADVICE items:

1. histogram_quantile_gate's exact arm must drop NaN like the sketch
   arm (and the DuckDB oracle) do — otherwise the two arms certify
   different populations.
2. ewma_smooth's decimal-overflow guard must account for Spark's
   p1+p2+1 multiply precision rule (18+prec == 38 was a silent
   overflow: product precision 39 rounds in Spark, stays exact in
   DuckDB).
3. k_core's check_convergence raises a descriptive error when the
   fixed peel schedule stops before the fixed point.
"""

import math

import pytest
from pyspark.sql import functions as F

from mdataframe_spark.operators.baskets import k_core
from mdataframe_spark.operators.sketches import histogram_quantile_gate
from mdataframe_spark.operators.timeseries import ewma_smooth

HOUR_NS = 3_600_000_000_000


# --- 1. NaN parity between the sketch and exact arms -----------------

def test_quantile_gate_exact_arm_drops_nan(spark):
    clean_vals = [float(v) for v in range(1, 101)]
    clean = spark.createDataFrame([(v,) for v in clean_vals], "x DOUBLE")
    noisy = spark.createDataFrame(
        [(v,) for v in clean_vals]
        + [(float("nan"),)] * 7
        + [(None,)] * 3,
        "x DOUBLE",
    )
    got_clean = histogram_quantile_gate(
        clean, "x", lo=0.0, hi=100.0, n_bins=50
    ).collect()
    got_noisy = histogram_quantile_gate(
        noisy, "x", lo=0.0, hi=100.0, n_bins=50
    ).collect()
    assert [tuple(r) for r in got_clean] == [tuple(r) for r in got_noisy]
    assert all(r["within_bound"] for r in got_noisy)
    assert not any(math.isnan(r["exact_value"]) for r in got_noisy)


# --- 2. ewma decimal-precision guard off-by-one ----------------------

def _events_df(spark, counts):
    rows = []
    for b, n in enumerate(counts):
        for j in range(n):
            rows.append((b * HOUR_NS + j * 1_000_000, float(1 + j)))
    return spark.createDataFrame(rows, "ts BIGINT, value DOUBLE")


def test_ewma_guard_rejects_precision_39_products(spark):
    df = _events_df(spark, [3, 2, 4])
    # alpha=0.3, max_lag=18: frac=18, prec=20, product precision
    # 18+20+1 = 39 — Spark would silently round; must raise instead
    with pytest.raises(ValueError, match="decimal precision"):
        ewma_smooth(df, alpha=0.3, max_lag=18).collect()


def test_ewma_guard_still_admits_max_lag_17(spark):
    counts = [5, 8, 2, 9, 4]
    df = _events_df(spark, counts)
    out = {
        r["bucket"]: r["ewma"]
        for r in ewma_smooth(df, alpha=0.3, max_lag=17).collect()
    }
    w = [0.7**k for k in range(18)]
    for t, _ in enumerate(counts):
        num = sum(w[k] * counts[t - k] for k in range(t + 1))
        den = sum(w[k] for k in range(t + 1))
        assert out[t] == pytest.approx(num / den, abs=2e-6)


# --- 3. k_core convergence check ------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a BIGINT, id_b BIGINT")


TRIANGLE_TAIL = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]


def test_kcore_check_convergence_raises_on_early_stop(spark):
    # a 5-node path with k=2 and ONE round: round 1 peels the leaves,
    # leaving 2-3-4 whose new endpoints have degree 1 — the final
    # filter would drop vertices whose edges are still counted in a
    # survivor's core_degree (the internal-inconsistency the check
    # exists for)
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    with pytest.raises(ValueError, match="fixed point"):
        k_core(_edges(spark, path), k=2, rounds=1, check_convergence=True)


def test_kcore_check_convergence_passes_at_fixed_point(spark):
    out = {
        r["v"]: r["core_degree"]
        for r in k_core(
            _edges(spark, TRIANGLE_TAIL), k=2, check_convergence=True
        ).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}
