"""Round-11 wave 5: effect sizes (Cohen d / Hedges g / Vargha-Delaney
A), Good-Turing smoothed frequencies, Benjamini-Yekutieli FDR — each
pinned against independent numpy/plain-Python references."""

import math

import numpy as np
import pytest

from mdataframe_spark.functions.stats import bh_adjust
from mdataframe_spark.operators.stats_tests import effect_sizes
from mdataframe_spark.operators.text import good_turing_frequencies


def test_effect_sizes_match_numpy(spark):
    rng = np.random.default_rng(5)
    g1 = np.round(rng.normal(12.0, 3.0, 300), 4)
    g2 = np.round(rng.normal(10.0, 3.0, 400), 4)
    rows = [(True, float(v)) for v in g1] + [(False, float(v)) for v in g2]
    df = spark.createDataFrame(rows, "g boolean, v double")
    got = effect_sizes(df, "v", "g").collect()[0]
    n1, n2 = len(g1), len(g2)
    pooled = ((n1 - 1) * g1.var(ddof=1) + (n2 - 1) * g2.var(ddof=1)) / (
        n1 + n2 - 2
    )
    d = (g1.mean() - g2.mean()) / math.sqrt(pooled)
    jcorr = 1 - 3 / (4 * (n1 + n2) - 9)
    # brute-force Vargha-Delaney A with tie credit
    gt = sum(1 for a in g1 for b in g2 if a > b)
    eq = sum(1 for a in g1 for b in g2 if a == b)
    a_stat = (gt + 0.5 * eq) / (n1 * n2)
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["mean_diff"] == pytest.approx(g1.mean() - g2.mean(), abs=1e-4)
    assert got["cohens_d"] == pytest.approx(d, abs=1e-4)
    assert got["hedges_g"] == pytest.approx(d * jcorr, abs=1e-4)
    assert got["vd_a"] == pytest.approx(a_stat, abs=1e-6)
    # a ~0.66-sd shift: conventional "medium" effect, A ~ 0.68
    assert 0.4 < got["cohens_d"] < 0.9 and 0.6 < got["vd_a"] < 0.75


def test_effect_sizes_degenerate(spark):
    df = spark.createDataFrame(
        [(True, 5.0)] * 4 + [(False, 5.0)] * 4, "g boolean, v double"
    )
    got = effect_sizes(df, "v", "g").collect()[0]
    assert got["cohens_d"] is None  # zero pooled variance
    assert got["vd_a"] == pytest.approx(0.5)  # all tied -> coin flip


def test_good_turing_hand_spectrum(spark):
    # corpus: a x5, b x3, c x3, d x1, e x1, f x1  ->
    # S(1)=3, S(2)=0, S(3)=2, S(5)=1, N=14
    docs = spark.createDataFrame(
        [(1, "a a a a a b b b c c c d e f")], "doc_id long, text string"
    )
    got = {r["r"]: r for r in good_turing_frequencies(docs).collect()}
    assert got[1]["s_r"] == 3 and got[3]["s_r"] == 2 and got[5]["s_r"] == 1
    # r*=2*S(2)/S(1)=0 at r=1 (S(2)=0 exists as next count 0 -> NULL?
    # S(2)=0 means no row for r=2 -> s_r_next=0 treated as missing)
    assert got[1]["s_r_next"] == 0 and got[1]["r_star"] is None
    # r=2 has S(2)=0 -> no row emitted
    assert 2 not in got
    # r=3: no S(4) -> NULL r_star; raw mass = 3*2/14
    assert got[3]["r_star"] is None
    assert got[3]["raw_mass"] == pytest.approx(6 / 14, abs=1e-6)
    # r=4 absent, r=5 tail
    assert got[5]["raw_mass"] == pytest.approx(5 / 14, abs=1e-6)


def test_good_turing_consecutive_spectrum(spark):
    # construct consecutive S(1)=2, S(2)=2, S(3)=1:
    # tokens: u v (x1), w x (x2), y (x3)
    docs = spark.createDataFrame(
        [(1, "u v w w x x y y y")], "doc_id long, text string"
    )
    got = {r["r"]: r for r in good_turing_frequencies(docs).collect()}
    assert got[1]["r_star"] == pytest.approx(2 * 2 / 2, abs=1e-9)  # 2*S2/S1
    assert got[2]["r_star"] == pytest.approx(3 * 1 / 2, abs=1e-9)  # 3*S3/S2
    n = 9
    assert got[1]["smoothed_mass"] == pytest.approx(2.0 * 2 / n, abs=1e-6)


def test_by_fdr_dominates_bh_and_matches_reference(spark):
    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.5, 0.81]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "k long, p double"
    )
    bh = {r["k"]: r["fdr"] for r in
          bh_adjust(df, "p", tiebreak_cols=["k"]).collect()}
    by = {r["k"]: r["fdr"] for r in
          bh_adjust(df, "p", tiebreak_cols=["k"],
                    by_correction=True).collect()}
    n = len(ps)
    c = sum(1.0 / i for i in range(1, n + 1))
    # plain-python BY reference
    order = sorted(range(n), key=lambda i: ps[i])
    ref = [None] * n
    run = 1.0
    for rank_from_end, idx in enumerate(reversed(order)):
        rank = n - rank_from_end
        run = min(run, ps[idx] * n * c / rank)
        ref[idx] = min(run, 1.0)
    for i in range(n):
        assert by[i] == pytest.approx(ref[i], abs=1e-9)
        # BY is uniformly more conservative than BH
        assert by[i] >= bh[i] - 1e-12
