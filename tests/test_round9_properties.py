"""Cross-operator invariants for the round-9 waves, on deterministic
pseudo-random fixtures (seeded arithmetic, no RNG): ACF bounds, EWMA
convexity, k-core monotonicity, association-rule algebra, zone-map
soundness, reservoir weight monotonicity."""

import pytest
from pyspark.sql import functions as F

HOUR_NS = 3_600_000_000_000


def _noisy_events(spark, n=300):
    # deterministic "random" series: counts from a quadratic-residue
    # scramble — no two buckets equal, no RNG
    rows = []
    for b in range(n):
        cnt = (b * b * 7 + b * 13) % 11 + 1
        for j in range(cnt):
            rows.append((b * HOUR_NS + j, float((b * 31 + j) % 17)))
    return spark.createDataFrame(rows, "ts BIGINT, value DOUBLE")


def test_acf_is_bounded_and_lag_symmetric_denominator(spark):
    from mdataframe_spark.operators.timeseries import acf_lags

    df = _noisy_events(spark)
    rows = acf_lags(df, max_lag=5).collect()
    assert len(rows) == 5
    for r in rows:
        # |r_k| <= 1 up to the pair-subset estimator's slack; with 300
        # dense buckets the slack is far below 0.1
        assert abs(r["acf"]) <= 1.1
        assert r["n_pairs"] == 300 - r["lag"]


def test_ewma_is_convex_combination(spark):
    from mdataframe_spark.operators.timeseries import ewma_smooth

    df = _noisy_events(spark, n=60)
    out = ewma_smooth(df, alpha=0.4, max_lag=8).collect()
    xs = {}
    for r in df.collect():
        b = r["ts"] // HOUR_NS
        xs[b] = xs.get(b, 0) + 1
    for r in out:
        lo = min(
            xs[b] for b in xs if r["bucket"] - 8 <= b <= r["bucket"]
        )
        hi = max(
            xs[b] for b in xs if r["bucket"] - 8 <= b <= r["bucket"]
        )
        assert lo - 1e-6 <= r["ewma"] <= hi + 1e-6


def test_kcore_is_monotone_in_k(spark):
    from mdataframe_spark.operators.baskets import k_core

    pairs = [
        (a, b)
        for a in range(12)
        for b in range(a + 1, 12)
        if (a * 7 + b * 11) % 3 != 0
    ]
    df = spark.createDataFrame(pairs, "id_a BIGINT, id_b BIGINT")
    cores = {
        k: {r["v"] for r in k_core(df, k=k, rounds=10).collect()}
        for k in (2, 3, 4)
    }
    assert cores[4] <= cores[3] <= cores[2]


def test_association_rules_algebra(spark):
    from mdataframe_spark.operators.baskets import association_rules

    rows = [
        (b, i)
        for b in range(50)
        for i in range(6)
        if (b * (i + 3)) % 4 != 0
    ]
    df = spark.createDataFrame(rows, "b BIGINT, i BIGINT")
    out = association_rules(df, "b", "i", min_count=2, top_k=1000).collect()
    assert out, "fixture must produce rules"
    by_pair = {}
    for r in out:
        # confidence >= support (n_ante <= N), both in (0, 1]
        assert 0 < r["support"] <= 1
        assert r["support"] <= r["confidence"] <= 1
        by_pair.setdefault(
            frozenset((r["antecedent"], r["consequent"])), []
        ).append(r)
    for pair, rules in by_pair.items():
        # both directions share n_co, support and lift
        assert len(rules) == 2
        a, b = rules
        assert a["n_co"] == b["n_co"]
        assert a["support"] == b["support"]
        assert a["lift"] == b["lift"]


def test_zonemap_pruning_never_prunes_matching_rows(spark):
    from mdataframe_spark.operators.layout import (
        zonemap_pruning,
        zonemap_stats,
    )

    rows = [(i, float((i * i * 17) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k BIGINT, p DOUBLE")
    lo, hi = 200.0, 300.0
    stats = zonemap_pruning(
        zonemap_stats(df, "k div 256", ["p"]), "p", lo, hi
    )
    pruned_zones = {
        r["zone"] for r in stats.collect() if r["prunable"]
    }
    # soundness: no row matching the predicate lives in a pruned zone
    survivors = df.filter(
        (F.col("p") >= lo) & (F.col("p") <= hi)
    ).select((F.expr("k div 256")).alias("z"))
    assert survivors.filter(
        F.col("z").isin([int(z) for z in pruned_zones] or [-1])
    ).count() == 0


def test_weighted_reservoir_weight_monotone_inclusion_probability(spark):
    from mdataframe_spark.operators.datasets import weighted_reservoir

    # two weight classes; across 30 seeds the heavy class must win
    # clearly more slots than the light one
    rows = [(i, 100.0 if i < 20 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, w DOUBLE")
    heavy = light = 0
    for seed in range(30):
        got = weighted_reservoir(df, "doc_id", "w", k=10, seed=seed)
        for r in got.collect():
            if r["doc_id"] < 20:
                heavy += 1
            else:
                light += 1
    assert heavy > light * 2


def test_markov_stationary_is_a_distribution(spark):
    from mdataframe_spark.operators.events import markov_stationary

    rows = []
    eid = 0
    kinds = ["a", "b", "c"]
    for u in range(8):
        for i in range(30):
            eid += 1
            rows.append(
                (eid, u, kinds[(u + i * i) % 3], i * 1000)
            )
    df = spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, event_type STRING, ts BIGINT"
    )
    out = markov_stationary(df).collect()
    total = sum(r["stationary_p"] for r in out)
    assert total == pytest.approx(1.0, abs=1e-3)
    assert all(r["stationary_p"] >= 0 for r in out)
