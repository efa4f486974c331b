"""Tests for operators/events.py rfm_scores and attribution_credit:
hand-built fixtures with known credits, arm-equality for the
scale-safe tiling, and invariants on real testdata."""

import pytest
from pyspark.sql import functions as F

from mdataframe_spark.operators.events import attribution_credit, rfm_scores

SF_DIR = "/root/testdata/sf0.001"
S = 1_000_000_000


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, event_type STRING, ts BIGINT, value DOUBLE"
    )


def test_rfm_scores_fixture(spark):
    # 5 users, engineered so best/worst per metric are unambiguous
    rows = []
    eid = 0
    # user u: u events, last at hour u, each value 10*u
    for u in range(1, 6):
        for j in range(u):
            eid += 1
            rows.append((eid, u, "view", (u * 3600 + j) * S, float(10 * u)))
    out = {r["user_id"]: r for r in rfm_scores(_ev(spark, rows)).collect()}
    assert len(out) == 5
    # user 5: most recent, most frequent, highest spend -> 555
    assert out[5]["rfm"] == 555
    # user 1: oldest, least frequent, lowest spend -> 111
    assert out[1]["rfm"] == 111
    # recency_s for user 5 is 0 (owns the corpus max timestamp)
    assert out[5]["recency_s"] == 0
    # monotone scores along the engineered gradient
    for u in range(1, 5):
        assert out[u]["f_score"] < out[u + 1]["f_score"]
        assert out[u]["m_score"] < out[u + 1]["m_score"]
        assert out[u]["r_score"] < out[u + 1]["r_score"]


def test_rfm_score_buckets_are_balanced(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = rfm_scores(ev).toPandas()
    n = len(out)
    for col in ("r_score", "f_score", "m_score"):
        counts = out[col].value_counts()
        assert set(counts.index) <= {1, 2, 3, 4, 5}
        # ntile balance: bucket sizes differ by at most 1
        assert counts.max() - counts.min() <= 1, (col, dict(counts))
        assert counts.sum() == n


def test_rfm_exact_vs_approx_arms_identical(spark, monkeypatch):
    # the window arm and the range arm (forced by a zero cut) tile the
    # real events table identically
    from mdataframe_spark.functions import stats

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = rfm_scores(ev).toPandas().set_index("user_id").sort_index()
    monkeypatch.setattr(stats, "SINGLE_REDUCER_MAX_ROWS", 0)
    approx = rfm_scores(ev).toPandas().set_index("user_id").sort_index()
    assert exact.equals(approx)


def test_attribution_fixture_credits(spark):
    D = 3600 * S
    rows = [
        # user 1: view@1h, click@2h, purchase@3h -> first=view,
        # last=click, linear 0.5 each
        (1, 1, "view", 1 * D, None),
        (2, 1, "click", 2 * D, None),
        (3, 1, "purchase", 3 * D, 9.0),
        # user 2: click@1h only touch, purchase@2h -> all to click
        (4, 2, "click", 1 * D, None),
        (5, 2, "purchase", 2 * D, 5.0),
        # user 3: organic purchase (no touches) -> excluded
        (6, 3, "purchase", 1 * D, 1.0),
        # user 4: touch AFTER the conversion -> excluded
        (7, 4, "purchase", 1 * D, 2.0),
        (8, 4, "view", 2 * D, None),
    ]
    out = {
        r["event_type"]: r
        for r in attribution_credit(_ev(spark, rows)).collect()
    }
    assert set(out) == {"view", "click"}
    assert out["view"]["n_touches"] == 1
    assert out["click"]["n_touches"] == 2
    assert out["view"]["first_touch"] == 1
    assert out["click"]["first_touch"] == 1
    assert out["view"]["last_touch"] == 0
    assert out["click"]["last_touch"] == 2
    assert out["view"]["linear_credit"] == pytest.approx(0.5, abs=1e-9)
    assert out["click"]["linear_credit"] == pytest.approx(1.5, abs=1e-9)


def test_attribution_lookback_window_excludes_stale_touches(spark):
    D = 24 * 3600 * S
    rows = [
        (1, 1, "view", 0 * D, None),        # 10 days before: stale
        (2, 1, "click", 9 * D, None),       # 1 day before: in window
        (3, 1, "purchase", 10 * D, 9.0),
    ]
    out = attribution_credit(_ev(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["event_type"] == "click"
    assert out[0]["first_touch"] == 1 and out[0]["last_touch"] == 1


def test_attribution_conservation_invariants(spark):
    # on real data: Σ first_touch = Σ last_touch = #attributable
    # conversions = Σ linear_credit (each model distributes exactly
    # one unit per conversion, up to the 1e-9 rounding of 1/n)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = attribution_credit(ev).toPandas()
    n_first = out["first_touch"].sum()
    n_last = out["last_touch"].sum()
    assert n_first == n_last
    assert out["linear_credit"].sum() == pytest.approx(n_first, abs=1e-3)
    assert (out["n_touches"] >= out["first_touch"]).all()


def test_attribution_colliding_event_ids_across_users(spark):
    # event ids are only unique PER USER: two users share conversion
    # id 9 — the credit windows must not merge across users (the
    # round-9 review fix: partition by (user, conversion))
    D = 3600 * S
    rows = [
        (7, 1, "view", 1 * D, None),
        (9, 1, "purchase", 2 * D, 1.0),
        (7, 2, "click", 1 * D, None),
        (9, 2, "purchase", 2 * D, 1.0),
    ]
    out = {
        r["event_type"]: r
        for r in attribution_credit(_ev(spark, rows)).collect()
    }
    # each conversion has exactly ONE touch -> full credit each
    assert out["view"]["first_touch"] == 1 and out["view"]["last_touch"] == 1
    assert out["click"]["first_touch"] == 1 and out["click"]["last_touch"] == 1
    assert out["view"]["linear_credit"] == pytest.approx(1.0, abs=1e-9)
    assert out["click"]["linear_credit"] == pytest.approx(1.0, abs=1e-9)
