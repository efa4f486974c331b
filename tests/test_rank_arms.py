"""Both arms of every exact-total-order operator give the same answer.

``bh_adjust``, ``holm_adjust``, ``storey_qvalue``, ``gain_deciles``,
``rfm_scores`` and ``balance_shards`` rank through one window while
their frame has at most ``SINGLE_REDUCER_MAX_ROWS`` rows, and through
the range-partitioned rank above it; setting the cut to 0 forces the
range arm. Each site runs on one frame holding key ties, a NULL key, a
NaN score and fewer rows than ntile buckets, and on the empty frame,
and must equal the window arm's output, with one decision record per
call naming the arm taken.
"""

import logging
import math

import pytest

from mdataframe_spark.functions import stats
from mdataframe_spark.functions.stats import bh_adjust, holm_adjust, storey_qvalue
from mdataframe_spark.operators.datasets import balance_shards
from mdataframe_spark.operators.evaluation import gain_deciles
from mdataframe_spark.operators.events import rfm_scores

NAN = float("nan")
# ties at 0.04 (three rows) and 0.01 (two), id 3's key NULL, id 7's NaN
ROWS = [
    (1, 0.01, 1), (2, 0.04, 0), (3, None, 1), (4, 0.03, 1), (5, 0.5, 0),
    (6, 0.04, 1), (7, NAN, 0), (8, 0.04, 0), (9, 0.2, 1), (10, 0.01, 0),
]
H = 3_600_000_000_000  # one hour in ns


def _frame(spark, rows):
    return spark.createDataFrame(rows, "id BIGINT, k DOUBLE, y INT")


def _events(spark, rows):
    # user id % 4, one event per row an hour apart, the key as spend;
    # user 9's only event has a NULL ts (NULL recency), the NaN row is
    # left out (a NaN spend is not a decimal)
    ev = [
        (i % 4, i * H, k) for i, k, _ in rows if k is None or not math.isnan(k)
    ] + ([(9, None, 1.0)] if rows else [])
    return spark.createDataFrame(ev, "user_id BIGINT, ts BIGINT, value DOUBLE")


SITES = {
    "bh_adjust": lambda s, r: bh_adjust(_frame(s, r), "k", tiebreak_cols=["id"]),
    "holm_adjust": lambda s, r: holm_adjust(_frame(s, r), "k", tiebreak_cols=["id"]),
    "storey_qvalue": lambda s, r: storey_qvalue(
        _frame(s, r), "k", pi0_lambda=0.1, tiebreak_cols=["id"]
    ),
    # 12 ntile buckets over 9 scored rows
    "gain_deciles": lambda s, r: gain_deciles(
        _frame(s, r), "k", "y", n_buckets=12, tiebreak_col="id"
    ),
    "rfm_scores": lambda s, r: rfm_scores(_events(s, r)),
    "balance_shards": lambda s, r: balance_shards(
        _frame(s, r), 3, weight_col="k", tiebreak_cols=["id"]
    ),
}
ARMS = ["window arm", "range arm"]


def _rows(df):
    """Sorted row tuples, NaN made comparable."""
    def fix(v):
        return "nan" if isinstance(v, float) and math.isnan(v) else v

    return sorted((tuple(fix(v) for v in r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def reference(spark):
    """Each site's window-arm output on the main frame."""
    return {site: _rows(fn(spark, ROWS)) for site, fn in SITES.items()}


def test_reference_semantics(reference):
    """The window arm's answers on the NULL and NaN keys."""
    for site in ("bh_adjust", "holm_adjust", "storey_qvalue"):
        by_id = {r[0]: r for r in reference[site]}
        # a NULL p gets a NULL adjusted value and does not count toward n
        assert by_id[3][3] is None, site
        # a NaN p sorts above every number: its adjusted value clips to 1
        # (BH, Holm), and a finite p is unaffected by it
        if site != "storey_qvalue":
            assert by_id[7][3] == 1.0, site
    bh = {r[0]: r[3] for r in reference["bh_adjust"]}
    assert bh[1] == pytest.approx(0.01 * 9 / 2)
    shards = {r[0]: r[3] for r in reference["balance_shards"]}
    # order: NaN first, then 0.5, 0.2, 0.04 x3, 0.03, 0.01 x2, NULL last;
    # serpentine over 3 shards: 0 1 2 | 2 1 0 | 0 1 2 | 2
    assert [shards[i] for i in (7, 5, 9, 2, 6, 8, 4, 1, 10, 3)] == [
        0, 1, 2, 2, 1, 0, 0, 1, 2, 2,
    ]
    assert [r[0] for r in reference["gain_deciles"]] == list(range(1, 10))


@pytest.mark.parametrize("arm", ARMS)
@pytest.mark.parametrize("site", list(SITES))
def test_arms_agree(spark, reference, monkeypatch, caplog, site, arm):
    if arm == "range arm":
        monkeypatch.setattr(stats, "SINGLE_REDUCER_MAX_ROWS", 0)
    for rows in (ROWS, []):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=stats.__name__):
            got = _rows(SITES[site](spark, rows))
        assert got == (reference[site] if rows else []), (site, arm)
        records = [m for m in caplog.messages if m.startswith(f"{site}: ")]
        assert len(records) == 1, records
        # the empty frame has 0 rows, never above the cut
        assert records[0].startswith(f"{site}: {arm if rows else 'window arm'},")
