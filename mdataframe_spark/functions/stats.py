"""Window-based statistical primitives: BH/FDR adjustment and ranking.

The reference obtains both from R — ``FDR`` comes out of edgeR's
``topTags`` / DESeq2's ``padj`` (reference: differential.py:107-117,
149, 255-270) and ``ranking`` out of NOISeq (differential.py:599-600,
727-739). Here they are native Spark window expressions (SURVEY.md §2.5
W1/W2) — the first fully R-free pieces of the stats stack.

Every operator that needs an exact global total order — ``bh_adjust``,
``holm_adjust`` and ``storey_qvalue`` here, ``gain_deciles``
(operators/evaluation.py), ``rfm_scores`` (operators/events.py) and
``balance_shards`` (operators/datasets.py) — answers on one of two
arms, chosen by :func:`_range_arm` from the size of its frame:

- **Window arm.** A frame of at most ``SINGLE_REDUCER_MAX_ROWS`` rows
  is ordered by one unpartitioned window: a single reducer holds the
  whole order, which at that size is the cheapest plan.
- **Range arm.** A larger frame is ranked by :func:`_range_rank`:
  bucket cuts from approximate quantiles of the sort key, one count
  aggregation whose O(B) offsets come back to the driver, and a
  bucket-partitioned ``row_number``; offset + local rank is the exact
  global rank, and no window spans the frame. A running min or max
  over that rank factorizes across the buckets
  (:func:`_running_extreme`).

Both arms give identical values (tests/test_rank_arms.py forces the
range arm by setting ``SINGLE_REDUCER_MAX_ROWS`` to 0). Every gated call
logs one INFO decision record on this module's logger: the operator,
the arm, the probed row count and the cut.
"""

from __future__ import annotations

import logging
import math
import warnings
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# Rows above which an exact total order leaves the single-reducer
# window for the range arm. add_rank has no range arm: it warns above
# WARN_ROWS and raises above MAX_ROWS unless allow_global=True.
SINGLE_REDUCER_WARN_ROWS = 1_000_000
SINGLE_REDUCER_MAX_ROWS = 10_000_000


def _guard_unpartitioned(df: DataFrame, what: str, allow_global: bool) -> None:
    """Fail fast when a GLOBAL window is requested over a frame that is
    plausibly too large for one reducer.

    Cheap upper-bound probe: ``limit(max+1).count()`` scans at most
    max+1 rows (no shuffle), so the small stats frames this library
    targets pay one trivial job. Silent below 1M rows, a warning up to
    10M, an error beyond — unless ``allow_global=True`` documents that
    the caller accepts the single-reducer total order."""
    if allow_global:
        return
    probe = df.limit(SINGLE_REDUCER_MAX_ROWS + 1).count()
    if probe > SINGLE_REDUCER_MAX_ROWS:
        raise ValueError(
            f"{what}: unpartitioned window over >{SINGLE_REDUCER_MAX_ROWS:,} rows "
            "serializes the whole frame through one reducer. Pass group_cols= "
            "to partition the computation (one family/contrast per group), or "
            "allow_global=True to accept the single-reducer total order."
        )
    if probe > SINGLE_REDUCER_WARN_ROWS:
        warnings.warn(
            f"{what}: unpartitioned window over {probe:,} rows — a "
            "single-reducer total order; pass group_cols= to partition.",
            stacklevel=3,
        )


def _range_arm(df: DataFrame, op: str, n: Optional[int] = None) -> bool:
    """True when ``df`` holds more than ``SINGLE_REDUCER_MAX_ROWS`` rows,
    i.e. ``op`` must take the range arm. ``n`` is a row count the caller
    already holds; without it one ``limit(cut + 1).count()`` probes the
    frame (at most cut + 1 rows scanned, no shuffle)."""
    cut = SINGLE_REDUCER_MAX_ROWS
    if n is None:
        n = df.limit(cut + 1).count()
    arm = "range arm" if n > cut else "window arm"
    _log.info("%s: %s, %d rows vs SINGLE_REDUCER_MAX_ROWS %d", op, arm, n, cut)
    return n > cut


def _range_rank(
    df: DataFrame,
    key: str,
    order: Sequence[Column] = (),
    descending: bool = False,
) -> tuple[DataFrame, int, int]:
    """The range arm's exact global rank: ``df`` plus ``__rank``, the
    1-based rank by ``key`` (descending if asked) then the ``order``
    columns, and ``__bkt``, the range bucket of the row; also returns
    n, the number of non-null keys, and the number of rows.

    Keys are ordered as Spark's window orders them, NaN above every
    number and NULL after everything. One approximate-quantile job gives
    up to B - 1 cuts, B four per core (at least 16, at most 256). A
    row's bucket depends on its key alone and grows along the order, so
    tied keys share a bucket, and the bucket-partitioned ``row_number``
    plus the row count of all earlier buckets (one collect of O(B)
    counts) is the rank a single window gives wherever ``order`` makes
    the order total."""
    # the cut count sets only the local-sort parallelism (ranks stay
    # exact at any count), while each cut adds a CASE branch: thousands
    # of branches risk analyzer depth and janino's 64 KB method limit
    par = df.sparkSession.sparkContext.defaultParallelism
    n_buckets = min(max(par * 4, 16), 256)
    k = F.col(key)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = sorted({c for c in df.approxQuantile(key, probs, 0.001) if not math.isnan(c)})
    # ascending position: the number of cuts strictly below the key
    up = F.lit(0)
    for i, c in enumerate(cuts):
        up = F.when(k > F.lit(c), F.lit(i + 1)).otherwise(up)
    nan_b = len(cuts) + 1
    up = F.when(F.isnan(k), F.lit(nan_b)).otherwise(up)
    bkt = F.lit(nan_b) - up if descending else up
    null_b = nan_b + 1
    with_b = df.withColumn("__bkt", F.when(k.isNull(), F.lit(null_b)).otherwise(bkt))
    counts = {
        int(r["__bkt"]): int(r["count"])
        for r in with_b.groupBy("__bkt").count().collect()
    }
    n = sum(c for b, c in counts.items() if b != null_b)
    offsets, acc = [], 0
    for b in sorted(counts):
        offsets += [F.lit(b), F.lit(acc)]
        acc += counts[b]
    if not offsets:
        return with_b.withColumn("__rank", F.lit(None).cast("bigint")), 0, 0
    k_order = k.desc_nulls_last() if descending else k.asc_nulls_last()
    w = Window.partitionBy("__bkt").orderBy(k_order, *order)
    rank = F.create_map(*offsets)[F.col("__bkt")].cast("bigint") + F.row_number().over(w)
    return with_b.withColumn("__rank", rank), n, acc


def _spark_order(x: float) -> tuple:
    """Sort key that orders doubles as Spark does: NaN above all."""
    return (math.isnan(x), x)


def _running_extreme(ranked: DataFrame, value: str, agg: str) -> Column:
    """On a frame from :func:`_range_rank`: the running ``agg`` ('min'
    or 'max') of column ``value`` — for 'max' over every rank up to the
    row's (Holm's prefix max), for 'min' over every rank from the row's
    on (BH's suffix min). The running aggregate within the row's bucket
    is combined with the same aggregate over all earlier ('max') or
    later ('min') buckets, folded on the driver from one collect of the
    per-bucket aggregates."""
    lo = agg == "min"
    fn, pick, fold = (F.min, F.least, min) if lo else (F.max, F.greatest, max)
    w = (
        Window.partitionBy("__bkt")
        .orderBy(F.col("__rank").desc() if lo else F.col("__rank").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per = sorted(
        (r[0], r[1])
        for r in ranked.groupBy("__bkt").agg(fn(value)).collect()
        if r[1] is not None
    )
    beyond, run = [], None
    for b, v in reversed(per) if lo else per:
        if run is not None:
            beyond += [F.lit(b), F.lit(run)]
        run = v if run is None else fold(run, v, key=_spark_order)
    extreme = fn(value).over(w)
    # least/greatest skip the NULL a bucket missing from the map reads
    return pick(extreme, F.create_map(*beyond)[F.col("__bkt")]) if beyond else extreme


def bh_adjust(
    df: DataFrame,
    p_col: str,
    out_col: str = "fdr",
    group_cols: Optional[Sequence[str]] = None,
    tiebreak_cols: Sequence[str] = (),
    allow_global: bool = False,
    by_correction: bool = False,
) -> DataFrame:
    """Benjamini-Hochberg adjusted p-values as a window computation.

    ``by_correction=True`` applies the Benjamini-Yekutieli harmonic
    factor c(n) = Σ_{i≤n} 1/i (q_i = min_{j≥i} p_j·n·c(n)/j) — the
    FDR control valid under ARBITRARY dependence between the tests
    (plain BH assumes independence/PRDS); c(n) is computed in-plan as
    one more window sum over the ranked frame (the ln(n)+γ-ish factor
    costs power, so it is opt-in). On the range arm c(n) is a single
    scalar function of n, computed on the driver (:func:`_harmonic`).

    BH: sort p ascending, q_i = min_{j>=i}( p_j * n / j ), clipped to 1.
    Expressed as two windows: a row_number to get the rank j, then the
    suffix-minimum — computed as a running min over a DESCENDING order
    with a growing frame (UNBOUNDED PRECEDING → CURRENT ROW), which
    Spark's WindowExec evaluates incrementally in O(n); the equivalent
    shrinking frame (CURRENT → UNBOUNDED FOLLOWING) is re-scanned per
    row, O(n²) — 20k rows took seconds. Ties in p get identical
    adjusted values automatically — the running min in descending order
    reaches the smaller p*n/j tied row first. NULL p-values get a NULL
    ``out_col`` and do not count toward n.

    ``group_cols`` partitions the correction (one family per group).
    Without it, a frame of more than ``SINGLE_REDUCER_MAX_ROWS`` rows
    takes the range arm (module docstring) — the same values without a
    single-reducer window. ``allow_global=True`` skips that size probe
    and runs the window arm; callers pass it for frames that are
    model-sized by construction (one row per gene).

    ``tiebreak_cols`` make the ordering total, so the rank window and
    the suffix-min frame agree on tie order — required when the output
    must be reproducible bit-for-bit across engines/runs. BH itself is
    tie-stable (tied p get equal adjusted values) either way.
    """
    range_arm = not (group_cols or allow_global) and _range_arm(df, "bh_adjust")
    return _bh(df, p_col, out_col, group_cols, tiebreak_cols, by_correction, range_arm)


def _bh(df, p_col, out_col, group_cols, tiebreak_cols, by_correction, range_arm):
    """:func:`bh_adjust` on the arm the caller chose."""
    p = F.col(p_col)
    if range_arm:
        ranked, n, _ = _range_rank(df, p_col, [F.col(c).asc() for c in tiebreak_cols])
        # BY multiplies AFTER the division, in the window arm's IEEE
        # operation order ((p·n)/j)·c; correctly rounded multiplication
        # by a positive constant is monotone, so it commutes with the
        # suffix min. The arms then differ only by c(n) itself, summed
        # in a different order (ulps, far below any output rounding).
        q = p * F.lit(float(n)) / F.col("__rank")
        if by_correction:
            q = q * F.lit(_harmonic(n))
        ranked = ranked.withColumn("__bh_raw", F.when(p.isNotNull(), q))
        fdr = F.least(_running_extreme(ranked, "__bh_raw", "min"), F.lit(1.0))
        return ranked.withColumn(out_col, F.when(p.isNotNull(), fdr)).drop(
            "__bh_raw", "__rank", "__bkt"
        )
    parts = list(group_cols or [])
    order_asc = [p.asc_nulls_last()] + [F.col(c).asc() for c in tiebreak_cols]
    order_desc = [p.desc_nulls_first()] + [F.col(c).desc() for c in tiebreak_cols]
    w_rank = Window.partitionBy(*parts).orderBy(*order_asc)
    w_n = Window.partitionBy(*parts) if parts else Window.partitionBy(F.lit(1))
    w_runmin = (
        Window.partitionBy(*parts)
        .orderBy(*order_desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.count(F.when(p.isNotNull(), 1)).over(w_n)
    rank = F.row_number().over(w_rank)
    # a NULL p's running min is NULL, which least() would skip
    fdr = F.when(p.isNotNull(), F.least(F.min("__bh_raw").over(w_runmin), F.lit(1.0)))
    if by_correction:
        # c(n) = sum over ranked non-null rows of 1/rank — the rank
        # materializes first (window functions cannot nest), then one
        # more window sum over the same (already single-reducer)
        # frame; the harmonic terms differ across engines only in the
        # last ulp, far below the output rounding grid
        staged = df.withColumn("__bh_rank", rank)
        harm = F.sum(
            F.when(
                p.isNotNull(),
                F.lit(1.0) / F.col("__bh_rank"),
            )
        ).over(w_n)
        raw = p * n / F.col("__bh_rank") * harm
        return (
            staged.withColumn("__bh_raw", raw)
            .withColumn(out_col, fdr)
            .drop("__bh_raw", "__bh_rank")
        )
    raw = p * n / rank
    return df.withColumn("__bh_raw", raw).withColumn(out_col, fdr).drop("__bh_raw")


def _harmonic(n: int) -> float:
    """H_n = Σ_{i≤n} 1/i — ascending-order loop for small n (the
    window arm's running sum usually accumulates in the same ascending
    order, but that order is a WindowExec implementation detail, not a
    contract — the arms agree to accumulation-order ulps, ~1e-12 at
    200k rows, far below the output rounding grid); Euler-Maclaurin
    asymptotic H_n = ln n + γ + 1/(2n) − 1/(12n²) + 1/(120n⁴) beyond
    (remainder O(n⁻⁶) < 1e-30 at the crossover — far below double
    ulp), so a 10¹²-test corpus never loops on the driver."""
    if n <= 0:
        return 0.0
    if n <= 1_000_000:
        h = 0.0
        for i in range(1, n + 1):
            h += 1.0 / i
        return h
    ninv = 1.0 / n
    return (
        math.log(n)
        + 0.57721566490153286060651209008240243
        + ninv / 2.0
        - ninv * ninv / 12.0
        + ninv ** 4 / 120.0
    )


def add_rank(
    df: DataFrame,
    order_col: str,
    out_col: str = "rank",
    ascending: bool = True,
    group_cols: Optional[Sequence[str]] = None,
    method: str = "rank",
    allow_global: bool = False,
) -> DataFrame:
    """Ranking column (NOISeq-style ``ranking``, W2).

    method: 'rank' (ties share rank, gaps), 'dense_rank', or 'row_number'.
    Without ``group_cols`` the frame size is probed: >1M rows warns,
    >10M raises unless ``allow_global=True`` (see bh_adjust).
    """
    if not group_cols:
        _guard_unpartitioned(df, "add_rank", allow_global)
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(*(group_cols or [])).orderBy(order)
    fn = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number}[method]
    return df.withColumn(out_col, fn().over(w))


def holm_adjust(
    df: DataFrame,
    p_col: str,
    out_col: str = "p_holm",
    group_cols: Optional[Sequence[str]] = None,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Holm step-down adjusted p-values — FWER control valid under
    arbitrary dependence with NO independence assumption and uniformly
    more powerful than plain Bonferroni: sort p ascending, adj_i =
    max_{j ≤ i} min(p_j·(n − j + 1), 1). The strict family-wise
    counterpart of :func:`bh_adjust`'s FDR (use Holm when ONE false
    positive is unacceptable; BH when a controlled false-discovery
    RATE is).

    Two windows, mirroring bh_adjust's shape but CHEAPER: the rank
    window plus a running MAX over the SAME ascending order with a
    growing frame (UNBOUNDED PRECEDING → CURRENT ROW — incremental
    O(n); no second descending sort at all, where BH's suffix-min
    needs one). Tied p-values get identical adjusted values (the
    running max reaches the larger multiplier first). ``group_cols``
    partitions the family; without it a frame of more than
    ``SINGLE_REDUCER_MAX_ROWS`` rows takes the range arm (module
    docstring), whose prefix max factorizes across the buckets like
    BH's suffix min. NULL p rows keep a NULL ``out_col`` and do not
    count toward n.
    """
    p = F.col(p_col)
    parts = list(group_cols or [])
    if not parts and _range_arm(df, "holm_adjust"):
        ranked, n, _ = _range_rank(df, p_col, [F.col(c).asc() for c in tiebreak_cols])
        raw = F.least(p * (F.lit(n) - F.col("__rank") + 1), F.lit(1.0))
        ranked = ranked.withColumn("__holm_raw", F.when(p.isNotNull(), raw))
        adj = _running_extreme(ranked, "__holm_raw", "max")
        return ranked.withColumn(out_col, F.when(p.isNotNull(), adj)).drop(
            "__holm_raw", "__rank", "__bkt"
        )
    order_asc = [p.asc_nulls_last()] + [F.col(c).asc() for c in tiebreak_cols]
    w_rank = Window.partitionBy(*parts).orderBy(*order_asc)
    w_n = Window.partitionBy(*parts) if parts else Window.partitionBy(F.lit(1))
    w_runmax = (
        Window.partitionBy(*parts)
        .orderBy(*order_asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.count(F.when(p.isNotNull(), 1)).over(w_n)
    rank = F.row_number().over(w_rank)
    raw = F.when(p.isNotNull(), F.least(p * (n - rank + 1), F.lit(1.0)))
    return (
        df.withColumn("__holm_raw", raw)
        .withColumn(out_col, F.when(p.isNotNull(), F.max("__holm_raw").over(w_runmax)))
        .drop("__holm_raw")
    )


def storey_qvalue(
    df: DataFrame,
    p_col: str,
    out_col: str = "qvalue",
    pi0_lambda: float = 0.5,
    group_cols: Optional[Sequence[str]] = None,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Storey q-values: Benjamini-Hochberg rescaled by the estimated
    null proportion pi0 = #{p > lambda} / (n * (1 - lambda)), clipped
    to [1/n, 1] (Storey & Tibshirani 2003, single-lambda estimator) —
    when many tests are truly non-null (a differential-expression
    screen, a per-token association sweep), BH's implicit pi0 = 1 is
    conservative and Storey recovers the lost power. Adds ``out_col``
    plus a constant ``pi0`` column; NULL p-values get NULL q (the
    bh_adjust convention).

    Decomposition: pi0 is ONE count aggregation collapsed to three
    integers (a scalar probe — never a corpus structure), rounded to
    6 dp so both engines carry the identical multiplier; the probe's
    total row count also picks :func:`bh_adjust`'s arm, so no separate
    size probe runs. The q-values are then exactly
    ``bh_adjust(...) * pi0``. The factorization is
    legal for the same reason BY's c(n) factor is: multiplication by
    a positive constant is monotone, so it commutes with BH's
    suffix-min — and no clipping ever binds, because the suffix-min
    over j >= i always includes j = n where p_(n)*n/n = p_max <= 1,
    so q <= pi0 * p_max <= 1 unconditionally.

    ``group_cols`` partitions the correction per family, with pi0
    still estimated GLOBALLY (the qvalue-package convention — pass
    pre-filtered frames for per-family pi0).
    """
    probe = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col(p_col).isNotNull(), 1)).alias("n"),
        F.count(
            F.when(F.col(p_col) > float(pi0_lambda), 1)
        ).alias("n_above"),
    ).collect()[0]
    n, n_above = int(probe["n"] or 0), int(probe["n_above"] or 0)
    range_arm = not group_cols and _range_arm(df, "storey_qvalue", int(probe["n_rows"]))
    if n == 0:
        return df.withColumn(out_col, F.lit(None).cast("double")).withColumn(
            "pi0", F.lit(None).cast("double")
        )
    pi0 = n_above / (n * (1.0 - float(pi0_lambda)))
    pi0 = round(min(1.0, max(pi0, 1.0 / n)), 6)
    adjusted = _bh(df, p_col, out_col, group_cols, tiebreak_cols, False, range_arm)
    return adjusted.withColumn(out_col, F.col(out_col) * F.lit(pi0)).withColumn(
        "pi0", F.lit(pi0)
    )
