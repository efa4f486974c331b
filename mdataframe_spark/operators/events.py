"""Event-stream analytics operators: funnels, cohort retention, rate
anomalies.

The engine's events surface (windowed counts, sessionization, as-of /
range joins, streaming parity) gains the three classic product-
analytics queries, each shaped for corpus scale: every shuffle is
bounded by users, (type x bucket) cells, or the step count — never by
raw event volume past the first partial-agged pass.

Timestamps follow the repo-wide events contract (queries._events):
epoch-nanosecond BIGINT, so all bucketing is timezone-free integer
arithmetic; a timestamp-typed column is canonicalized on entry.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist_tracked as _persist_tracked
from ..functions.stats import _range_arm
from .evaluation import _ntile

_NS_PER_S = 1_000_000_000


def _ns(df: DataFrame, ts_col: str) -> DataFrame:
    """Canonicalize ``ts_col`` to epoch-ns BIGINT (the _events contract).

    Zone-free by construction — no session-config mutation (a
    set/restore of ``spark.sql.session.timeZone`` around analysis
    would race with concurrent plan construction on a shared session):

    - TIMESTAMP holds an instant, so ``unix_micros`` reads it without
      consulting the session zone at all.
    - TIMESTAMP_NTZ holds a wall clock; the contract interprets it as
      UTC, which ``timestampdiff(MICROSECOND, ntz-epoch, col)``
      computes as pure calendar arithmetic between two NTZ values —
      the session zone never enters (a cast to TIMESTAMP would bind
      it at analysis time)."""
    dtype = dict(df.dtypes)[ts_col]
    if dtype == "timestamp_ntz":
        return df.withColumn(
            ts_col,
            (
                F.expr(
                    "timestampdiff(MICROSECOND, "
                    f"timestamp_ntz'1970-01-01 00:00:00', `{ts_col}`)"
                )
                * F.lit(1000)
            ).cast("bigint"),
        )
    if dtype.startswith("timestamp"):
        return df.withColumn(
            ts_col,
            (F.unix_micros(F.col(ts_col)) * F.lit(1000)).cast("bigint"),
        )
    if dtype != "bigint":
        return df.withColumn(ts_col, F.col(ts_col).cast("bigint"))
    return df


def _bucket(ts_col: str, period_ns: int):
    """Exact integer floor-bucket of a NON-NEGATIVE epoch-ns column:
    SQL ``div`` (bigint integer division), NOT F.floor(a / b) — Spark
    evaluates ``bigint / bigint`` as double division, and epoch-ns
    values (~1.7e18) exceed 2^53, so a timestamp within ~128 ns of a
    boundary can round across it while the DuckDB oracles' integer
    ``//`` does not. ``div`` truncates toward zero, which equals floor
    for the contract's non-negative epochs."""
    return F.expr(f"`{ts_col}` div {int(period_ns)}")


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel conversion: how many users complete each prefix
    of ``steps`` IN ORDER (step k counts a user iff some step-k event
    strictly follows their earliest qualifying step-(k-1) completion —
    the earliest-completion greedy, which is exact for subsequence
    reachability).

    Plan shape: the relevant events project once (persisted — each of
    the K stages filters the same frame); stage k is one user-keyed
    min-aggregation plus an equi-join against the (users-bounded)
    stage-(k-1) frame, so event volume is touched K times map-side but
    every shuffle is user-bounded. No per-user event arrays are ever
    collected (the collect_list alternative buffers a hot user's whole
    history in one task). The result is K rows; conversion ratios are
    a window over that K-row frame.

    Returns (step_idx, step, users, conv_from_first, conv_from_prev).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    ev = _persist_tracked(
        _ns(df, ts_col)
        .filter(F.col(type_col).isin(list(steps)))
        .select(
            F.col(user_col).alias("__u"),
            F.col(type_col).alias("__t"),
            F.col(ts_col).alias("__ts"),
        )
    )
    reached = ev.filter(F.col("__t") == steps[0]).groupBy("__u").agg(
        F.min("__ts").alias("__at")
    )
    counts = [
        reached.agg(
            F.lit(0).alias("step_idx"),
            F.lit(steps[0]).alias("step"),
            F.count(F.lit(1)).alias("users"),
        )
    ]
    for k, step in enumerate(steps[1:], start=1):
        reached = (
            ev.filter(F.col("__t") == step)
            .join(reached.select("__u", F.col("__at").alias("__prev")), "__u")
            .filter(F.col("__ts") > F.col("__prev"))
            .groupBy("__u")
            .agg(F.min("__ts").alias("__at"))
        )
        counts.append(
            reached.agg(
                F.lit(k).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("users"),
            )
        )
    out = reduce(DataFrame.unionByName, counts)
    # K-row frame: a single-partition window here is free
    w = Window.orderBy("step_idx")
    first = F.first("users").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("users").over(w)
    return out.select(
        "step_idx",
        "step",
        "users",
        F.round(
            F.when(first > 0, F.col("users") / first).otherwise(F.lit(0.0)), 6
        ).alias("conv_from_first"),
        F.round(
            F.when(prev > 0, F.col("users") / prev).otherwise(
                F.when(prev.isNull(), F.lit(1.0)).otherwise(F.lit(0.0))
            ),
            6,
        ).alias("conv_from_prev"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_s: int = 86400,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-active
    period; for each (cohort, period offset), how many are active and
    what fraction of the cohort that is.

    Plan shape: one distinct over (user, period) — the only corpus-
    bounded shuffle, partial-agged; first-active periods are one more
    user-bounded aggregation; the matrix itself is (cohorts x offsets)
    cells and the cohort-size join broadcasts. Counting after the
    distinct makes ``count(*)`` an exact distinct-user count without a
    second distinct aggregation.

    Returns (cohort_epoch, offset_periods, active_users, cohort_size,
    retention_rate); cohort_epoch is the period start in epoch seconds.
    """
    period_ns = period_s * _NS_PER_S
    act = (
        _ns(df, ts_col)
        .select(
            F.col(user_col).alias("__u"),
            _bucket(ts_col, period_ns).alias("__d"),
        )
        .distinct()
    )
    first = act.groupBy("__u").agg(F.min("__d").alias("__cohort"))
    ret = (
        act.join(first, "__u")
        .groupBy(
            F.col("__cohort").alias("__c"),
            (F.col("__d") - F.col("__cohort")).alias("offset_periods"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    size = ret.filter(F.col("offset_periods") == 0).select(
        "__c", F.col("active_users").alias("cohort_size")
    )
    return (
        ret.join(F.broadcast(size), "__c")
        .select(
            (F.col("__c") * period_s).cast("bigint").alias("cohort_epoch"),
            F.col("offset_periods").cast("bigint"),
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users") / F.col("cohort_size"), 6
            ).alias("retention_rate"),
        )
    )


def rate_anomaly(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    bucket_s: int = 3600,
    threshold: float = 2.5,
) -> DataFrame:
    """Per-type event-rate anomaly flags: bucket counts z-scored
    against that type's own mean/std across buckets, |z| >= threshold
    flagged — the standard ops alarm on ingestion volume.

    Plan shape: ONE partial-agged groupBy((type, bucket)) collapses the
    corpus; per-type moments come from integer sums (n, Σc, Σc²) over
    the (types x buckets)-bounded count table, broadcast back. Because
    every input to the z expression is an exactly-representable
    integer, both engines compute bit-identical doubles (the
    rate-anomaly analog of the zipf_fit explicit-sums convention).

    z is NULL (and the flag false) for a type with zero count variance
    — a constant-rate type has no scale to be anomalous on.
    """
    bucket_ns = bucket_s * _NS_PER_S
    counts = (
        _ns(df, ts_col)
        .groupBy(
            F.col(type_col).alias("__t"),
            (_bucket(ts_col, bucket_ns) * bucket_s)
            .cast("bigint")
            .alias("bucket_epoch"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    stats = counts.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("n_events").alias("__s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("__ss"),
    )
    c = F.col("n_events")
    n, s, ss = F.col("__n"), F.col("__s"), F.col("__ss")
    mean = s / n
    var = ss / n - mean * mean
    z = F.when(var > 0, (c - mean) / F.sqrt(var))
    return (
        counts.join(F.broadcast(stats), "__t")
        .select(
            F.col("__t").alias(type_col),
            "bucket_epoch",
            "n_events",
            F.round(z, 6).alias("z_score"),
            F.coalesce(
                F.abs(z) >= F.lit(float(threshold)), F.lit(False)
            ).alias("is_anomaly"),
        )
    )


def rolling_stats(
    df: DataFrame,
    partition_col: str,
    order_cols: Sequence[str],
    value_col: str,
    window_rows: int = 5,
) -> DataFrame:
    """Trailing ``window_rows``-row moving sum/count/mean of
    ``value_col`` per partition — the smoothing layer for per-entity
    rate/spend series (§2.5 window frames, the ROWS BETWEEN face of
    the rank/lag windows elsewhere).

    One window shuffle keyed by the partition column, bounded by
    per-entity row counts. Determinism: the frame sum is rounded
    (4 dp — the decimal-grid convention) BEFORE the mean division, so
    sliding-accumulator implementation differences between engines
    cannot leak into the quotient. ``order_cols`` must be a per-
    partition UNIQUE key (e.g. ts + id): a tie would make the frame
    contents engine-dependent.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window_rows - 1), 0)
    )
    msum = F.round(F.sum(value_col).over(w), 4)
    cnt = F.count(F.lit(1)).over(w)
    return df.select(
        partition_col,
        *order_cols,
        value_col,
        msum.alias("moving_sum"),
        cnt.alias("moving_n"),
        F.round(msum / cnt, 6).alias("moving_avg"),
    )


def period_over_period(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    period_s: int = 86400,
) -> DataFrame:
    """Period-over-period change per event type: bucket counts and
    value sums with their previous-period deltas and percent change —
    the daily-movers report.

    One (type, period) partial-agged groupBy collapses the corpus;
    the lag window runs over the (types x periods)-bounded count table
    PARTITIONED BY TYPE (never global). Percent change derives from
    integer counts (engine-exact); it is NULL for a period with no
    predecessor and for a zero-count predecessor.
    """
    period_ns = period_s * _NS_PER_S
    counts = (
        _ns(df, ts_col)
        .groupBy(
            F.col(type_col).alias("__t"),
            (_bucket(ts_col, period_ns) * period_s)
            .cast("bigint")
            .alias("period_epoch"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
    )
    w = Window.partitionBy("__t").orderBy("period_epoch")
    prev = F.lag("n_events").over(w)
    return counts.select(
        F.col("__t").alias(type_col),
        "period_epoch",
        "n_events",
        "sum_value",
        (F.col("n_events") - prev).alias("delta_events"),
        F.round(
            F.when(prev > 0, (F.col("n_events") - prev) / prev), 6
        ).alias("pct_change"),
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition statistics over per-user event
    streams: (from_type, to_type, n, prob) with prob the row-normalized
    transition probability. The behavioral-analytics counterpart of
    funnel/retention: which step follows which, and how often.

    Plan shape: ONE user-partitioned lead window (no global sort) +
    one partial-agged groupBy on the types² pair space; probabilities
    derive from a window sum over that model-bounded table. The
    ordering is total via ``tiebreak_col``, so the pair counts are
    cross-engine deterministic."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = (
        df.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_src = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_src), 6).alias("prob"),
    ).orderBy("from_type", "to_type")


def seasonal_profile(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Hour-of-day seasonal profile per event type: (event_type,
    hour_of_day, n, mean_value, seasonal_index) with the index the
    hour's mean over the type's overall mean — the baseline shape a
    monitoring stack compares live traffic against (rate_anomaly's
    value-seasonality counterpart).

    Plan shape: the corpus collapses in ONE (type, hour) partial-agged
    groupBy (hour extracted TZ-free from epoch-ns by exact integer
    `div` — the repo-wide events contract); the per-type roll-up and
    index division run on the types×24 table. Sums round 4 dp before
    the divisions so both engines derive identical means."""
    e = _ns(df, ts_col)
    # FLOOR-division hour with a non-negative modulus: `div` truncates
    # toward zero, so a pre-1970 timestamp would land one hour off and
    # plain % would emit negative hours — pmod over the floored
    # quotient keeps the 0..23 domain for ANY epoch sign, and the
    # oracle replays the same two-step formula
    ns_per_h = 3_600_000_000_000
    floor_h = F.expr(
        f"({ts_col} - pmod({ts_col}, {ns_per_h})) div {ns_per_h}"
    )
    h = F.pmod(floor_h, F.lit(24)).cast("bigint").alias("hour_of_day")
    per = e.filter(F.col(value_col).isNotNull()).groupBy(
        F.col(type_col).alias("event_type"), h
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col(value_col).cast("double")), 4).alias("__s"),
    )
    w = Window.partitionBy("event_type")
    mean_hour = F.col("__s") / F.col("n")
    mean_type = F.sum("__s").over(w) / F.sum("n").over(w)
    return per.select(
        "event_type",
        "hour_of_day",
        "n",
        F.round(mean_hour, 6).alias("mean_value"),
        F.round(mean_hour / mean_type, 6).alias("seasonal_index"),
    ).orderBy("event_type", "hour_of_day")


def top_event_paths(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    length: int = 3,
    top_k: int = 50,
) -> DataFrame:
    """Most common length-``length`` event paths across users:
    (path, n), deterministic top-k — the product-analytics "what do
    users do next-next" view, the multi-step extension of
    :func:`event_transitions`.

    Plan shape: ONE user-partitioned window computes all
    ``length − 1`` leads in a single pass (same window spec — Spark
    collapses them into one WindowExec), paths groupBy-count with
    map-side partial agg (pair space bounded by types^length), top-k
    compiles to TakeOrderedAndProject."""
    if length < 2:
        raise ValueError("top_event_paths: length must be >= 2")
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    # materialize the leads as columns first — window expressions are
    # not allowed inside a filter
    stepped = df.select(
        F.col(type_col).alias("__s0"),
        *[
            F.lead(type_col, i).over(w).alias(f"__s{i}")
            for i in range(1, length)
        ],
    )
    # the FIRST element must be non-null too: concat_ws would silently
    # skip it and count a truncated path (the oracle's || form
    # NULL-propagates instead — both now drop the row)
    cond = F.lit(True)
    for i in range(0, length):
        cond = cond & F.col(f"__s{i}").isNotNull()
    paths = (
        stepped.filter(cond)
        .groupBy(
            F.concat_ws(
                ">", *[F.col(f"__s{i}") for i in range(length)]
            ).alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return paths.orderBy(F.col("n").desc(), F.col("path").asc()).limit(top_k)


def rfm_state(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    _canonical: bool = False,
) -> DataFrame:
    """The per-user RFM sufficient statistic: (user, last_ts,
    frequency, monetary) in ONE partial-agged groupBy — every field is
    an associative/commutative monoid (max, count, DECIMAL sum of
    per-event 4-dp values), so a streaming aggregation's running state
    after any prefix of micro-batches equals this batch collapse over
    the same rows (streaming/segments.py rfm_stream delegates here —
    the cdc_stream convention). Monetary accumulates exactly: each
    event's value rounds to 4 dp ONCE and sums as DECIMAL(18,4)
    (order-independent), never a float sum rounded after the fact.

    ``_canonical=True`` skips the timestamp canonicalization (caller
    already ran :func:`_ns`)."""
    d = df if _canonical else _ns(df, ts_col)
    return d.groupBy(F.col(user_col)).agg(
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(
            F.round(
                F.coalesce(F.col(value_col).cast("double"), F.lit(0.0)), 4
            ).cast("decimal(18,4)")
        ).alias("monetary"),
    )


def rfm_scores(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_buckets: int = 5,
) -> DataFrame:
    """RFM segmentation: per-user Recency (seconds since last event,
    measured from the corpus max timestamp), Frequency (event count)
    and Monetary (exact DECIMAL sum of per-event 4-dp values, NULLs
    as 0 — the :func:`rfm_state` collapse), each scored
    into ``n_buckets`` equal-count tiles with score ``n_buckets`` =
    best (most recent / most frequent / highest spend). Ties break on
    the user id, so the order is total and cross-engine deterministic.
    Returns (user, recency_s, frequency, monetary, r_score, f_score,
    m_score, rfm) with rfm = r·100 + f·10 + m.

    Scale shape: the corpus collapses in ONE partial-agged
    groupBy(user) into a persisted user table, which genuinely GROWS
    with the corpus. One size probe of that table picks the tiling
    (the gain_deciles convention, :func:`..operators.evaluation._ntile`):
    at most ``functions.stats.SINGLE_REDUCER_MAX_ROWS`` users tile as
    three ntile windows over the cached table; a larger table tiles
    each metric from its exact range-partitioned rank, never a global
    window. The ranks are exact on both arms, so the tiles are
    IDENTICAL (equality-tested; the oracle replays one tiling).
    """
    d = _ns(df, ts_col)
    per_user = rfm_state(d, user_col, ts_col, value_col, _canonical=True)
    ref = d.agg(F.max(ts_col).alias("__ref"))
    base = (
        per_user.crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_s",
            F.expr("(__ref - last_ts) div 1000000000").cast("bigint"),
        )
        .withColumn("monetary", F.col("monetary").cast("double"))
        .drop("last_ts", "__ref")
    )
    # the size probe and the three tilings all read base (the
    # corpus-collapsing per-user agg) — pin it once
    base = _persist_tracked(base)
    range_arm = _range_arm(base, "rfm_scores")
    # higher score = better: metric sorted best-first, tile 1 = best,
    # score = n_buckets + 1 - tile. "Best-first" = recency ASC,
    # frequency DESC, monetary DESC — expressed uniformly as DESC on
    # the signed metric below so both arms share one code path.
    metrics = {
        "r_score": (-F.col("recency_s")).cast("double"),
        "f_score": F.col("frequency").cast("double"),
        "m_score": F.col("monetary").cast("double"),
    }
    out = base
    for name, m in metrics.items():
        score = (F.lit(n_buckets + 1) - F.col("bucket")).cast("int").alias(name)
        tiled = _ntile(
            out.withColumn("__s", m), "__s", [F.col(user_col).asc()], n_buckets, range_arm
        )
        out = tiled.select(*out.columns, score)
    return out.select(
        user_col,
        "recency_s",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int").alias("rfm"),
    ).orderBy(user_col)


def attribution_credit(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    conv_type: str = "purchase",
    touch_types: Sequence[str] = ("view", "click"),
    lookback_ns: int = 7 * 24 * 3_600_000_000_000,
) -> DataFrame:
    """Multi-touch attribution: every conversion event distributes
    credit over the same user's preceding touch events inside the
    lookback window (touch strictly BEFORE the conversion), under the
    three classic models at once — first-touch (all credit to the
    earliest touch), last-touch (to the latest), linear (1/n each).
    Conversions with no in-window touch get no attribution row
    (organic — report them via funnel counts, not here). Returns per
    touch type: (event_type, n_touches, first_touch, last_touch,
    linear_credit) ordered by type.

    Scale shape: conversions ⋈ touches is an equi-join on the user
    plus a range predicate — per-user event counts bound the fan-out
    (the j_range_session_errors pattern); the two row_number windows
    partition by CONVERSION (bounded by the lookback fan-in) and share
    one shuffle; the final groupBy is touch-type-bounded. first/last
    credits are COUNTS (exact bigints); linear credit accumulates
    round(1/n, 9) as DECIMAL(20,9) — exactly representable in both
    engines (1e9/n is never a half-integer for n < 1024, so the
    double→decimal rounding cannot straddle a tie), summed exactly,
    reported as double.
    """
    d = _ns(df, ts_col)
    conv = d.filter(F.col(type_col) == conv_type).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__cts"),
        F.col(tiebreak_col).alias("__cid"),
    )
    touch = d.filter(F.col(type_col).isin(list(touch_types))).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__tts"),
        F.col(tiebreak_col).alias("__tid"),
        F.col(type_col).alias("__tt"),
    )
    joined = conv.join(touch, "__u").filter(
        (F.col("__tts") < F.col("__cts"))
        & (F.col("__tts") >= F.col("__cts") - F.lit(int(lookback_ns)))
    )
    # partition by (user, conversion): the tiebreak id is only
    # guaranteed unique PER USER by the contract — two users' colliding
    # conversion ids must not merge into one credit window
    w_asc = Window.partitionBy("__u", "__cid").orderBy(
        F.col("__tts").asc(), F.col("__tid").asc()
    )
    w_desc = Window.partitionBy("__u", "__cid").orderBy(
        F.col("__tts").desc(), F.col("__tid").desc()
    )
    w_cnt = Window.partitionBy("__u", "__cid")
    credited = joined.select(
        "__tt",
        (F.row_number().over(w_asc) == 1).cast("int").alias("__is_first"),
        (F.row_number().over(w_desc) == 1).cast("int").alias("__is_last"),
        F.round(F.lit(1.0) / F.count(F.lit(1)).over(w_cnt), 9)
        .cast("decimal(20,9)")
        .alias("__lin"),
    )
    return (
        credited.groupBy(F.col("__tt").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("__is_first").cast("bigint").alias("first_touch"),
            F.sum("__is_last").cast("bigint").alias("last_touch"),
            F.round(F.sum("__lin").cast("double"), 6).alias("linear_credit"),
        )
        .orderBy("event_type")
    )


def markov_stationary(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    iterations: int = 12,
    iter_decimals: int = 9,
) -> DataFrame:
    """Stationary distribution of the per-user event Markov chain:
    power-iterate π_{k+1}(s) = Σ_u π_k(u)·P(u, s) for a FIXED number
    of rounds from the uniform start, with each round's masses rounded
    to ``iter_decimals`` (the pagerank trajectory convention) — the
    long-run "where does a user's session settle" view on top of
    :func:`event_transitions`. States with no outgoing transitions are
    absorbing (they keep their mass — a self-loop, the standard
    completion). Returns (event_type, stationary_p) ordered by type,
    masses rounded 6 dp.

    Scale shape: the ONLY corpus-scale work is event_transitions (one
    user-partitioned lead window + one types² groupBy); the power
    iteration runs on the collected types² matrix — a model-bounded
    reducer (the kmeans-centroid / pagerank-driver convention: the
    matrix is 25 cells for 5 event types no matter how many trillion
    events fed it). Neighbor sums accumulate in sorted state order;
    the per-round rounding is what lets a SQL engine replay the whole
    trajectory (oracle: chained CTEs, one per round).
    """
    trans = event_transitions(df, user_col, ts_col, type_col, tiebreak_col)
    rows = trans.collect()  # types² rows — model-bounded by design
    if not rows:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "event_type STRING, stationary_p DOUBLE"
        )
    p = {(r["from_type"], r["to_type"]): r["prob"] for r in rows}
    states = sorted(
        {r["from_type"] for r in rows} | {r["to_type"] for r in rows}
    )
    outgoing = {r["from_type"] for r in rows}
    pi = {s: round(1.0 / len(states), iter_decimals) for s in states}
    for _ in range(iterations):
        nxt = {}
        for s in states:
            # per-term 12-dp DECIMAL accumulation (the timeseries.py
            # contract): a float fold's value depends on addition
            # order, and the oracle's sum() adds in arbitrary order —
            # per-round rounding does NOT absorb an order-dependent
            # tie at the 9th decimal. Exact ties at the 12-dp quantize
            # cannot occur (x.5e-12 is not representable in binary),
            # so the quantize is unambiguous in every engine.
            mass_dec = sum(
                (
                    Decimal(round(pi[u] * p[(u, s)], 12)).quantize(
                        Decimal("1e-12"), ROUND_HALF_UP
                    )
                    for u in sorted(outgoing)
                    if (u, s) in p
                ),
                Decimal(0),
            )
            mass = float(mass_dec)
            if s not in outgoing:
                mass += pi[s]
            nxt[s] = round(mass, iter_decimals)
        pi = nxt
    spark = df.sparkSession
    return spark.createDataFrame(
        [(s, float(round(pi[s], 6))) for s in states],
        "event_type STRING, stationary_p DOUBLE",
    ).orderBy("event_type")


def user_conversion_spans(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_type_col: str = "event_type",
    from_event: str = "view",
    to_event: str = "purchase",
) -> DataFrame:
    """Per-user (first_from_ts, first_to_ts) conditional minimums —
    the :func:`conversion_lag` sufficient statistic: two MIN monoids
    per user, which is what makes
    :func:`~..streaming.segments.conversion_lag_stream` a legal
    streaming twin (running state after any micro-batch prefix equals
    this batch collapse over the same rows). One state row per live
    user; the lag arithmetic and percentiles are global functions of
    the state and stay in the batch pass / foreachBatch. Returns
    (user, first_from_ts, first_to_ts)."""
    d = _ns(df, ts_col)
    return d.groupBy(F.col(user_col).alias("user")).agg(
        F.min(
            F.when(F.col(event_type_col) == from_event, F.col(ts_col))
        ).alias("first_from_ts"),
        F.min(
            F.when(F.col(event_type_col) == to_event, F.col(ts_col))
        ).alias("first_to_ts"),
    )


def conversion_lag(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_type_col: str = "event_type",
    from_event: str = "view",
    to_event: str = "purchase",
    period_ns: int = 3_600_000_000_000,
) -> DataFrame:
    """Time-to-convert distribution: per user, the lag from the FIRST
    ``from_event`` to the user's GLOBAL FIRST ``to_event``, counted
    only when that first to_event falls at or after the first
    from_event (a forward-only check on the two per-user minimums),
    then the population percentiles over converted users — "how long
    does the funnel take", the latency face of :func:`funnel_counts`
    (a conversion RATE without its lag hides a 3-week checkout).
    Returns ONE row: (n_users, n_converted, conversion_rate, p50_lag,
    p90_lag, mean_lag, max_lag) with lags in whole ``period_ns``
    units (hours by default — the integer-division bucket grid, so
    every lag is an exact integer and the percentiles interpolate on
    it identically in any engine, the f13 parity convention). A user
    whose global first to_event precedes their first from_event
    counts as NOT converted even if a later to_event exists
    (attribution ambiguity resolved against conversion) — this is
    exactly what keeps the statistic two MIN monoids per user, and
    therefore what makes the streaming twin legal; "first to_event at
    or after the first from_event" would need conditional state that
    no monoid carries.

    Plan shape: ONE per-user conditional min/min collapse (the only
    corpus-scale shuffle — :func:`user_conversion_spans`, shared with
    the streaming twin) + one users-bounded percentile aggregation.
    """
    per = user_conversion_spans(
        df, user_col, ts_col, event_type_col, from_event, to_event
    ).select(
        "user",
        F.col("first_from_ts").alias("__t0"),
        F.col("first_to_ts").alias("__t1"),
    )
    lag = F.when(
        F.col("__t0").isNotNull()
        & F.col("__t1").isNotNull()
        & (F.col("__t1") >= F.col("__t0")),
        F.expr(f"(__t1 - __t0) div {int(period_ns)}"),
    )
    staged = per.filter(F.col("__t0").isNotNull()).select(
        lag.alias("__lag")
    )
    return staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count("__lag").cast("bigint").alias("n_converted"),
        F.round(
            F.count("__lag") / F.count(F.lit(1)).cast("double"), 6
        ).alias("conversion_rate"),
        F.round(F.expr("percentile(__lag, 0.5)"), 6).alias("p50_lag"),
        F.round(F.expr("percentile(__lag, 0.9)"), 6).alias("p90_lag"),
        F.round(F.avg("__lag"), 6).alias("mean_lag"),
        F.max("__lag").cast("bigint").alias("max_lag"),
    )


def interevent_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_ns: int = 60_000_000_000,
) -> DataFrame:
    """Inter-event gap distribution + burstiness: per user, the gaps
    between CONSECUTIVE events on the whole-``period_ns`` integer grid
    (minutes by default), then the population gap moments and the
    Goh-Barabási burstiness B = (σ − μ)/(σ + μ) — B ≈ −1 for a
    metronome, 0 for a Poisson stream, → 1 for bursty sessions-then-
    silence behavior (what bot detection and capacity planning both
    read first). Returns ONE row: (n_users, n_gaps, mean_gap, sd_gap,
    burstiness, p50_gap, p90_gap, max_gap); moment fields NULL when
    no user has ≥ 2 events.

    Decomposition: ONE lag window PARTITIONED BY USER (scale-safe —
    the corpus shuffles once on the user key, no global order
    anywhere), gaps integer-exact by construction (epoch-ns integer
    division), moments as exact decimal(38,0) Σg/Σg² (σ uses the
    population 1/n form — the B convention), and percentiles on the
    integer grid via the percentile == quantile_cont proven pair.
    Tie order within a user is irrelevant: gaps are differences of
    the SORTED per-user timestamp multiset, which every tie
    permutation reproduces identically. NULL timestamps drop
    complete-case BEFORE the lag window (round-13 review fix: a NULL
    ts row must not occupy a lag slot — Spark's NULLS FIRST ordering
    happened to shed it, but the SQL mirror's NULLS LAST counted a
    phantom gap).
    """
    d = _ns(
        df.filter(F.col(ts_col).isNotNull()), ts_col
    ).filter(F.col(user_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gaps = (
        d.withColumn("__prev", F.lag(ts_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            F.expr(f"({ts_col} - __prev) div {int(period_ns)}").alias(
                "__g"
            ),
        )
    )
    dec = "decimal(38,0)"
    users = d.select(F.countDistinct(user_col).alias("n_users"))
    acc = gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("__g").cast(dec)).alias("__s1"),
        F.sum(F.col("__g").cast(dec) * F.col("__g")).alias("__s2"),
        F.expr("percentile(__g, 0.5)").alias("__p50"),
        F.expr("percentile(__g, 0.9)").alias("__p90"),
        F.max("__g").alias("__max"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("__s1").cast("double") / n
    # population variance: E[g²] − μ² (exact decimal sums, one double
    # expression — engine-portable)
    var = F.col("__s2").cast("double") / n - mu * mu
    sd = F.when(var >= 0, F.sqrt(var))
    return acc.crossJoin(F.broadcast(users)).select(
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.round(F.when(F.col("n_gaps") > 0, mu), 6).alias("mean_gap"),
        F.round(F.when(F.col("n_gaps") > 0, sd), 6).alias("sd_gap"),
        F.round(
            F.when(
                (F.col("n_gaps") > 0) & (sd + mu > 0),
                (sd - mu) / (sd + mu),
            ),
            6,
        ).alias("burstiness"),
        F.round(F.col("__p50"), 6).alias("p50_gap"),
        F.round(F.col("__p90"), 6).alias("p90_gap"),
        F.col("__max").cast("bigint").alias("max_gap"),
    )


def dau_mau_stickiness(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 28,
    period_s: int = 86400,
) -> DataFrame:
    """DAU/MAU stickiness: per active day, the distinct daily users,
    the distinct users over the trailing ``window_days`` (28 by
    default — the "monthly" in the classic ratio), and their quotient
    — THE habit-formation metric product teams track beside retention
    (≈ how many days per month the average active user shows up).
    Returns (day_epoch, dau, mau, stickiness) ordered by day;
    day_epoch is the period start in epoch seconds (the
    cohort_retention convention).

    Decomposition: ONE distinct over (user, day) — the only
    corpus-bounded shuffle, partial-agged; DAU is a count over that
    table; MAU joins the activity table to the DAYS-bounded day spine
    on a trailing range (Catalyst broadcasts the spine) with one
    count-distinct per day, so the work is (active days × window ×
    daily users), never raw event volume. NULL users/timestamps drop
    complete-case.
    """
    period_ns = period_s * _NS_PER_S
    act = (
        _ns(df.filter(F.col(ts_col).isNotNull()), ts_col)
        .filter(F.col(user_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            _bucket(ts_col, period_ns).alias("__d"),
        )
        .distinct()
    )
    act = _persist_tracked(act)
    dau = act.groupBy("__d").agg(F.count(F.lit(1)).alias("dau"))
    spine = dau.select(F.col("__d").alias("__sd"))
    mau = (
        act.join(
            F.broadcast(spine),
            (F.col("__d") <= F.col("__sd"))
            & (F.col("__d") >= F.col("__sd") - (window_days - 1)),
        )
        .groupBy("__sd")
        .agg(F.countDistinct("__u").alias("mau"))
    )
    return (
        dau.join(mau, dau["__d"] == mau["__sd"])
        .select(
            (F.col("__d") * period_s).cast("bigint").alias("day_epoch"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(F.col("dau") / F.col("mau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day_epoch")
    )
