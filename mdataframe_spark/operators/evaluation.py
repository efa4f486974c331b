"""Model-evaluation operators: AUC, calibration, cluster silhouette.

A training-data pipeline that fits quality classifiers
(operators/classifier.py) and clusterings (operators/clustering.py)
needs the matching distributed evaluation metrics. Each operator here
reduces the corpus to a model-sized frame in ONE partial-aggregated
pass and keeps all arithmetic engine-portable (integer rank sums,
explicit rounded accumulations), so a SQL oracle replays the results
bit-for-bit.

Extends the reference's capability surface (MarcoMernberger/mdataframe
delegates evaluation to sklearn driver-side, e.g. silhouette usage in
its clustering tests); here the metrics are distributed plans.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist_tracked as _persist_tracked
from ..functions.stats import _range_arm, _range_rank
from .guards import DEFAULT_MAX_STEPS, probe_collapsed
from .similarity import dot


def auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    score_decimals: int | None = None,
    max_values: int | None = DEFAULT_MAX_STEPS,
) -> DataFrame:
    """Distributed ROC AUC via the tie-aware Mann-Whitney rank sum.

    AUC = (R_pos - P(P+1)/2) / (P*N) with R_pos the sum of average
    ranks of the positives. Decomposition: ONE groupBy(score) bounds
    everything downstream by the number of DISTINCT scores — per tied
    block the doubled average rank is the integer ``2*cum - n + 1``
    (cum = running row count through this block), so the whole rank sum
    is exact integer arithmetic until the final division: any engine
    replays it bit-for-bit.

    Scale shape: the corpus-sized input collapses in the first
    partial-agged groupBy; the running-count window then runs over the
    distinct-score table only. For continuous scores pass
    ``score_decimals`` to quantize (the 100 TB knob: 6 dp caps the
    window input at a few million rows regardless of corpus size —
    same single-partition-window discipline as functions/stats.py
    bh_adjust, which documents the bucketed exact alternative). The
    knob is RUNTIME-ENFORCED (round-13, the
    :func:`~..operators.stats_tests._rank_blocks` discipline): the
    distinct-score table is persisted and count-probed, raising
    :class:`~.guards.CollapsedTableTooLarge` past ``max_values``
    (default 100k) instead of silently handing a corpus-sized table
    to the one window reducer; ``max_values=None`` disables.

    Null scores/labels are excluded up front (complete-case, loudly
    consistent denominators — the operators/classifier.py convention).
    Returns ONE row: (n_pos, n_neg, auc) — auc NULL when either class
    is empty.
    """
    s = F.col(score_col).cast("double")
    if score_decimals is not None:
        s = F.round(s, score_decimals)
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    g = base.groupBy(s.alias("__s")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(label_col).cast("bigint")).alias("__p"),
    )
    if max_values is not None:
        g = _persist_tracked(g)
        probe_collapsed(g, max_values, "auc", "score", "max_values")
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, 0)
    ranked = g.withColumn("__cum", F.sum("__n").over(w))
    # the rank-sum terms scale as N²: accumulate in decimal(38,0)
    # (exact, order-independent, mirrors DuckDB's SUM(BIGINT)→HUGEINT)
    # — a bigint accumulator wraps silently near 3·10^9 rows; p·(p+1)
    # and 2·p·n likewise run in decimal/double past int64 range
    dec = "decimal(38,0)"
    acc = ranked.agg(
        F.sum(
            F.col("__p").cast(dec) * (2 * F.col("__cum") - F.col("__n") + 1)
        ).alias("__r2"),
        F.sum("__p").alias("n_pos"),
        F.sum(F.col("__n") - F.col("__p")).alias("n_neg"),
    )
    p, n = F.col("n_pos"), F.col("n_neg")
    return acc.select(
        p,
        n,
        F.round(
            F.when(
                (p > 0) & (n > 0),
                (F.col("__r2") - p.cast(dec) * (p + 1))
                / (2.0 * p.cast("double") * n),
            ),
            6,
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram of a probabilistic score in [0, 1]: per
    equal-width bin, row count, positive count, mean confidence, and
    empirical accuracy — the per-bin layer of expected calibration
    error (ECE = Σ n_b/N · gap_b, one more tiny-frame sum for the
    caller).

    One partial-agged groupBy; output bounded by ``n_bins``.
    Determinism: the score sum is rounded (6 dp) BEFORE the division
    so partial-aggregation order cannot leak into the quotient, and
    accuracy is an integer ratio — both engine-portable. Nulls are
    excluded complete-case, as in :func:`auc`.
    """
    s = F.col(score_col).cast("double")
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("int")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    g = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("bigint")).alias("n_pos"),
        F.round(F.sum(s), 6).alias("__ssum"),
    )
    conf = F.round(F.col("__ssum") / F.col("n"), 6)
    acc = F.round(F.col("n_pos") / F.col("n"), 6)
    return g.select(
        "bin",
        "n",
        "n_pos",
        conf.alias("mean_confidence"),
        acc.alias("positive_rate"),
        F.round(F.abs(acc - conf), 6).alias("calibration_gap"),
    )


def centroid_silhouette(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_labels: int = 64,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per point: a = distance
    to the OWN label centroid, b = distance to the nearest OTHER
    centroid, s = (b - a) / max(a, b) — the O(N·K) silhouette used at
    scale in place of the O(N²) pairwise original (Hruschka et al.'s
    simplified silhouette; the standard kmeans-quality signal).

    Plan shape: one labels x dim partial-agged centroid aggregation
    (O(K·dim) scalars to the driver — the ml_kmeans_lloyd convention),
    then scoring is a ZERO-shuffle codegen projection: each centroid is
    embedded as literals, every distance an unrolled left-to-right
    expression via d² = v·v − 2·v·c + c·c, so both engines produce
    bit-identical doubles (centroids rounded to 9 dp first — the
    established cross-engine centroid convention).

    Raises when the label count exceeds ``max_labels``: beyond that the
    unrolled K·dim expression tree stops being the right plan and a
    join against a centroid table should be used instead.
    """
    dim = len(df.select(vec_col).first()[0])
    v = F.col(vec_col).cast("array<double>")
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lbl"),
        v.alias("__v"),
    )
    cent_rows = (
        pts.select(
            "__lbl", *[F.col("__v")[i].alias(f"x{i}") for i in range(dim)]
        )
        .groupBy("__lbl")
        .agg(*[F.round(F.avg(f"x{i}"), 9).alias(f"c{i}") for i in range(dim)])
        .collect()
    )
    if len(cent_rows) > max_labels:
        raise ValueError(
            f"{len(cent_rows)} labels > max_labels={max_labels}: use a "
            "centroid-table join instead of literal unrolling"
        )
    cents = {
        r["__lbl"]: [float(r[f"c{i}"]) for i in range(dim)] for r in cent_rows
    }

    def _lit_dot(c: List[float]) -> Column:
        # left-to-right v·c against literal centroid components — the
        # association order DuckDB's list_dot_product replays exactly
        expr = F.col("__v")[0] * F.lit(c[0])
        for i in range(1, dim):
            expr = expr + F.col("__v")[i] * F.lit(c[i])
        return expr

    def _py_dot(c: List[float]) -> float:
        acc = c[0] * c[0]
        for x in c[1:]:
            acc += x * x
        return acc

    # staged projections: each K·dim distance is computed ONCE into a
    # named column and later stages reference the column — inlining the
    # d² expressions into a2/b2/silhouette would duplicate every
    # 3·dim-term tree ~6x and melt Catalyst analysis on wide K·dim
    vv = dot(F.col("__v"), F.col("__v"), dim)
    labels = list(cents)
    staged = pts.select(
        "__id",
        "__lbl",
        *[
            (vv - 2.0 * _lit_dot(cents[lbl]) + F.lit(_py_dot(cents[lbl])))
            .alias(f"__d2_{i}")
            for i, lbl in enumerate(labels)
        ],
    )
    a2 = F.coalesce(
        *[
            F.when(F.col("__lbl") == F.lit(lbl), F.col(f"__d2_{i}"))
            for i, lbl in enumerate(labels)
        ]
    )
    # F.least skips NULLs, so masking the own label with NULL leaves
    # exactly the min over OTHER centroids
    b2 = F.least(
        *[
            F.when(F.col("__lbl") != F.lit(lbl), F.col(f"__d2_{i}"))
            for i, lbl in enumerate(labels)
        ]
    )
    dists = staged.select(
        "__id",
        "__lbl",
        F.sqrt(F.greatest(a2, F.lit(0.0))).alias("__a"),
        F.sqrt(F.greatest(b2, F.lit(0.0))).alias("__b"),
    )
    a, b = F.col("__a"), F.col("__b")
    denom = F.greatest(a, b)
    sil = F.when(denom > 0, (b - a) / denom).otherwise(F.lit(0.0))
    return dists.select(
        F.col("__id").alias(id_col),
        F.col("__lbl").alias(label_col),
        F.round(a, 6).alias("a_dist"),
        F.round(b, 6).alias("b_dist"),
        F.round(sil, 6).alias("silhouette"),
    )


def confusion_metrics(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class confusion-matrix metrics for a classifier run:
    (class, tp, fp, fn, n_true, n_pred, precision, recall, f1), one row
    per class seen in either column, ordered by class.

    Scale shape: the corpus collapses in ONE partial-agged
    groupBy(label, pred) — everything downstream runs on the
    classes² confusion matrix (model-bounded). The matrix fans out
    into one (class, n_true, n_pred, tp) row per cell SIDE (explode to
    true-side + pred-side contributions) and collapses in one tiny
    groupBy(class): a single linear pass, no self-joins — the earlier
    by_true/by_pred/tp three-branch join re-ran the whole upstream
    corpus pipeline once per branch (Catalyst does not share
    non-exchange subtrees across join inputs). Ratios are exact
    integer quotients rounded to 6 dp, so any engine replays them.

    Null labels/predictions are excluded up front (complete-case, one
    denominator everywhere — the classifier.py convention).
    """
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(
        F.col(label_col).cast("string").alias("__l"),
        F.col(pred_col).cast("string").alias("__p"),
    )
    cm = base.groupBy("__l", "__p").agg(F.count(F.lit(1)).alias("__n"))
    zero = F.lit(0).cast("bigint")
    sides = cm.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("__l").alias("class"),
                    F.col("__n").alias("__t"),
                    zero.alias("__q"),
                    F.when(F.col("__l") == F.col("__p"), F.col("__n"))
                    .otherwise(zero)
                    .alias("__tp"),
                ),
                F.struct(
                    F.col("__p").alias("class"),
                    zero.alias("__t"),
                    F.col("__n").alias("__q"),
                    zero.alias("__tp"),
                ),
            )
        ).alias("__e")
    ).select("__e.*")
    out = (
        sides.groupBy("class")
        .agg(
            F.sum("__tp").cast("bigint").alias("tp"),
            F.sum("__t").cast("bigint").alias("n_true"),
            F.sum("__q").cast("bigint").alias("n_pred"),
        )
        .withColumn("fp", (F.col("n_pred") - F.col("tp")).cast("bigint"))
        .withColumn("fn", (F.col("n_true") - F.col("tp")).cast("bigint"))
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
    rec = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true"))
    f1 = F.when(
        F.col("n_pred") + F.col("n_true") > 0,
        2.0 * F.col("tp") / (F.col("n_pred") + F.col("n_true")),
    )
    return out.select(
        "class",
        "tp",
        "fp",
        "fn",
        "n_true",
        "n_pred",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ).orderBy("class")


def ndcg_at_k(
    df: DataFrame,
    group_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-group NDCG@k for a scored ranking against graded relevance:
    (group, n_items, dcg, idcg, ndcg). DCG = Σ_{r≤k} rel_r/log2(r+1)
    over the score-descending order; IDCG is the same sum over the
    relevance-descending (ideal) order of the SAME group.

    Scale shape: both rankings are group-partitioned windows — no
    global sort, no single-partition window; the per-group sums are
    one partial-agged groupBy. Each gain term is rounded to 9 dp
    before summing and the final ratio to 6 dp (≤ k terms per group,
    so ordering noise is far below the rounding granularity — the
    cross-engine FP discipline of the ANN oracles).

    ``tiebreak_col`` makes the ranking total (deterministic across
    engines); it defaults to the relevance column for DCG and the
    score for IDCG plus the group, which is only safe when ties
    cannot occur — pass an id column in practice.
    """
    g, s, r = F.col(group_col), F.col(score_col), F.col(rel_col)
    base = df.filter(g.isNotNull() & s.isNotNull() & r.isNotNull()).select(
        g.alias("__g"),
        s.cast("double").alias("__s"),
        r.cast("double").alias("__r"),
        *( [F.col(tiebreak_col).alias("__tb")] if tiebreak_col else [] ),
    )
    tb = [F.col("__tb").asc()] if tiebreak_col else []
    w_dcg = Window.partitionBy("__g").orderBy(F.col("__s").desc(), *tb)
    w_ideal = Window.partitionBy("__g").orderBy(F.col("__r").desc(), *tb)
    ranked = base.withColumn("__rank", F.row_number().over(w_dcg)).withColumn(
        "__irank", F.row_number().over(w_ideal)
    )
    gain = F.when(
        F.col("__rank") <= k,
        F.round(F.col("__r") / F.log2(F.col("__rank") + 1.0), 9),
    ).otherwise(F.lit(0.0))
    igain = F.when(
        F.col("__irank") <= k,
        F.round(F.col("__r") / F.log2(F.col("__irank") + 1.0), 9),
    ).otherwise(F.lit(0.0))
    per_group = ranked.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(gain), 6).alias("dcg"),
        F.round(F.sum(igain), 6).alias("idcg"),
    )
    return per_group.select(
        group_col,
        "n_items",
        "dcg",
        "idcg",
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")), 6
        ).alias("ndcg"),
    )


def _ntile(frame, key, order, n_buckets, range_arm):
    """``frame`` plus ``bucket``: Spark's ``ntile(n_buckets)`` over
    ``key`` descending (NULLs last), then the ``order`` columns.

    The range arm replays ntile arithmetically from the exact global
    rank j of :func:`..functions.stats._range_rank` over N rows: with
    q = N div n and r = N mod n, buckets 1..r hold q+1 rows and buckets
    r+1..n hold q, so bucket(j) = (j-1) div (q+1) + 1 while
    j <= r(q+1), else r + (j - r(q+1) - 1) div q + 1. Both arms agree
    wherever ``order`` makes the order total."""
    if not range_arm:
        w = Window.orderBy(F.col(key).desc(), *order)
        return frame.withColumn("bucket", F.ntile(n_buckets).over(w))
    ranked, _, rows = _range_rank(frame, key, order, descending=True)
    q, r = divmod(rows, n_buckets)
    head = r * (q + 1)
    # exact bigint `div` (never double division — ranks can exceed
    # 2^53 at corpus scale); the q==0 case never reaches the otherwise
    # branch because then j <= N = r(q+1)
    bucket = F.when(
        F.col("__rank") <= F.lit(head),
        F.expr(f"(__rank - 1) div {q + 1}") + 1,
    ).otherwise(F.expr(f"{r} + ((__rank - {head} - 1) div {max(q, 1)})") + 1)
    return ranked.withColumn("bucket", bucket.cast("int")).drop("__rank", "__bkt")


def gain_deciles(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Cumulative gain / lift table: rank by score descending, cut into
    ``n_buckets`` equal-count buckets (ntile), and report per bucket
    the positives captured, cumulative capture rate, and lift vs the
    base rate — the model-ops view of "how much of the target does the
    top decile catch". Returns n_buckets rows: (bucket, n, n_pos,
    cum_pos, capture_rate, cum_capture_rate, lift).

    Exact equal-count buckets require a TOTAL global order: one
    unpartitioned ntile window while the scored frame has at most
    ``functions.stats.SINGLE_REDUCER_MAX_ROWS`` rows (a classifier's
    eval split), and above that the range arm (an eval split of a
    100 TB corpus need not be model-sized) — ntile replayed from the
    exact range-partitioned rank, identical values (:func:`_ntile`).

    ``tiebreak_col`` makes the order total (cross-engine
    deterministic); rates are exact integer quotients rounded 6 dp.
    """
    s = F.col(score_col).cast("double")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        s.alias("__s"),
        F.col(label_col).cast("bigint").alias("__y"),
        *( [F.col(tiebreak_col).alias("__tb")] if tiebreak_col else [] ),
    )
    tb = [F.col("__tb").asc()] if tiebreak_col else []
    range_arm = _range_arm(base, "gain_deciles")
    if range_arm:
        # base feeds two driver actions (the quantile cuts, the counts
        # collect) plus the output plan — pin it so the caller's
        # upstream aggregation runs once, not three times
        base = _persist_tracked(base)
    bucketed = _ntile(base, "__s", tb, n_buckets, range_arm)
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("n_pos"),
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = per.select(
        "bucket",
        "n",
        "n_pos",
        F.sum("n_pos").over(wc).alias("cum_pos"),
        F.sum("n_pos").over(tot).alias("__total_pos"),
        F.sum("n").over(wc).alias("__cum_n"),
        F.sum("n").over(tot).alias("__total_n"),
    )
    capture = F.when(
        F.col("__total_pos") > 0, F.col("n_pos") / F.col("__total_pos")
    )
    cum_capture = F.when(
        F.col("__total_pos") > 0, F.col("cum_pos") / F.col("__total_pos")
    )
    base_rate = F.col("__total_pos") / F.col("__total_n")
    lift = F.when(
        F.col("__total_pos") > 0,
        (F.col("cum_pos") / F.col("__cum_n")) / base_rate,
    )
    return out.select(
        "bucket",
        "n",
        "n_pos",
        "cum_pos",
        F.round(capture, 6).alias("capture_rate"),
        F.round(cum_capture, 6).alias("cum_capture_rate"),
        F.round(lift, 6).alias("lift"),
    ).orderBy("bucket")


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    score_decimals: int | None = None,
) -> DataFrame:
    """Precision-recall curve points at every distinct score threshold
    (predict positive when score ≥ threshold): (threshold, n_ge,
    pos_ge, precision, recall, f1), descending thresholds. Completes
    the classifier evaluation family — auc summarizes ranking quality
    in one number; THIS is what you threshold on in production.

    Decomposition: the auc discipline — ONE partial-agged
    groupBy(score) collapses the corpus to distinct-score blocks; the
    cumulative window runs over that model-bounded table only (pass
    ``score_decimals`` to quantize continuous scores — the 100 TB
    knob). Ratios are exact integer quotients rounded 6 dp.
    Complete-case on nulls.
    """
    s = F.col(score_col).cast("double")
    if score_decimals is not None:
        s = F.round(s, score_decimals)
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        s.alias("__s"), F.col(label_col).cast("bigint").alias("__y")
    )
    blocks = base.groupBy(F.col("__s").alias("threshold")).agg(
        F.count(F.lit(1)).alias("__t"),
        F.sum("__y").alias("__t1"),
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = blocks.select(
        "threshold",
        F.sum("__t").over(w).cast("bigint").alias("n_ge"),
        F.sum("__t1").over(w).cast("bigint").alias("pos_ge"),
        F.sum("__t1").over(tot).cast("bigint").alias("__total_pos"),
    )
    prec = F.col("pos_ge") / F.col("n_ge")
    rec = F.when(
        F.col("__total_pos") > 0, F.col("pos_ge") / F.col("__total_pos")
    )
    f1 = F.when(
        F.col("pos_ge") + F.col("__total_pos") > 0,
        2.0 * F.col("pos_ge") / (F.col("n_ge") + F.col("__total_pos")),
    )
    return cum.select(
        "threshold",
        "n_ge",
        "pos_ge",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ).orderBy(F.col("threshold").desc())
