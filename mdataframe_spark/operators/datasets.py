"""Dataset-preparation operators for training pipelines.

Deterministic hash-based train/val/test splitting and grouped greedy
sequence packing (the concat-and-chunk layout LLM training uses).
Both are pure DataFrame expressions — no UDFs, no driver state — and
both are SQL-replayable for the DuckDB correctness oracle.

Extension surface (the reference — MarcoMernberger/mdataframe — has no
dataset-split or packing operators; its closest analog is the
row-slicing pagination of mdataframe.py:1128-1140).
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import _range_arm, _range_rank

# md5-prefix width used for the split hash: 8 hex chars = 32 bits is
# plenty of resolution for split fractions and parses losslessly into
# a BIGINT on both engines (Spark conv(); DuckDB cast('0x…')).
_HASH_HEX_CHARS = 8
_HASH_SPACE = float(1 << (4 * _HASH_HEX_CHARS))


def split_hash_u(key, seed: int = 42):
    """Uniform [0,1) hash of ``key``: md5 of ``key || ':' || seed``,
    first 8 hex chars as an integer over 2^32. Engine-portable (md5 is
    bit-identical everywhere) and independent of row order, partition
    count, and corpus size — a doc keeps its split forever, the
    property that makes held-out sets stable as the corpus grows."""
    h = F.md5(F.concat_ws(":", F.col(key).cast("string"), F.lit(str(seed))))
    return F.conv(F.substring(h, 1, _HASH_HEX_CHARS), 16, 10).cast("bigint") / F.lit(
        _HASH_SPACE
    )


def hash_split(
    df: DataFrame,
    key: str = "doc_id",
    fractions: Dict[str, float] = None,
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a deterministic split label by hashed key.

    ``fractions`` maps label -> fraction (must sum to <= 1; remainder
    falls into the last label). Assignment is a pure column expression
    over the scan — at 100 TB this is a zero-shuffle map, and the
    filter for one split pushes down to the parquet scan.
    """
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    u = split_hash_u(key, seed)
    labels = list(fractions)
    bounds = []
    acc = 0.0
    for lbl in labels[:-1]:
        acc += fractions[lbl]
        bounds.append((lbl, acc))
    expr = F.lit(labels[-1])
    for lbl, b in reversed(bounds):
        expr = F.when(u < b, F.lit(lbl)).otherwise(expr)
    return df.withColumn(out_col, expr)


def pack_sequences(
    df: DataFrame,
    group_cols: Sequence[str],
    length_col: str,
    order_col: str = "doc_id",
    capacity: int = 2048,
) -> DataFrame:
    """Greedy concat-and-chunk sequence packing within each group.

    Documents are concatenated in ``order_col`` order inside each
    group; the token stream is cut into bins of ``capacity``. Each doc
    gets ``bin_id`` (the bin its FIRST token lands in) and
    ``bin_offset`` (its start position inside that bin) — the layout a
    packed-pretokenized training shard uses. A document longer than
    ``capacity`` simply spans bins, as in real packing.

    Scale: one window shuffle keyed by ``group_cols`` — groups are
    shards (source/language/date buckets), so parallelism is the shard
    count and no global ordering is ever materialized. (A single-group
    call degenerates to one partition — use real shard keys at scale.)
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(length_col).over(w), F.lit(0)).cast("bigint")
    return (
        df.withColumn("__start", start)
        .withColumn("bin_id", (F.col("__start") / capacity).cast("bigint"))
        .withColumn("bin_offset", F.col("__start") % capacity)
        .drop("__start")
    )


def stratified_sample(
    df: DataFrame,
    key: str,
    rates: Dict[str, float],
    stratum_col: str,
    default_rate: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling: keep a row iff its
    md5 key draw falls under its stratum's rate (e.g. downsample
    boilerplate-heavy sources, upweight rare languages).

    Same hash as :func:`hash_split` but a different seed namespace
    (``seed`` is caller-chosen), so sampling composes with splitting
    without correlation. Pure column expression — zero-shuffle filter
    pushed at the scan; rows keep their sample decision as the corpus
    grows, so shards can be resampled incrementally.
    """
    u = split_hash_u(key, seed)
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, float(r)).otherwise(rate)
    return df.filter(u < rate)


def importance_sample(
    df: DataFrame,
    weight_col: str,
    key: str = "doc_id",
    rate_scale: float = 1.0,
    seed: int = 43,
    out_col: str = "kept",
) -> DataFrame:
    """Deterministic quality-weighted (importance) sampling: keep a row
    with probability min(weight * rate_scale, 1), decided by the
    engine-portable md5 draw — the DSIR/CCNet-style "sample
    proportionally to a quality score" stage, e.g. with the quality
    classifier's p_good or the composite quality_score as the weight.

    The weight is rounded to 6 dp before thresholding so the keep
    decision is identical across engines/partitionings even for rows
    whose weight sits at the draw boundary. Pure column expression:
    zero-shuffle, pushed to the scan at 100 TB, and a doc's decision is
    stable as the corpus grows (same property as hash_split).

    Null weights: a null weight keeps the row with probability 0, and
    the output column is two-valued (``kept`` is never null). This
    needs an explicit guard, not a bare expression: Spark's least()
    SKIPS nulls, so ``least(null * s, 1.0)`` is 1.0 — an unguarded
    null weight would be silently ALWAYS kept.
    """
    u = split_hash_u(key, seed)
    p = F.round(
        F.least(F.col(weight_col) * F.lit(float(rate_scale)), F.lit(1.0)), 6
    )
    return df.withColumn(
        out_col,
        F.when(F.col(weight_col).isNull(), F.lit(False)).otherwise(u < p),
    )


def domain_mixture_rates(
    df: DataFrame,
    domain_col: str,
    target_weights: Dict[str, float],
    budget_fraction: float = 0.5,
    token_col: str = "n_chars",
) -> Dict[str, float]:
    """Per-domain sampling rates that steer the corpus toward a target
    mixture at a token budget (the data-mixing step of an LLM
    pretraining pipeline, cf. DoReMi / The Pile's per-source weights).

    budget = budget_fraction · total_tokens; domain d's allocation is
    ``target_weights[d] · budget`` tokens, so

        rate_d = min(1, w_d · budget / tokens_d)

    One aggregation job (#domains scalars to the driver). Domains
    short of their allocation keep everything (rate capped at 1 — no
    upsampling; renormalize weights or raise the budget if exact
    mixture matters more than data volume). Domains absent from
    ``target_weights`` get rate 0.
    """
    stats = {
        r["d"]: float(r["t"])
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.sum(token_col).alias("t"))
        .collect()
    }
    total = sum(stats.values())
    budget = budget_fraction * total
    return {
        d: min(1.0, target_weights[d] * budget / stats[d])
        for d in stats
        if d in target_weights and stats[d] > 0
    }


def domain_mixture_sample(
    df: DataFrame,
    domain_col: str,
    target_weights: Dict[str, float],
    budget_fraction: float = 0.5,
    token_col: str = "n_chars",
    key: str = "doc_id",
    seed: int = 11,
) -> DataFrame:
    """Deterministically sample the corpus to the mixture computed by
    :func:`domain_mixture_rates` — the same zero-shuffle md5-threshold
    filter as :func:`stratified_sample`, so membership is stable under
    corpus growth and resharding."""
    rates = domain_mixture_rates(
        df, domain_col, target_weights, budget_fraction, token_col
    )
    return stratified_sample(df, key, rates, domain_col, 0.0, seed)


def temperature_weights(
    df: DataFrame,
    domain_col: str,
    temperature: float = 2.0,
    token_col: str = "n_chars",
    decimals: int = 9,
) -> Dict[str, float]:
    """Temperature-scaled mixture weights w_d ∝ share_d^(1/T) — the
    standard low-resource-upweighting scheme for multi-source corpora
    (mBERT/XLM-R exponential smoothing, T5's T=... mixing, UniMax's
    motivation): T = 1 reproduces natural proportions, T → ∞ tends to
    uniform, so minority sources gain share without hand-tuned
    per-source weights.

    One aggregation job (#domains scalars to the driver); the
    power/normalize arithmetic runs driver-side on SORTED domains with
    a ``decimals`` round (the kmeans determinism convention — the
    result is a reproducible constant any engine replays). Feed the
    result straight into :func:`domain_mixture_rates` /
    :func:`domain_mixture_sample`.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    stats = {
        r["d"]: float(r["t"])
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.sum(token_col).alias("t"))
        .collect()
        if r["d"] is not None and r["t"]
    }
    import math

    total = sum(stats.values())
    # T=2 goes through IEEE sqrt (correctly rounded everywhere — SQL
    # engines replay it bit-for-bit); general T uses libm pow
    if temperature == 2.0:
        powered = {d: math.sqrt(stats[d] / total) for d in sorted(stats)}
    else:
        powered = {
            d: (stats[d] / total) ** (1.0 / temperature)
            for d in sorted(stats)
        }
    z = sum(powered.values())
    return {d: round(p / z, decimals) for d, p in powered.items()}


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    fractions: Dict[str, float] = None,
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test split that keeps NEAR-DUPLICATE GROUPS together.

    Splitting by per-document hash leaks: a near-copy of a training
    document lands in the eval set with probability (1 - its split
    fraction). Here the split hash is drawn from each document's
    near-dup GROUP representative instead: ``pairs`` (id_a, id_b — any
    candidate-pair output from the dedup family) is closed into
    connected components, every member adopts the component label
    (min id), singletons keep their own id, and :func:`hash_split`
    assigns the label. All members of a group land on the same side —
    by construction, never by sampling luck.

    Plan shape: the component closure is the O(log diameter)
    min-label/pointer-jump loop (dedup.connected_components); the
    split itself stays the zero-shuffle hash map, applied to the
    joined-in representative. One broadcast-size join when the pair
    graph is sparse (the normal case: most docs are singletons and
    never enter the join).
    """
    from .dedup import connected_components

    # the no-leakage guarantee rests on the rep join matching: a non-
    # castable type mismatch between the pair ids and df's key (e.g.
    # string vs bigint) would let every doc silently fall back to its
    # own id (null-matched join) and put near-dup pairs on both sides —
    # the exact failure this function exists to prevent. Fail loudly
    # instead. Integral-width differences (int vs bigint) are fine:
    # Spark's equi-join widens them losslessly with no null-miss.
    from .graph import _is_integral

    kt = df.schema[key].dataType
    pt = pairs.schema["id_a"].dataType
    if kt != pt and not (_is_integral(kt) and _is_integral(pt)):
        raise TypeError(
            f"leakage_safe_split: pairs id type {pt.simpleString()} does not "
            f"match df[{key!r}] type {kt.simpleString()} — the group-"
            "representative join would silently miss and leak near-dups "
            "across splits"
        )
    cc = connected_components(pairs)
    labeled = df.join(
        cc.select(F.col("v").alias(key), F.col("component").alias("__rep")),
        key,
        "left",
    ).withColumn("__rep", F.coalesce(F.col("__rep"), F.col(key)))
    out = hash_split(labeled, key="__rep", fractions=fractions, seed=seed, out_col=out_col)
    return out.drop("__rep")


def balance_shards(
    df: DataFrame,
    n_shards: int,
    weight_col: str = "n_chars",
    tiebreak_cols: Sequence[str] = ("doc_id",),
    out_col: str = "shard",
) -> DataFrame:
    """Assign every row to one of ``n_shards`` output shards with
    near-equal total weight (token budget) per shard — the layout step
    before writing training shards, where unbalanced shards stall the
    data-loader on the heaviest file.

    Assignment is SERPENTINE round-robin over the weight-descending
    order (rank r -> position r%n in even rounds, reversed in odd
    rounds): a deterministic one-pass relative of LPT scheduling whose
    per-round boustrophedon cancels the systematic bias plain
    round-robin gives shard 0. Max-minus-min shard load is bounded by
    the largest single weight (tested), and the assignment is a pure
    function of the weight order — stable across partitionings.

    Scale shape: the global weight rank is one window while the frame
    has at most ``functions.stats.SINGLE_REDUCER_MAX_ROWS`` rows, and
    above that the exact range-partitioned rank
    (:func:`..functions.stats._range_rank`; no single-reducer window).
    Both arms order NULL weights last.

    ``weight_col`` must be numeric. Adds ``out_col`` (int).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    base = df.withColumn("__w", F.col(weight_col).cast("double"))
    order = [F.col(c).asc() for c in tiebreak_cols]
    if _range_arm(base, "balance_shards"):
        ranked, _, _ = _range_rank(base, "__w", order, descending=True)
        g = F.col("__rank") - F.lit(1)
    else:
        ranked = base
        g = F.row_number().over(Window.orderBy(F.col("__w").desc(), *order)) - F.lit(1)
    rnd = (g / F.lit(n_shards)).cast("bigint")
    pos = g % F.lit(n_shards)
    shard = F.when(rnd % 2 == 0, pos).otherwise(F.lit(n_shards - 1) - pos)
    return ranked.withColumn(out_col, shard.cast("int")).drop("__w", "__rank", "__bkt")


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169). Select raw-corpus examples whose hashed-n-gram
# distribution looks like a (small) target corpus: fit bag-of-buckets
# multinomials over hashed n-grams for target and raw, weight each raw
# doc by its log likelihood ratio, then draw k docs WITHOUT replacement
# via Gumbel top-k on the log weights.
#
# Scale shape (100 TB): the two distribution fits are groupBy(bucket)
# aggregations whose shuffle is bounded by ``n_buckets`` (default 8192
# rows of (bucket, count) — kilobytes), never the corpus; the per-doc
# weights are one broadcast join of the B-row log-ratio table against
# the exploded features plus one groupBy(doc) with map-side partial
# aggregation; selection is orderBy+limit, which Spark compiles to
# TakeOrderedAndProject (per-partition top-k heaps + one k-row driver
# merge) — no global sort. Everything is md5-deterministic and
# SQL-replayable for the DuckDB oracle.
# ---------------------------------------------------------------------------


def _dsir_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    seed: int,
    ngram_n: int = 2,
) -> DataFrame:
    """(id, bucket) rows: unigrams + word n-grams up to ``ngram_n``,
    each hashed into ``n_buckets`` via the engine-portable md5 prefix
    (same convention as split_hash_u). One projection + explode — no
    shuffle; bucketing keeps the downstream model size fixed at B no
    matter the vocabulary (the hashing trick the DSIR paper uses)."""
    from .text import _PUNCT, _WS, _word_ngrams

    # NOT spread (measured, round-13): the normalize + n-gram explode
    # + per-gram md5 build runs ~1s pipelined into a single-split
    # local scan, and a same-JVM interleaved A/B showed the
    # ensure_parallelism exchange costs more than it saves
    # (2.6-2.7s vs 2.8-3.0s per query); the spread pays only for
    # far heavier map stages (minhash shingling, semantic-dedup dots)
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _PUNCT, ""))
    ws = df.select(F.col(id_col), F.split(norm, _WS).alias("__ws"))
    gram_arrays = [_word_ngrams(F.col("__ws"), n) for n in range(1, ngram_n + 1)]
    grams = ws.select(
        id_col, F.explode(F.concat(*gram_arrays)).alias("__gram")
    ).filter(F.col("__gram") != "")
    h = F.md5(F.concat_ws(":", F.col("__gram"), F.lit(str(seed))))
    bucket = (
        F.conv(F.substring(h, 1, _HASH_HEX_CHARS), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )
    return grams.select(id_col, bucket.alias("bucket"))


def dsir_bucket_logratios(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    alpha: float = 1.0,
    seed: int = 11,
    ngram_n: int = 2,
) -> DataFrame:
    """Per-bucket log importance ratio log p_target(b) - log p_raw(b)
    under Laplace-smoothed multinomials: p(b) = (c_b + alpha) /
    (total + alpha * B). Returns exactly ``n_buckets`` rows (bucket,
    logratio) — the whole "model" is kilobytes, broadcast to scorers.

    Both aggregations shuffle at most B rows; the two scalar totals
    are collected as single-row aggregates. Per-bucket log ratios are
    rounded to 9 dp so cross-engine sums agree bit-for-bit (the
    unigram_lm_scores convention)."""
    r_b = _dsir_buckets(raw, id_col, text_col, n_buckets, seed, ngram_n)
    t_b = _dsir_buckets(target, id_col, text_col, n_buckets, seed, ngram_n)
    return _dsir_logratios_from_feats(r_b, t_b, n_buckets, alpha)


def _dsir_logratios_from_feats(
    r_b: DataFrame, t_b: DataFrame, n_buckets: int, alpha: float
) -> DataFrame:
    """Log-ratio table from precomputed (id, bucket) feature frames.
    Each corpus is scanned ONCE: the totals are one-row re-aggregations
    of the (already persisted, B-row) bucket-count frames rather than
    separate count() actions over the raw explode."""
    from ..cache import persist_tracked as _persist_tracked

    spark = r_b.sparkSession
    r_counts = _persist_tracked(
        r_b.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    )
    t_counts = _persist_tracked(
        t_b.groupBy("bucket").agg(F.count(F.lit(1)).alias("tc"))
    )

    import math

    r_total = r_counts.agg(F.sum("rc")).collect()[0][0] or 0
    t_total = t_counts.agg(F.sum("tc")).collect()[0][0] or 0
    r_denom = math.log(r_total + alpha * n_buckets)
    t_denom = math.log(t_total + alpha * n_buckets)

    all_b = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    joined = (
        all_b.join(r_counts, "bucket", "left").join(t_counts, "bucket", "left")
    )
    a = F.lit(float(alpha))
    logratio = F.round(
        (F.log(F.coalesce(F.col("tc"), F.lit(0)) + a) - F.lit(t_denom))
        - (F.log(F.coalesce(F.col("rc"), F.lit(0)) + a) - F.lit(r_denom)),
        9,
    )
    return joined.select("bucket", logratio.alias("logratio"))


def dsir_weights(
    raw: DataFrame,
    logratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    seed: int = 11,
    ngram_n: int = 2,
) -> DataFrame:
    """Per-doc DSIR log importance weight: the sum of its features'
    bucket log ratios (equivalently sum_b count_b(x) * logratio_b).
    One broadcast join (B rows) + one groupBy(doc); partial map-side
    aggregation makes the shuffle ~one row per doc."""
    feats = _dsir_buckets(raw, id_col, text_col, n_buckets, seed, ngram_n)
    return _dsir_weights_from_feats(feats, logratios, id_col)


def _dsir_weights_from_feats(
    feats: DataFrame, logratios: DataFrame, id_col: str
) -> DataFrame:
    scored = feats.join(F.broadcast(logratios), "bucket")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_feats"),
        F.round(F.sum("logratio"), 6).alias("dsir_logweight"),
    )


def dsir_gumbel_topk(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "dsir_logweight",
    seed: int = 12,
    out_col: str = "gumbel_key",
) -> DataFrame:
    """Sample ``k`` rows without replacement, proportionally to
    exp(weight), via the Gumbel top-k trick: key = weight + Gumbel
    noise, take the k largest. The noise is the engine-portable md5
    draw mapped through -log(-log(u)), with u offset to (h + 0.5)/2^32
    so u is never exactly 0 or 1. orderBy+limit compiles to
    TakeOrderedAndProject; ties (quantized keys) break by id so the
    selected set is identical across engines and partitionings."""
    h = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))))
    u = (
        F.conv(F.substring(h, 1, _HASH_HEX_CHARS), 16, 10).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(_HASH_SPACE)
    gumbel = F.round(-F.log(-F.log(u)), 9)
    keyed = weights.withColumn(out_col, F.round(F.col(weight_col) + gumbel, 6))
    return keyed.orderBy(F.col(out_col).desc(), F.col(id_col).asc()).limit(k)


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    alpha: float = 1.0,
    seed: int = 11,
    ngram_n: int = 2,
) -> DataFrame:
    """End-to-end DSIR: fit both hashed-n-gram multinomials, weight
    every raw doc by its target/raw log likelihood ratio, Gumbel-top-k
    sample k docs without replacement. Returns (id, n_feats,
    dsir_logweight, gumbel_key) for the selected docs.

    Docs that produce no n-gram features (empty/whitespace-only text)
    have no weight row and are therefore never selected — they carry
    zero evidence under the model, and a selection pipeline that wants
    them must route them separately.

    The raw corpus is EXPLODED ONCE: the (id, bucket) feature frame is
    persisted (memory-and-disk) and reused for both the multinomial
    fit and the per-doc scoring — the fit-then-score composition would
    otherwise pay three full corpus passes (fit count, fit agg,
    scoring re-explode). At 100 TB the cached explode spills to local
    disk; callers who cannot afford the cache can call the
    fit/score functions separately on fresh frames."""
    from ..cache import persist_tracked as _persist_tracked

    feats_raw = _persist_tracked(
        _dsir_buckets(raw, id_col, text_col, n_buckets, seed, ngram_n)
    )
    feats_t = _dsir_buckets(target, id_col, text_col, n_buckets, seed, ngram_n)
    ratios = _dsir_logratios_from_feats(feats_raw, feats_t, n_buckets, alpha)
    w = _dsir_weights_from_feats(feats_raw, ratios, id_col)
    return dsir_gumbel_topk(w, k, id_col=id_col, seed=seed + 1)


def corpus_profile(
    df: DataFrame,
    group_cols=("source", "lang"),
    text_col: str = "text",
    chars_col: str = "n_chars",
    approximate: bool = False,
) -> DataFrame:
    """Data-card summary per group: document count, token/char totals,
    mean and p50/p95 character lengths — the first report every corpus
    audit produces and the input to mixture-rate decisions.

    One groupBy whose shuffle is bounded by the number of groups (the
    map-side partial aggregation reduces each partition to one row per
    group). The exact ``percentile`` buffers each group's char lengths
    inside the agg — fine at data-card cardinalities (groups are
    sources/languages, not docs); pass ``approximate=True`` to switch
    to ``approx_percentile`` (GK sketch, bounded state) when a single
    group's membership is itself corpus-scale.
    """
    from .text import token_count

    pfn = "approx_percentile" if approximate else "percentile"
    base = df.select(
        *group_cols,
        F.col(chars_col).cast("double").alias("__nc"),
        token_count(F.col(text_col)).cast("bigint").alias("__t"),
    )
    return base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t").cast("bigint").alias("total_tokens"),
        F.sum("__nc").cast("bigint").alias("total_chars"),
        F.round(F.avg("__nc"), 6).alias("avg_chars"),
        F.round(F.expr(f"{pfn}(__nc, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr(f"{pfn}(__nc, 0.95)"), 6).alias("p95_chars"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot delta between two corpus versions (crawl N vs crawl
    N+1): per document id, ``added`` (only in new), ``removed`` (only
    in old), ``changed`` (both sides, content fingerprint differs) or
    ``unchanged``. The maintenance report every recurring-ingest
    pipeline runs before deciding what to re-process.

    Content identity is the md5 of the lower/trimmed text — the same
    fingerprint convention as exact dedup, so "changed" means the
    normalized content moved, not that whitespace shifted.

    Scale shape: ONE full-outer equi-join keyed by the document id —
    linear, no fan-out; both inputs are reduced to (id, fingerprint)
    projections before the join so the shuffle carries 2 columns, not
    documents.

    ``id_col`` is assumed unique WITHIN each version (it is the join
    key): a duplicated id fans the join out and yields one status row
    per (old, new) occurrence pair — run exact dedup first if ids can
    repeat.
    """
    def fp(c):
        return F.md5(F.lower(F.trim(c)))

    o = old.select(
        F.col(id_col).alias("__id"), fp(F.col(text_col)).alias("__fo")
    )
    n = new.select(
        F.col(id_col).alias("__id"), fp(F.col(text_col)).alias("__fn")
    )
    j = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("__fo").isNull(), F.lit("added"))
        .when(F.col("__fn").isNull(), F.lit("removed"))
        .when(F.col("__fo") == F.col("__fn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("__id").alias(id_col), status.alias("status"))


def negative_samples(
    df: DataFrame,
    id_col: str = "vec_id",
    k: int = 4,
    seed: int = 7,
    out_col: str = "neg_id",
) -> DataFrame:
    """``k`` deterministic pseudo-random NEGATIVE ids per row — the
    contrastive-training companion to the positive near-dup pairs: for
    every anchor, k other corpus members drawn uniformly by the
    engine-portable md5 hash, self-collisions shifted away by +1 mod n.

    Requires a DENSE 0..n-1 id space (the draw maps a hash straight to
    an id — no rank shuffle, no sampling join): verified up front with
    one min/max/count aggregate and a loud error otherwise, because a
    sparse id space would silently sample nonexistent negatives.

    Scale shape: one scalar density probe, then a pure projection +
    explode (k rows per anchor) — zero shuffles; joining the negatives
    back to their payloads is the caller's (broadcast or shuffle) join
    and is not forced here.
    """
    lo, hi, n = df.agg(
        F.min(id_col), F.max(id_col), F.count(F.lit(1))
    ).collect()[0]
    if n == 0:
        raise ValueError("negative_samples: empty input")
    if lo != 0 or hi != n - 1:
        raise ValueError(
            f"negative_samples: id space must be dense 0..n-1 "
            f"(got min={lo}, max={hi}, n={n}) — re-key with a dense rank "
            "first, or the hash draw would sample nonexistent ids"
        )
    if k < 1 or (n < 2 and k >= 1):
        raise ValueError("negative_samples: need n >= 2 and k >= 1")

    def draw(i: int):
        h = F.md5(
            F.concat_ws(
                ":", F.col(id_col).cast("string"), F.lit(str(i)), F.lit(str(seed))
            )
        )
        j = (
            F.conv(F.substring(h, 1, _HASH_HEX_CHARS), 16, 10).cast("bigint")
            % F.lit(n)
        )
        # self-collision: shift one forward (stays uniform over the
        # other n-1 ids for the colliding draw)
        return F.when(j == F.col(id_col), (j + 1) % F.lit(n)).otherwise(j)

    negs = F.array(*[draw(i) for i in range(k)])
    return df.select(
        id_col, F.posexplode(negs).alias("neg_rank", out_col)
    )


def group_topk_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    key: str = "doc_id",
    seed: int = 7,
    prefilter_overshoot: float = 0.0,
    out_col: str = "sample_rank",
) -> DataFrame:
    """Exactly-k-per-group deterministic sampling (distributed
    reservoir): within each group, keep the k rows with the SMALLEST
    md5 draw — uniform without replacement, and a row's selection is a
    pure function of (key, seed, the group's membership), so reruns and
    resharding reproduce the sample bit-for-bit. Groups smaller than k
    keep everything. Output carries ``out_col`` (1-based rank within
    the group's draw order).

    Plan shape: one per-group window over the draw order — bounded by
    group size. For corpus-scale groups set ``prefilter_overshoot``
    (e.g. 4.0): rows with draw above ``overshoot*k/|group|`` are
    discarded BEFORE the window (zero-shuffle filter against the
    broadcast group sizes), so the window sorts ~overshoot*k rows per
    group instead of the whole group. The prefilter is verified, not
    trusted: one aggregation checks every group still holds min(k, n)
    candidates, and a shortfall (binomially rare at overshoot >= 4)
    falls back to the unfiltered rows FOR THOSE GROUPS ONLY — results
    are identical with and without the prefilter by construction.
    """
    if k < 1:
        raise ValueError("group_topk_sample: k must be >= 1")
    u = split_hash_u(key, seed)
    base = df.withColumn("__u", u)
    cand = base
    if prefilter_overshoot and prefilter_overshoot > 0:
        sizes = base.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
        bound = F.least(
            F.lit(1.0), F.lit(float(prefilter_overshoot) * k) / F.col("__gn")
        )
        with_n = base.join(F.broadcast(sizes), group_col)
        cand = with_n.filter(F.col("__u") < bound)
        # anchor the shortfall check on SIZES, not on the candidates: a
        # group whose every row fell above the bound has no candidate
        # rows at all and would silently vanish from a cand-side groupBy
        ccnt = cand.groupBy(group_col).agg(F.count(F.lit(1)).alias("__c"))
        short = (
            sizes.join(ccnt, group_col, "left")
            .filter(
                F.coalesce(F.col("__c"), F.lit(0))
                < F.least(F.lit(k), F.col("__gn"))
            )
            .select(group_col)
        )
        short_groups = [r[0] for r in short.collect()]
        if short_groups:
            # shortfall groups (binomially rare) take the unfiltered
            # path; everything else keeps the cheap pre-filter
            cand = with_n.filter(
                (F.col("__u") < bound) | F.col(group_col).isin(short_groups)
            )
        cand = cand.drop("__gn")
    w = Window.partitionBy(group_col).orderBy("__u", F.col(key))
    return (
        cand.withColumn(out_col, F.row_number().over(w))
        .filter(F.col(out_col) <= k)
        .drop("__u")
    )


# Poisson(1) CDF thresholds for the distributed bootstrap: cum(k) =
# e^-1 * sum_{i<=k} 1/i!. Frozen as repr'd double literals so the SQL
# oracle parses the EXACT same doubles (decimal repr round-trips).
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
)


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key: str = "doc_id",
    n_replicates: int = 100,
    alpha: float = 0.05,
    seed: int = 19,
) -> DataFrame:
    """Percentile bootstrap confidence interval for the mean via the
    POISSON bootstrap (Chamandy et al., Google 2012 — the distributed
    bootstrap: resampling-with-replacement is unshardable, but each
    row's multiplicity in replicate b is ~Poisson(1) independently, so
    a pure map assigns every (row, replicate) an md5-drawn weight and
    the replicate means drop out of one groupBy).

    Plan shape: one explode (x n_replicates — the bounded fan-out), one
    partial-agged groupBy(replicate) producing B rows, a B-row window
    for the order statistics. Deterministic end to end: the md5 draw,
    the frozen Poisson CDF thresholds (decimal literals both engines
    parse to identical doubles), and replicate sums rounded before the
    mean division. CI bounds are exact order statistics (ceil-indexed),
    not interpolated percentiles — interpolation conventions differ
    across engines; order statistics cannot.

    Returns ONE row: (mean, ci_lo, ci_hi, n_replicates).
    """
    import math as _math

    from .dedup import ensure_parallelism

    # the x n_replicates explode + per-row md5 below is the CPU stage:
    # it inherits the scan's split count, and a single-file parquet
    # would serialize 100x the corpus through one core
    base = ensure_parallelism(
        df.filter(
            F.col(value_col).isNotNull() & F.col(key).isNotNull()
        ).select(
            F.col(key).cast("string").alias("__k"),
            F.col(value_col).cast("double").alias("__x"),
        )
    )
    overall = base.agg(
        F.round(
            F.round(F.sum("__x"), 4) / F.count(F.lit(1)), 6
        ).alias("mean")
    )
    reps = base.select(
        "__k",
        "__x",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_replicates) - 1))
        ).alias("__b"),
    )
    h = F.md5(
        F.concat_ws(
            ":", F.col("__k"), F.col("__b").cast("string"), F.lit(str(seed))
        )
    )
    u = F.conv(F.substring(h, 1, _HASH_HEX_CHARS), 16, 10).cast(
        "bigint"
    ) / F.lit(_HASH_SPACE)
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        reps.withColumn("__w", w)
        .groupBy("__b")
        .agg(
            F.round(F.sum(F.col("__w") * F.col("__x")), 4).alias("__s"),
            F.sum("__w").alias("__n"),
        )
        .select(
            F.when(
                F.col("__n") > 0, F.round(F.col("__s") / F.col("__n"), 6)
            ).alias("__m")
        )
    )
    rk = F.row_number().over(Window.orderBy("__m"))
    ranked = means.withColumn("__r", rk)
    lo_idx = _math.ceil(alpha / 2 * n_replicates)
    hi_idx = _math.ceil((1 - alpha / 2) * n_replicates)
    lo = ranked.filter(F.col("__r") == lo_idx).select(
        F.col("__m").alias("ci_lo")
    )
    hi = ranked.filter(F.col("__r") == hi_idx).select(
        F.col("__m").alias("ci_hi")
    )
    return (
        overall.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .withColumn("n_replicates", F.lit(int(n_replicates)))
    )


def weighted_reservoir(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Weighted sample-without-replacement of ``k`` rows by the
    Efraimidis–Spirakis A-ES scheme: each row draws a deterministic
    uniform u from the md5 of its key and competes with priority
    ln(u)/w — the k largest priorities are EXACTLY a weighted
    reservoir sample, and because u is a pure function of the key the
    sample is reproducible across runs, partitionings, and engines
    (the split_hash_u property, shifted by +0.5/2^32 so u is strictly
    inside (0,1) and ln never sees 0). Rows with non-positive or NULL
    weight are excluded (they have no sampling mass).

    Scale shape: priority is a zero-shuffle column expression over the
    scan; top-k compiles to TakeOrderedAndProject (per-partition heap
    + driver merge of k rows — never a global sort). Ordering uses the
    9-dp ROUNDED priority with the key as tiebreak, so the boundary at
    rank k cannot flip on a 1-ulp ln() difference between engines.

    Returns (key, weight, priority) ordered best-first.
    """
    h = F.md5(
        F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed)))
    )
    u = (
        F.conv(F.substring(h, 1, _HASH_HEX_CHARS), 16, 10).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(_HASH_SPACE)
    w = F.col(weight_col).cast("double")
    pri = F.round(F.log(u) / w, 9)
    return (
        df.filter(w > 0)
        .select(
            F.col(key_col),
            w.alias("weight"),
            pri.alias("priority"),
        )
        .orderBy(F.col("priority").desc(), F.col(key_col).asc())
        .limit(int(k))
    )


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    seed: int = 42,
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic k-fold assignment by content hash — the
    cross-validation counterpart of :func:`hash_split`: fold =
    floor(u·k) with u the engine-portable md5 draw on ``id_col`` (or
    on ``group_col`` for LEAKAGE-SAFE folds: every row of a group —
    all docs from one domain, all events of one user — lands in the
    SAME fold, so no fold ever trains on its own test group's
    siblings). Stable under row order, partition count, and corpus
    growth; a row keeps its fold forever. Returns the input plus a
    ``fold`` column in [0, k).

    Zero shuffles: one md5 projection, pure codegen.
    """
    if k < 2:
        raise ValueError("kfold_assign: need k >= 2")
    key = group_col if group_col is not None else id_col
    u = split_hash_u(key, seed=seed)
    return df.withColumn(
        "fold", F.floor(u * F.lit(float(k))).cast("int")
    )


def kfold_profile(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    seed: int = 42,
    group_col: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-fold balance audit over :func:`kfold_assign`: (fold, n_rows,
    share[, weight_sum, weight_share]) — the check that the hash draw
    actually balanced the folds (and, with ``weight_col``, that no
    fold hoards the heavy rows). Ordered by fold; k rows.

    ONE partial-agged groupBy(fold) — the only shuffle, k cells.
    """
    folded = kfold_assign(df, id_col, k, seed, group_col)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    if weight_col is not None:
        aggs.append(
            F.round(F.sum(F.col(weight_col).cast("double")), 4)
            .alias("weight_sum")
        )
    per = folded.groupBy("fold").agg(*aggs)
    glob_aggs = [F.sum("n_rows").alias("__n")]
    if weight_col is not None:
        glob_aggs.append(F.sum("weight_sum").alias("__w"))
    glob = per.agg(*glob_aggs)
    out = per.crossJoin(F.broadcast(glob)).select(
        "fold",
        "n_rows",
        F.round(F.col("n_rows").cast("double") / F.col("__n"), 6).alias(
            "share"
        ),
        *(
            [
                "weight_sum",
                F.round(F.col("weight_sum") / F.col("__w"), 6).alias(
                    "weight_share"
                ),
            ]
            if weight_col is not None
            else []
        ),
    )
    return out.orderBy("fold")
