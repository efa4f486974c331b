"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Engine extensions for training-data pipelines (the reference has no
dedup surface; exact dedup maps to ``dropDuplicates``, SURVEY.md §2.7).
Every operator is expressed with built-in column functions + joins so
the heavy lifting (shingle explode, bucket pairing) is shuffle-parallel
and AQE-managed. No Python UDFs anywhere in the hot path.

Scale shape:
- exact/fingerprint dedup: one groupBy on a hash — the cheapest pass.
- MinHash/LSH: explode shingles → per-doc signature (one groupBy) →
  (band, key) rows → capped bucket arrays (one groupBy on the key) →
  member pairs exploded per bucket. The standard sub-quadratic near-dup
  plan: candidates are only generated within buckets. SimHash, SRP,
  q-gram and basket pairing share the same kernel (capped_buckets +
  bucket_pairs).
- SimHash: 64-bit signature from token hashes (bit-vote aggregation),
  Manku multi-table blocks (default 4 × 16-bit chunks; pigeonhole:
  hamming ≤ 3 ⇒ ≥1 equal chunk).
- n-gram Jaccard: exact verification on candidate pairs via a shingle
  equi-join — used standalone on small blocks or as the LSH verify
  stage.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .graph import EdgeTable
from .text import normalize_text

# Intermediates persisted by the candidate-pair builders (keyed bucket
# tables read by both the df-cap count and the pairing aggregation)
# register with the engine-wide cache registry; call release_caches()
# after the consuming action to free executor memory between pipelines.
from ..cache import persist_tracked as _persist_tracked  # noqa: E402
from ..cache import release_caches  # noqa: E402,F401  (re-export)


# Document-frequency cap for candidate generation. A bucket
# with B members yields B(B-1)/2 candidate pairs; a single boilerplate
# k-gram/band shared by 10^6 documents would create ~5*10^11 pairs in
# one bucket — AQE skew-split spreads that work but cannot shrink the
# pair count. Standard practice in web-scale dedup (CC-NET / Gopher
# pipelines): drop keys above a frequency cap before pairing; such keys
# carry almost no dedup signal (they match everything). 10^4 members
# still allows ~5*10^7 pairs per bucket — far above anything a real
# near-dup cluster produces, so recall loss is negligible.
DEFAULT_DF_CAP = 10_000

import logging  # noqa: E402

_log = logging.getLogger(__name__)


def cap_hot_keys(df: DataFrame, key_cols, cap: int, label: str = "key") -> DataFrame:
    """Drop rows whose join key is shared by more than ``cap`` rows.

    One groupBy for the key frequencies + one equi-join back on the key
    (the same key the caller is about to self-join on, so the exchange
    is reused). The dropped-key count is computed in the same
    aggregation pass and LOGGED — never a silent truncation.
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = _persist_tracked(
        df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__df"))
    )
    hot = counts.agg(
        F.sum(F.when(F.col("__df") > cap, 1).otherwise(0)).alias("n_hot"),
        F.max("__df").alias("max_df"),
    ).collect()[0]
    if hot["n_hot"]:
        _log.warning(
            "cap_hot_keys: dropping %d %s key(s) with frequency > %d "
            "(hottest: %d rows) before candidate pairing",
            hot["n_hot"], label, cap, hot["max_df"],
        )
    keep = counts.filter(F.col("__df") <= cap).select(*key_cols)
    return df.join(keep, key_cols)


def capped_buckets(
    df: DataFrame, key_cols, member: Column, cap: int, label: str
) -> DataFrame:
    """Bucket-array pairing, step 1: ``(keys…, ms)``, one row per kept
    key, ``ms`` the sorted distinct members of that bucket.

    Every capped candidate generator (LSH bands, SimHash tables, SRP
    bands, q-grams, baskets) pairs bucket members this way: ONE
    partial-aggregated shuffle collects each bucket's members and
    :func:`bucket_pairs` explodes the pairs from the array — no
    self-join, no second pass over the upstream pipeline. Hot keys are
    dropped BEFORE the collect (count + join in :func:`cap_hot_keys`,
    logged once per call): a degenerate bucket (millions of identical
    docs sharing one key) must never build an unbounded array in one
    aggregation buffer, so the cap bounds the aggregation state
    (≤ ``cap`` members per bucket), not just the downstream explode.
    Trade-off vs a self-join: a bucket at the cap explodes its ~cap²/2
    pairs inside one task (a self-join + AQE skew-split would spread
    them), bounded by cap². The keyed frame is pinned first: the cap's
    count job and its keep-join both read it, and without the persist
    each would re-execute the whole upstream pipeline. array_sort
    orders a struct ``member`` by its leading field, so put the id
    first.
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    capped = cap_hot_keys(_persist_tracked(df), key_cols, cap, label)
    return capped.groupBy(*key_cols).agg(F.array_sort(F.collect_set(member)).alias("ms"))


def bucket_pairs(buckets: DataFrame, id_field: Optional[str] = None) -> DataFrame:
    """Bucket-array pairing, step 2: ``(a, b)`` for every member pair of
    each :func:`capped_buckets` bucket, kept once as b's id > a's id
    (``id_field`` names the id inside a struct member). A pair sharing
    several buckets repeats; the caller applies its distinct or count."""
    def ident(m: Column) -> Column:
        return m if id_field is None else m[id_field]

    return (
        buckets.filter(F.size("ms") >= 2)
        .select(F.explode("ms").alias("a"), F.col("ms"))
        .select(
            "a",
            F.explode(F.filter("ms", lambda x: ident(x) > ident(F.col("a")))).alias("b"),
        )
    )


# Repartition threshold for ensure_parallelism: if Catalyst's size
# estimate says the frame carries fewer than this many bytes PER CORE,
# a round-robin spread costs (at most) that much local exchange and
# buys a fully parallel downstream stage. 4 MB mirrors
# spark.sql.files.openCostInBytes — the same "too small to split
# further" constant the scan planner uses.
_SPREAD_BYTES_PER_CORE = 4 * 1024 * 1024


def ensure_parallelism(df: DataFrame, min_parts: Optional[int] = None) -> DataFrame:
    """Spread a small frame across the cores before a CPU-heavy stage.

    CPU-heavy map stages (shingle explode, hashing, per-pair dot
    products) inherit the upstream split count; a small single-row-
    group parquet yields ONE scan partition and serializes the whole
    stage on one core. The decision comes from the optimizer's size
    ESTIMATE (optimizedPlan().stats — pure driver metadata): at real
    scale the estimate is far above the threshold and this is a no-op.

    Deliberately NOT df.rdd.getNumPartitions(): under AQE, converting
    a DataFrame with shuffle stages upstream into an RDD finalizes the
    adaptive plan, which EXECUTES every upstream query stage as
    throwaway jobs — measured 3.0s per probe on a one-shuffle frame at
    sf0.1, and pipe_fineweb_recipe paid it twice (4.2s of 6.7s wall).
    """
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # py4j API drift — fall back to spreading
        est = 0
    if est < min_parts * _SPREAD_BYTES_PER_CORE:
        return df.repartition(min_parts)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group exact duplicates by content hash.

    Returns (text_hash, keep_id, n_dups): one row per distinct content,
    keep_id = the minimum id (the canonical survivor).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one row (min id) per distinct text — the applied version."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------
def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    Tokenization uses one regex pass (strip punctuation) + split on
    whitespace runs — splitting on ``\\s+`` already collapses runs, so
    the fingerprint-style collapse pass is skipped (one less full-text
    regex per document on the dedup hot path)."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(text), r"[^\w\s]", "")), r"\s+")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(grams)


# Kirsch-Mitzenmacher double hashing: k hash functions from ONE md5 per
# shingle — h_i = (h1 + i*h2) mod P with h1/h2 the two 52-bit halves of
# the digest. P prime < 2^52; i ≤ 63 keeps h1 + i*h2 < 2^58, no overflow.
# The same construction is expressible in ANSI SQL for oracles.
MINHASH_PRIME = 4503599627370449


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: (id, minhash_0..minhash_{k-1}).

    One explode + one groupBy(id): the signature aggregation is a
    map-side-combinable min, so the shuffle carries only k longs per
    doc, and each shingle is digested ONCE (k functions derived by
    double hashing from the two digest halves, not k digests).
    """
    shingled = ensure_parallelism(df).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("__shingle")
    )
    # materialize the digest once in its own projection so the two
    # substring halves share it instead of re-hashing
    digested = shingled.select(id_col, F.md5("__shingle").alias("__d"))
    hashed = digested.select(
        id_col,
        F.conv(F.substring("__d", 1, 13), 16, 10).cast("bigint").alias("__h1"),
        F.conv(F.substring("__d", 14, 13), 16, 10).cast("bigint").alias("__h2"),
    )
    aggs = [
        F.min((F.col("__h1") + F.lit(s) * F.col("__h2")) % F.lit(MINHASH_PRIME)).alias(
            f"minhash_{s}"
        )
        for s in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    df_cap: int = DEFAULT_DF_CAP,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair (id_a < id_b, distinct). Buckets with more than
    ``df_cap`` members are dropped (logged) before pairing — see
    DEFAULT_DF_CAP."""
    buckets = capped_buckets(
        band_table(signatures, id_col, num_hashes, bands),
        ["band", "key"], F.col(id_col), df_cap, "LSH band bucket",
    )
    return (
        bucket_pairs(buckets)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def lsh_pairs_against(
    new_signatures: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    df_cap: int = DEFAULT_DF_CAP,
) -> DataFrame:
    """Incremental near-dup check: candidate pairs between a NEW batch
    of documents and an EXISTING banded signature store — the
    ingestion-time complement to the batch self-join. Returns
    (new_id, corpus_id) candidate pairs; a new doc with no pair is
    clean and its bands can be appended to the store.

    ``corpus_bands`` is the persisted band table (band, key, id) built
    once by :func:`band_table` and written bucketed by (band, key) —
    then this probe is a co-located equi-join with NO shuffle of the
    corpus side, and the join cost scales with the BATCH, not the
    corpus. Hot corpus buckets beyond ``df_cap`` are skipped (logged)
    exactly like the batch path.
    """
    new_bands = band_table(new_signatures, id_col, num_hashes, bands)
    capped = cap_hot_keys(corpus_bands, ["band", "key"], df_cap, "corpus band bucket")
    return (
        new_bands.alias("n")
        .join(capped.alias("c"), ["band", "key"])
        .filter(F.col(f"n.{id_col}") != F.col(f"c.{id_col}"))
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )


def band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(band, key, id) rows from MinHash signatures — the storable /
    joinable form of the LSH index (write bucketed by (band, key) so
    probes co-locate). ``bands`` must divide ``num_hashes``: a band of
    zero rows would key every document to ``md5('')``."""
    if bands < 1 or num_hashes < bands or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must be >= 1 and divide num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    band_struct = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"minhash_{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_struct).alias("bk")
    ).select(F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), id_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: Optional[str] = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for near-duplicate pairs.

    Equi-join on shingles counts the intersection; |union| comes from
    the per-doc distinct-shingle counts. ``block_col`` restricts pairs
    to a blocking key (e.g. language) to bound the join. Quadratic only
    within a shared shingle — the standard verify stage after LSH.
    """
    sh = ensure_parallelism(df).select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("__shingle"),
    )
    # referenced three times below (both join sides + sizes): persist so
    # the shingle explode runs once. At extreme scale prefer a parquet
    # checkpoint over memory persistence — the shape is the same.
    sh = _persist_tracked(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    join_keys = ["__shingle"] + ([block_col] if block_col else [])
    l, r = sh.alias("l"), sh.alias("r")
    cond = (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    for k in join_keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    inter = (
        l.join(r, cond)
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The composed production near-dup pipeline: MinHash signatures →
    LSH band candidates → exact n-gram Jaccard verification → pairs at
    or above ``threshold``.

    Sub-quadratic end to end: only candidate pairs (same LSH bucket)
    are verified, and the verify join is restricted to the candidate
    set via a semi-join on the pair keys. Returns
    (id_a, id_b, jaccard).
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    candidates = _persist_tracked(
        lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    )
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # verify only documents that appear in some candidate pair
    involved = df.join(cand_ids, id_col, "left_semi")
    verified = ngram_jaccard_pairs(
        involved, id_col, text_col, shingle_n, threshold=0.0
    )
    return (
        verified.join(candidates, ["id_a", "id_b"], "left_semi")
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def drop_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kwargs,
) -> DataFrame:
    """Keep one representative per near-dup group: the standard
    min-id survivor rule applied over the near-dup pair graph (one
    union-find-free pass: drop any doc that pairs with a smaller id —
    correct for transitive clusters when the survivor is the group
    minimum, conservative otherwise)."""
    pairs = near_duplicates(df, id_col, text_col, threshold, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document via bit-vote aggregation.

    Tokens hash to 64 bits; each bit votes ±1; the sign of the vote sum
    is the signature bit. Expressed as 64 conditional sums in ONE
    groupBy — map-side combinable, one shuffle of 64 longs/doc. Emits
    the signature as 4 × 16-bit chunks (simhash_c0..c3) for pigeonhole
    banding.

    The token hash is PORTABLE: two 32-bit halves of md5 (bits 0-31
    from hex chars 1-8, bits 32-63 from chars 9-16), so any engine can
    reproduce the signatures exactly — the DuckDB oracle for
    dd_simhash_pairs does.  (xxhash64 would be marginally cheaper but
    is Spark-specific, which made the whole pipeline unverifiable.)
    """
    toks = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(normalize_text(F.col(text_col)), r"\s+"))
            ).alias("__tok"),
        )
        .withColumn("__md5", F.md5(F.col("__tok")))
        .withColumn("__h1", F.conv(F.substring("__md5", 1, 8), 16, 10).cast("bigint"))
        .withColumn("__h2", F.conv(F.substring("__md5", 9, 8), 16, 10).cast("bigint"))
    )

    def bit(b: int):
        src, off = ("__h1", b) if b < 32 else ("__h2", b - 32)
        return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))

    votes = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"v{b}") for b in range(bits)
    ]
    voted = toks.groupBy(id_col).agg(*votes)
    chunks = {
        f"simhash_c{c}": sum(
            (
                F.when(F.col(f"v{16 * c + i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            )
            for i in range(16)
        ).cast("int")
        for c in range(4)
    }
    return voted.withColumns(chunks).select(
        id_col, *[f"simhash_c{c}" for c in range(4)]
    )


def _bit_slice(h1, h2, start: int, width: int):
    """Bits [start, start+width) of a 64-bit value stored as two 32-bit
    halves (h1 = bits 0-31, h2 = bits 32-63), as a bigint Column.
    Pure shift/mask arithmetic — codegen'd."""
    mask = (1 << width) - 1
    if start >= 32:
        return F.shiftright(h2, start - 32).bitwiseAND(F.lit(mask))
    if start + width <= 32:
        return F.shiftright(h1, start).bitwiseAND(F.lit(mask))
    lo_w = 32 - start
    lo = F.shiftright(h1, start).bitwiseAND(F.lit((1 << lo_w) - 1))
    hi = h2.bitwiseAND(F.lit((1 << (width - lo_w)) - 1))
    return lo.bitwiseOR(F.shiftleft(hi, lo_w))


def simhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
    df_cap: int = DEFAULT_DF_CAP,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming``
    (k): candidates from the Manku et al. (WWW'07, §3) multi-table
    block design, verified by exact Hamming over the 4 chunks. Returns
    (id_a, id_b, hamming), id_a < id_b, distinct.

    The 64-bit fingerprint is split into ``n_blocks`` (m) near-equal
    blocks. Two fingerprints within distance k differ in at most k
    blocks, so they AGREE on some (m-k)-subset — one table per
    C(m, m-k) subset, match key = that subset's concatenated bits.
    Candidate generation is therefore LOSSLESS for distance <= k
    (pigeonhole, not probabilistic), which needs k < m. The default
    m = 4 is the classic banding: four tables, one 16-bit chunk each.
    Its buckets fill as N/2^16, so past ~10^8 docs the average bucket
    nears ``df_cap``; a larger m buys key width with replication — m=6,
    k=3 gives 20 tables with ~32-bit keys (occupancy O(N/2^32)) at the
    cost of C(m, m-k)× rows in the (id, key) stream, the knob Manku's
    paper tunes. Buckets with more than ``df_cap`` members are dropped
    (logged) before pairing — see DEFAULT_DF_CAP.
    """
    from itertools import combinations

    if not 0 <= max_hamming < n_blocks <= 64:
        raise ValueError("need 0 <= max_hamming < n_blocks <= 64")
    chunk_cols = [f"simhash_c{c}" for c in range(4)]
    h1 = (
        F.col(chunk_cols[0]).cast("bigint")
        .bitwiseOR(F.shiftleft(F.col(chunk_cols[1]).cast("bigint"), 16))
    )
    h2 = (
        F.col(chunk_cols[2]).cast("bigint")
        .bitwiseOR(F.shiftleft(F.col(chunk_cols[3]).cast("bigint"), 16))
    )
    bounds = [round(64 * i / n_blocks) for i in range(n_blocks + 1)]
    blocks = [
        (bounds[i], bounds[i + 1] - bounds[i]) for i in range(n_blocks)
    ]
    tables = list(combinations(range(n_blocks), n_blocks - max_hamming))
    entries = []
    for tid, combo in enumerate(tables):
        key = None
        for bi in combo:
            start, width = blocks[bi]
            val = _bit_slice(h1, h2, start, width)
            key = val if key is None else F.shiftleft(key, width).bitwiseOR(val)
        entries.append(
            F.struct(F.lit(tid).alias("band"), key.alias("key"))
        )
    keyed = signatures.select(
        F.struct(F.col(id_col), *chunk_cols).alias("m"),
        F.explode(F.array(*entries)).alias("bk"),
    ).select("m", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    buckets = capped_buckets(
        keyed, ["band", "key"], F.col("m"), df_cap, "SimHash table bucket"
    )
    hamming = sum(
        F.bit_count(F.col("a")[cc].bitwiseXOR(F.col("b")[cc]).cast("bigint"))
        for cc in chunk_cols
    )
    return (
        bucket_pairs(buckets, id_col)
        .select(
            F.col("a")[id_col].alias("id_a"),
            F.col("b")[id_col].alias("id_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (deterministic feature-hash + SRP-LSH bands)
# ---------------------------------------------------------------------------
FH_DIM = 64


def srp_plane_constants(n_bands: int, n_planes: int, dim: int = FH_DIM,
                        seed: int = 1042):
    """Deterministic random-hyperplane constants: every component is a
    pure function of (seed, band, plane, dim) through md5 — no RNG
    state, so the Spark plan and a SQL oracle can bake the SAME planes
    and reproduce bucket assignment bit-for-bit."""
    import hashlib

    planes = []
    for b in range(n_bands):
        band = []
        for p in range(n_planes):
            row = []
            for d in range(dim):
                h = hashlib.md5(f"{seed}:{b}:{p}:{d}".encode()).hexdigest()
                row.append(int(h[:8], 16) / float(1 << 32) - 0.5)
            band.append(row)
        planes.append(band)
    return planes


def feature_hash_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = FH_DIM,
) -> DataFrame:
    """Signed feature-hashing embedding of text (Weinberger et al.
    2009): tokens hash to one of ``dim`` buckets with a +/-1 sign, the
    document vector is the bucket-sum. Entirely built-in expressions
    (lower/split/md5/conv + one groupBy) — codegen end to end, no UDF.
    Returns (id, vec array<double>, norm); zero-token documents are
    dropped (no direction to compare)."""
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # one md5 per token (projected so both derived columns reuse it)
    hashed = tok.select(id_col, F.md5("tok").alias("h")).select(
        id_col,
        (F.conv(F.substring("h", 1, 4), 16, 10).cast("bigint") % dim).alias("dim"),
        F.when(
            F.conv(F.substring("h", 5, 1), 16, 10).cast("bigint") < 8,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)).alias("s"),
    )
    sparse = hashed.groupBy(id_col, "dim").agg(F.sum("s").alias("v"))
    dense = (
        sparse.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("dim", "v"))).alias("m"))
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: F.coalesce(F.col("m")[d.cast("bigint")], F.lit(0.0)),
            ).alias("vec"),
        )
    )
    norm = F.sqrt(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x))
    return dense.withColumn("norm", norm).filter(F.col("norm") > 0)


def srp_auto_sizing(
    n: int,
    threshold: float,
    target_bucket: int = 64,
    recall_target: float = 0.95,
):
    """Standard LSH sizing for SRP banding: (n_bands, n_planes) such
    that the expected bucket population stays ~``target_bucket`` (r =
    log2(n / target_bucket) planes, clamped to [6, 60] — bucket ids
    accumulate as 1 << p in a bigint) and at least ``recall_target``
    of true pairs at cosine ``threshold`` collide in some band
    (per-plane agreement p = 1 - acos(t)/π; band recall 1-(1-p^r)^b).
    Pure arithmetic — unit-testable without a corpus."""
    import math

    r = min(max(6, math.ceil(math.log2(max(n / target_bucket, 2.0)))), 60)
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    pr = p**r
    # the needed band count grows by ~1/p per extra plane (the AND-OR
    # tradeoff); per-band work is ~n*target_bucket so bands are cheap,
    # but cap at 256 — enough for ~10^10 docs at threshold 0.9 (r=27
    # needs ~197 bands). Past the cap recall degrades gracefully; a
    # larger target_bucket trades bucket size back for recall.
    b = 1
    while 1.0 - (1.0 - pr) ** b < recall_target and b < 256:
        b += 1
    return b, r


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "vec",
    norm_col: str = "norm",
    threshold: float = 0.9,
    n_bands="auto",
    n_planes="auto",
    seed: int = 1042,
    target_bucket: int = 64,
    recall_target: float = 0.95,
    df_cap: int = DEFAULT_DF_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-LSH banded candidate
    generation (pairs agreeing on ALL sign bits of one band's random
    hyperplanes) + exact cosine verification at ``threshold``.

    Scale shape: one bucket array per (band, bucket) — never all-pairs. A
    FIXED plane count is inherently quadratic, though: r planes give
    2^r buckets per band, so bucket population — and with it pair
    volume — grows as n²/2^r no matter how large the corpus (the r5
    SCALE.md flagged exactly this: 7.9x wall-clock at 10x input with
    r=6's 64 buckets). The ``"auto"`` defaults apply the standard LSH
    sizing instead: r = log2(n / target_bucket) keeps the EXPECTED
    bucket population constant as the corpus grows (pair work ~
    n·target_bucket·bands, sub-quadratic), and the band count is then
    the smallest b with 1-(1-p^r)^b >= recall_target at the given
    cosine threshold (p = 1 - acos(t)/π per plane). On small corpora
    the autos resolve to the legacy 6x6. Costs one count() action;
    pass explicit ints to skip it (the oracle-checked query pins 6x6
    so its SQL replay stays frozen).

    Hot (band, bucket) keys (e.g. a spike of identical embeddings) are
    capped at ``df_cap`` members before pairing — the same
    :func:`capped_buckets` kernel as the MinHash/SimHash paths; such
    buckets carry no dedup signal and would otherwise explode the pair
    count.

    The planes are deterministic (md5-derived), so results are
    reproducible across engines and runs."""
    if n_planes == "auto" or n_bands == "auto":
        n = emb.count()
        auto_b, auto_p = srp_auto_sizing(
            n, threshold, target_bucket=target_bucket, recall_target=recall_target
        )
        if n_planes == "auto":
            n_planes = auto_p
        if n_bands == "auto":
            n_bands = auto_b
    planes = srp_plane_constants(n_bands, n_planes, seed=seed)

    # Band buckets via ONE Arrow-batched pandas UDF. The natural
    # zip_with+aggregate column expression is a higher-order function —
    # CodegenFallback, evaluated INTERPRETED per row — and with
    # bands*planes*dim lambda evaluations per vector it dominated
    # wall-clock (measured: the 6x6 signature+verify pipeline spent
    # ~50s of a 58s run inside interpreted folds at 20k vectors).
    # The UDF accumulates each dot product SEQUENTIALLY over the
    # dimension (acc += v[d]*c[d], vectorized across rows) — the exact
    # left-to-right order of the SQL fold, so bucket assignment stays
    # bit-identical to the DuckDB oracle replay.
    import numpy as np

    bands_local, planes_local = n_bands, n_planes
    planes_const = planes

    @F.pandas_udf("array<long>")
    def _srp_buckets(vs):
        import pandas as pd

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vs.to_numpy()).astype(np.float64)
        out = np.zeros((len(vs), bands_local), dtype=np.int64)
        for b in range(bands_local):
            for p in range(planes_local):
                row = planes_const[b][p]
                acc = np.zeros(len(vs), dtype=np.float64)
                for d in range(min(m.shape[1], len(row))):
                    acc = acc + m[:, d] * row[d]
                out[:, b] |= (acc >= 0).astype(np.int64) << p
        return pd.Series(list(out))

    sig = _persist_tracked(ensure_parallelism(emb.select(
        id_col, vec_col, norm_col, _srp_buckets(F.col(vec_col)).alias("__bks")
    )))
    # candidate generation on (id, band, bucket) ONLY — the 64-dim
    # vectors would otherwise ride through the bucket shuffle; the
    # verify stage joins them back once for the deduplicated candidates
    buckets = capped_buckets(
        sig.select(id_col, F.posexplode("__bks").alias("band", "bucket")),
        ["band", "bucket"], F.col(id_col), df_cap, "SRP band bucket",
    )
    cands = (
        bucket_pairs(buckets)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    va = sig.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col(norm_col).alias("na"),
    )
    vb = sig.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col(norm_col).alias("nb"),
    )
    # Exact-cosine verify, Arrow-batched for the same reason as the
    # signature stage: candidates * dim interpreted lambda evals would
    # dominate the run. Sequential per-dimension accumulation keeps
    # the double bit-identical to the SQL fold, so the >= threshold
    # boundary decides identically in both engines.
    @F.pandas_udf("double")
    def _pair_cos(va_s, vb_s, na_s, nb_s):
        import pandas as pd

        if len(na_s) == 0:
            return pd.Series([], dtype=float)
        a = np.stack(va_s.to_numpy()).astype(np.float64)
        bm = np.stack(vb_s.to_numpy()).astype(np.float64)
        acc = np.zeros(len(na_s), dtype=np.float64)
        for d in range(min(a.shape[1], bm.shape[1])):
            acc = acc + a[:, d] * bm[:, d]
        return pd.Series(acc / (na_s.to_numpy() * nb_s.to_numpy()))

    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", _pair_cos("va", "vb", "na", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# connected components (pair graph -> dedup groups)
# ---------------------------------------------------------------------------
def _components_driver(rows) -> dict:
    """Union-find (path compression, min id kept as root) over collected
    edge rows — the small-graph arm of :func:`connected_components`.
    Keeping the MIN as each union's root makes the final root of every
    vertex the component minimum, matching the distributed loop's
    min-label semantics exactly."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {v: find(v) for v in parent}


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    small_graph_max: int = 2_000_000,
) -> DataFrame:
    """Connected components of the near-dup pair graph: the step that
    turns candidate PAIRS into transitive dedup GROUPS (keep one doc
    per component). Returns ``(v, component)`` with component = the
    minimum vertex id reachable from ``v``. Rows with a null endpoint
    are dropped; a self-loop keeps its vertex as a singleton.

    Algorithm: iterative min-label propagation (label(v) <-
    min(label(v), min over neighbors)) plus one pointer-jumping step
    per round (label(v) <- label(label(v))), which doubles the
    propagation horizon per iteration — O(log diameter) rounds, the
    same idea as the large-star/small-star CC of Kiveris et al.
    (SoCC'14). Near-dup graphs are shallow (dup clusters are dense),
    so this converges in a handful of rounds; a graph that fails to
    converge within ``max_iter`` raises rather than returning partial
    labels. Each round ends in one exact changed-vertex count, the
    fixpoint witness.

    Id-type-generic: vertex ids may be any orderable atomic type —
    min-label propagation needs only an ordering, so string doc ids
    work unchanged (components are labeled by their lexicographic-min
    member). Mixed integral widths (int vs bigint) widen safely to
    bigint; any other type mismatch raises rather than letting an
    implicit cast null ids out silently.

    A graph of <= ``small_graph_max`` undirected edges is solved by a
    driver union-find (min id as root: identical labels by
    construction); see :mod:`.graph` for the arms.
    """
    g = EdgeTable(
        pairs, id_a, id_b, "connected_components", small_graph_max, self_loops=True
    )
    if g.arrays is not None:
        x, y = g.arrays
        labels_map = _components_driver(zip(x.tolist(), y.tolist()))
        return g.frame(
            sorted(labels_map.items()), [("v", g.vtype), ("component", g.vtype)]
        )

    def step(s):
        lab = s.select("v", "lbl")
        nbr = (
            g.edges.join(g.bc(lab.withColumnRenamed("v", "b")), "b")
            .groupBy(F.col("a").alias("v"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        # carry the pre-round label so the fixpoint witness is a plain
        # filter+count over the checkpointed state (id-type-generic)
        stepped = lab.join(nbr, "v", "left").select(
            "v",
            F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl"),
            F.col("lbl").alias("prev"),
        )
        # pointer jump: adopt the label's own label (labels are vertex
        # ids, so the self-join always matches; coalesce is belt and
        # braces for the root vertices)
        x, y = stepped.alias("x"), stepped.alias("y")
        return x.join(g.bc(y), F.col("x.lbl") == F.col("y.v"), "left").select(
            F.col("x.v").alias("v"),
            F.coalesce(F.col("y.lbl"), F.col("x.lbl")).alias("lbl"),
            F.col("x.prev").alias("prev"),
        )

    init = (
        g.edges.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
    )
    # labels only decrease, so zero moved labels means converged
    labels = g.loop(
        init, step, max_iter,
        until=lambda s: s.filter(F.col("lbl") != F.col("prev")).count() == 0,
    )
    return labels.select("v", F.col("lbl").alias("component"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-space) deduplication
# ---------------------------------------------------------------------------
def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.95,
    n_clusters: int = 8,
    assign: str = "kmeans",
    assign_round: int = 9,
    pair_round: int = 6,
    seed: int = 42,
    pair_buckets="auto",
    argmax_arrow_threshold: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark within-cluster semantic near-duplicates
    (cosine >= ``tau``) and keep one exemplar per neighborhood.

    The reference engine has no embedding surface; this is a
    training-data extension alongside the lexical dedup family above.

    Scale shape — the whole point of the cluster stage: candidate
    pairs are generated ONLY inside a cluster (equi-join on the
    cluster id), so the pair count is ~N²/K instead of N²; pick
    ``n_clusters`` ~ N/target_cluster_size to bound it. Assignment is
    a broadcast-centroid-table argmax (one N·K-row map + partial-agged
    groupBy) up to ``argmax_arrow_threshold`` centroids, and an
    Arrow-batched BLAS argmax (zero intermediate rows, zero shuffle)
    above it — see the inline comment for the cost model; the
    per-cluster self-join shuffles on the cluster id and AQE
    skew-splits hot clusters.

    ``assign="kmeans"``: Spark ML k-means centroids (production path).
    ``assign="seed"``: the K lowest-id vectors are the centroids — a
    deterministic one-pass variant whose full plan is replayable in
    ANSI SQL (used by the oracle-checked query).

    ``pair_buckets`` > 1 switches the within-cluster pair stage to a
    triangle-decomposed sub-bucketed join (pair set unchanged —
    equality-tested): each cluster's quadratic work spreads over
    B(B+1)/2 tasks instead of one, the remedy when a few hot clusters
    dominate wall-clock. The default ``"auto"`` picks by measured
    cluster-size skew (one O(K)-row count over the already-persisted
    assignment): flat when the hottest cluster's ~n²/2 cosine work is
    within 2x the mean cluster's — the decomposition's B(B+1)/2 task
    overhead buys nothing on a balanced corpus (r5 verdict, measured)
    — else the bucketed join with B sized so the hot cluster's work
    per task comes down to roughly the mean.

    Keep rule: a vector is DROPPED iff some lower-id vector in the
    same cluster is cosine >= tau (one deterministic exemplar per
    near-dup neighborhood; the paper's lowest-centroid-similarity
    choice needs a second pass and changes nothing about which
    neighborhoods collapse). ``assign_round``/``pair_round`` round the
    cosines (9dp / 6dp) so argmax and threshold decisions are stable
    across engines and partitionings.

    Returns (id, cluster, n_neardup_lower, kept).
    """
    from .similarity import cosine

    # spread the scan before the K-way argmax: the crossJoin dot
    # products pipeline into the scan's split count, and a small
    # single-row-group parquet serializes the whole assignment stage
    # on one core (no-op at real scale — see ensure_parallelism)
    v = ensure_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if assign == "seed":
        cent_rows = v.orderBy(id_col).limit(n_clusters).collect()
        centroids = [(int(r[id_col]), list(map(float, r["__v"]))) for r in cent_rows]
    elif assign == "kmeans":
        from .similarity import ivf_index

        _, cents = ivf_index(corpus, n_clusters, id_col, vec_col, seed)
        centroids = list(enumerate(cents))
    else:
        raise ValueError(f"assign must be 'seed' or 'kmeans', got {assign!r}")
    if not centroids:
        return v.select(
            F.col(id_col),
            F.lit(None).cast("bigint").alias("cluster"),
            F.lit(0).cast("bigint").alias("n_neardup_lower"),
            F.lit(True).alias("kept"),
        )
    dim = len(centroids[0][1])
    from .similarity import dot, l2_norm

    # per-vector norm computed ONCE (the dominant cost is the within-
    # cluster pair stage at ~N²/K pairs — recomputing both norms per
    # pair triples the flops for identical values: sqrt(a·a)·sqrt(b·b)
    # factored out is the same IEEE expression)
    v = v.withColumn("__n", l2_norm(F.col("__v"), dim))
    # argmax assignment. Two shapes, selected by K:
    #
    # K <= argmax_arrow_threshold — a BROADCAST centroid table, not K
    # inlined literal expressions: K unrolled dots in one projection
    # grows the codegen'd expression to K·2·dim terms (measured 3x
    # slower at K=32 than the whole pair stage). One (vec × centroid)
    # row per comparison keeps a single 2·dim-term dot expression, and
    # the argmax is a partial-aggregatable min over (-cos, cid) structs
    # (lexicographic struct order ≡ cos DESC, cid ASC — engine-stable
    # after rounding). Centroid norms are Python-side constants with
    # the same left-to-right summation order as the SQL replay.
    #
    # K > threshold — Arrow-batched numpy argmax: when n_clusters
    # scales with the corpus (K ~ N/const, the knob that keeps pair
    # work linear), the broadcast shape materializes N·K intermediate
    # rows and assignment itself turns O(N²/const) — measured 15x
    # wall-clock at 10x corpus (scripts/scale_stress.py). One BLAS
    # matmul per Arrow batch does the same N·K flops with zero
    # intermediate rows and zero shuffle, with the same (cos DESC,
    # cid ASC) tie-break (np.argmax first-max over cid-sorted columns)
    # and a HALF_UP rounding emulation. NOT claimed bit-identical to
    # the broadcast path: BLAS accumulation order differs from the SQL
    # left-to-right dot at the last ulp, and numpy's floor(|x|·s+0.5)
    # operates on the binary double while F.round goes through
    # BigDecimal's shortest-decimal repr — a cosine exactly on a
    # rounding boundary can therefore land in the other bucket. Both
    # paths are decision-identical away from those razor edges (the
    # path-equality test pins the convention); the SQL-replayable
    # oracle query always runs K <= threshold, so oracle parity never
    # depends on this path.
    import math

    spark = corpus.sparkSession
    if len(centroids) <= argmax_arrow_threshold:
        cent_df = spark.createDataFrame(
            [(int(cid), list(c), float(math.sqrt(sum(x * x for x in c)))) for cid, c in centroids],
            "cid long, ce array<double>, cnrm double",
        )
        scored = v.crossJoin(F.broadcast(cent_df)).select(
            F.col(id_col),
            "__v",
            "__n",
            F.struct(
                (-F.round(
                    dot(F.col("__v"), F.col("ce"), dim)
                    / (F.col("__n") * F.col("cnrm")),
                    assign_round,
                )).alias("d"),
                F.col("cid"),
            ).alias("__s"),
        )
        assigned = scored.groupBy(id_col).agg(
            F.min("__s").alias("__s"),
            # every replicated row of a vec carries the identical
            # vector/norm, so first() is value-deterministic here
            F.first("__v").alias("__v"),
            F.first("__n").alias("__n"),
        ).select(
            F.col(id_col), "__v", "__n", F.col("__s.cid").alias("cluster")
        )
    else:
        import numpy as np
        from pyspark.sql import types as T

        cid_arr = np.array([int(cid) for cid, _ in centroids], dtype=np.int64)
        order = np.argsort(cid_arr, kind="stable")
        cid_sorted = cid_arr[order]
        cmat = np.array([centroids[int(i)][1] for i in order], dtype=float)
        # centroid norms with the SAME left-to-right Python summation as
        # the broadcast path's literals — one less divergence source
        cnrm = np.array(
            [math.sqrt(sum(x * x for x in cmat[i])) for i in range(len(cmat))]
        )
        scale = 10.0 ** assign_round

        def _assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vm = np.array(pdf["__v"].tolist(), dtype=float)
                nrm = pdf["__n"].to_numpy(dtype=float)
                cos = (vm @ cmat.T) / (nrm[:, None] * cnrm[None, :])
                # HALF_UP (away from zero), matching Spark's F.round —
                # np.round would apply banker's rounding
                cos = np.copysign(
                    np.floor(np.abs(cos) * scale + 0.5), cos
                ) / scale
                idx = np.argmax(cos, axis=1)  # first max ≡ min cid
                out = pdf.copy()
                out["cluster"] = cid_sorted[idx]
                yield out

        schema = T.StructType(
            list(v.schema.fields) + [T.StructField("cluster", T.LongType())]
        )
        assigned = v.mapInPandas(_assign, schema)
    assigned = _persist_tracked(assigned)
    if pair_buckets == "auto":
        # skew probe: K scalars off the persisted assignment. The
        # decomposition pays B(B+1)/2 task-scheduling overhead plus
        # ~(B+1)/2x row replication, so use it only when the hottest
        # cluster's ~n²/2 pair work is well above the MEAN cluster's
        # (>2x: a balanced corpus stays flat — the r5 +11% regression
        # was bucketing overhead paying for absent skew); then size B
        # so hot work / (B(B+1)/2 tasks) comes down to ~the mean.
        sizes = [
            r["c"]
            for r in assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
        work = sum(n * n for n in sizes)
        hot = max((n * n for n in sizes), default=0)
        mean_q = work / len(sizes) if sizes else 0
        if mean_q == 0 or hot <= 2 * mean_q:
            pair_buckets = 1
        else:
            ratio = hot / mean_q
            b = 1
            while b * (b + 1) / 2 < ratio and b < 64:
                b += 1
            pair_buckets = b
    if pair_buckets > 1:
        # triangle-decomposed pair generation: sub-bucket each cluster
        # by a hash of the id into B buckets and join the (i <= j)
        # bucket-pair grid. A pair with sub-buckets (p, q), p < q, is
        # generated exactly once (low role of p × high role of q);
        # same-bucket pairs are ordered by id. The join key becomes
        # (cluster, i, j) — K·B(B+1)/2 keys instead of K, so ONE hot
        # cluster's ~n²/2 cosine evaluations spread over B(B+1)/2
        # tasks instead of one. Replication cost: each row appears
        # (B+1)/2 times per side on average.
        B = int(pair_buckets)
        sub = assigned.withColumn(
            "__sb", F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
        )
        lo = sub.select(
            F.col(id_col).alias("lo_id"),
            F.col("__v").alias("lo_v"),
            F.col("__n").alias("lo_n"),
            "cluster",
            F.col("__sb").alias("i"),
            F.explode(F.sequence(F.col("__sb"), F.lit(B - 1))).alias("j"),
        )
        hi = sub.select(
            F.col(id_col).alias("hi_id"),
            F.col("__v").alias("hi_v"),
            F.col("__n").alias("hi_n"),
            "cluster",
            F.explode(F.sequence(F.lit(0), F.col("__sb"))).alias("i"),
            F.col("__sb").alias("j"),
        )
        tri_cos = F.round(
            dot(F.col("lo_v"), F.col("hi_v"), dim)
            / (F.col("lo_n") * F.col("hi_n")),
            pair_round,
        )
        lower_dups = (
            lo.join(hi, ["cluster", "i", "j"])
            .filter(
                (F.col("i") < F.col("j"))
                | (F.col("hi_id") < F.col("lo_id"))
            )
            .filter(tri_cos >= F.lit(tau))
            .select(
                F.greatest(F.col("lo_id"), F.col("hi_id")).alias(id_col)
            )
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_neardup_lower"))
        )
    else:
        a, b = assigned.alias("a"), assigned.alias("b")
        pair_cos = F.round(
            dot(F.col("a.__v"), F.col("b.__v"), dim)
            / (F.col("a.__n") * F.col("b.__n")),
            pair_round,
        )
        lower_dups = (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")),
            )
            .filter(pair_cos >= F.lit(tau))
            .groupBy(F.col(f"a.{id_col}").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_neardup_lower"))
        )
    return (
        assigned.join(lower_dups, id_col, "left")
        .select(
            F.col(id_col),
            "cluster",
            F.coalesce(F.col("n_neardup_lower"), F.lit(0))
            .cast("bigint")
            .alias("n_neardup_lower"),
            (F.col("n_neardup_lower").isNull()).alias("kept"),
        )
    )


def choose_lsh_bands(num_hashes: int, target_jaccard: float):
    """Pick (bands, rows_per_band) for :func:`lsh_candidate_pairs` so
    the S-curve threshold sits at ``target_jaccard``.

    Two documents with Jaccard similarity s collide in at least one
    band with probability 1-(1-s^r)^b; the inflection ("threshold")
    sits near (1/b)^(1/r). This scans the divisors of ``num_hashes``
    and returns the (b, r) whose threshold is closest to the target —
    raise the target to cut candidate volume (precision), lower it to
    buy recall. Pure arithmetic; use it to parameterize the banding
    instead of hand-picking 4x4.
    """
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError("target_jaccard must be in (0, 1)")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        thr = (1.0 / b) ** (1.0 / r)
        d = abs(thr - target_jaccard)
        if best is None or d < best[0]:
            best = (d, b, r, thr)
    return {"bands": best[1], "rows_per_band": best[2], "threshold": best[3]}


# ---------------------------------------------------------------------------
# ExactSubstr: substring-level (span) deduplication, Lee et al. 2022
# ---------------------------------------------------------------------------
def duplicate_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    k: int = 8,
) -> DataFrame:
    """Maximal duplicated token spans per document — the substring-level
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed for Spark.

    Lee et al. build one suffix array over the whole corpus (single
    machine, O(corpus) RAM). The distributed shape here reaches the
    same marked spans without any all-pairs or per-pair work:

    1. every k-token window becomes an (md5(k-gram), doc, pos) row —
       a pure map-side explode;
    2. a k-gram occurring >= 2 times in the corpus (across docs or
       repeated within one) is a duplicate seed: ONE partial-agged
       groupBy on the hash, no join of document pairs, so a
       boilerplate k-gram shared by millions of docs costs exactly one
       count row (no df-cap needed — there is no pair explosion to
       cap);
    3. seed positions join back per-doc (left-semi on the hash) and
       their [pos, pos+k-1] cover intervals merge into maximal spans
       with a gaps-and-islands window PARTITIONED BY DOC (never a
       global window) — overlapping or token-adjacent intervals fuse,
       and only spans of >= min_tokens survive.

    Returns (id, span_start, span_end, span_tokens): 0-based inclusive
    token positions. Tokenization is whitespace splitting; matching is
    exact on the reconstructed k-gram string (single-space joined), so
    runs of whitespace normalize away. A doc shorter than k tokens
    yields no rows. min_tokens >= k is required (a shorter span cannot
    contain a duplicated k-gram).
    """
    _check_span_params(min_tokens, k)
    kg = _kgram_windows(docs, id_col, text_col, k)
    dup = kg.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter("c >= 2")
    seeds = kg.join(dup.select("h"), "h", "left_semi")
    return _seed_islands(seeds, k, min_tokens, id_col)


def _check_span_params(min_tokens: int, k: int) -> None:
    """Shared precondition for the batch and incremental span finders."""
    if min_tokens < k:
        raise ValueError(
            f"min_tokens ({min_tokens}) must be >= k ({k}): a span shorter "
            "than one k-gram window cannot be detected"
        )


def _kgram_windows(docs, id_col, text_col, k):
    """(id, pos, h) — one md5'd k-token window per row; pos is the
    0-based token start. Pure map-side explode, repartitioned when the
    scan is under-split (ensure_parallelism)."""
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    )
    return toks.filter(F.size("t") >= k).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - k + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, k))),
            )
        ).alias("pos", "h"),
    )


def _seed_islands(seeds, k, min_tokens, id_col):
    """Merge duplicated-window seed positions (id, pos, ...) into
    maximal per-doc spans: cover intervals [pos, pos+k-1] fuse when
    overlapping or token-adjacent (gaps-and-islands, windows
    PARTITIONED BY DOC), then the length filter applies."""
    seeds = seeds.select(
        "id", F.col("pos").alias("s"), (F.col("pos") + k - 1).alias("e")
    )
    w = Window.partitionBy("id").orderBy("s")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = seeds.withColumn(
        "new_island",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("id", "island")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .withColumn("span_tokens", F.col("span_end") - F.col("span_start") + 1)
        .filter(F.col("span_tokens") >= min_tokens)
        .select(
            F.col("id").alias(id_col), "span_start", "span_end", "span_tokens"
        )
    )


def kgram_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Corpus k-gram count table (h, c) — the stored side of the
    incremental substring-dedup probe (:func:`duplicate_spans_against`).
    Write it bucketed on ``h`` (sources.write_bucketed_table) and the
    probe's joins read the store co-located, with NO corpus-side
    exchange — the same ingestion-time pattern as the LSH band store
    (:func:`lsh_pairs_against`)."""
    return (
        _kgram_windows(docs, id_col, text_col, k)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def duplicate_spans_against(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    k: int = 8,
) -> DataFrame:
    """Incremental ExactSubstr: duplicated spans in a NEW batch of
    documents, measured against an EXISTING corpus k-gram index
    (:func:`kgram_index`) plus the batch itself — the ingestion-time
    complement to the batch pass, costing O(batch), not O(corpus).

    A window is a duplicate seed if its k-gram occurs anywhere in the
    stored corpus (count >= 1 there) OR at least twice within the
    batch. Matches the batch pass exactly when the index was built
    from the union (cumulative counts >= 2). The corpus side is only
    probed (left-semi on the hash); a clean batch appends its own
    kgram_index increment to the store.

    Plan shape: the k-gram explode is pinned and consumed twice (the
    within-batch count and ONE left-semi join against the unioned
    corpus-hash + batch-dup-hash set) — no per-source join pair and no
    (id, pos) dedup exchange.
    """
    _check_span_params(min_tokens, k)
    kg = _persist_tracked(_kgram_windows(new_docs, id_col, text_col, k))
    batch_dup = kg.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter("c >= 2")
    dup_h = corpus_index.select("h").unionByName(batch_dup.select("h"))
    seeds = kg.join(dup_h, "h", "left_semi")
    return _seed_islands(seeds, k, min_tokens, id_col)


def remove_duplicate_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    k: int = 8,
) -> DataFrame:
    """Rebuild each document's text with its duplicated spans (from
    :func:`duplicate_substring_spans`) cut out — Lee et al. 2022's
    training-data treatment. Every occurrence of a marked span is
    removed (the practical convention for boilerplate; keeping one
    canonical copy would need a cross-doc election for no training
    benefit). Docs with nothing marked pass through with normalized
    whitespace. Per-doc work only: the covered positions explode from
    the span frame (bounded by doc length) and the surviving tokens
    reassemble with one window sort per doc."""
    # internal join key uses a dunder alias: a bare "id" alias would
    # make the final drop("id") remove a CALLER column named id too
    # (DataFrame.drop drops every column with that name).
    spans = duplicate_substring_spans(docs, id_col, text_col, min_tokens, k)
    covered = spans.select(
        F.col(id_col).alias("__rds_id"),
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    ).distinct()
    toks = docs.select(
        F.col(id_col).alias("__rds_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    )
    kept = toks.join(covered, ["__rds_id", "pos"], "left_anti")
    # reassembly is one partial-agged groupBy + an in-array sort —
    # O(L log L) per doc. (A collect_list window over the full frame
    # would materialize the whole token array on EVERY row first:
    # O(L²) buffer per doc, an OOM for book-length documents.)
    rebuilt = kept.groupBy("__rds_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("__clean")
    )
    return (
        docs.join(rebuilt, docs[id_col] == rebuilt["__rds_id"], "left")
        .withColumn(text_col, F.coalesce(F.col("__clean"), F.lit("")))
        .drop("__rds_id", "__clean")
    )


def cross_source_ngram_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Vocabulary-overlap report between every pair of corpus groups
    (sources, crawls, snapshots): for each group pair, how many
    distinct word ``shingle_n``-grams they share, plus Jaccard and
    containment of the two shingle vocabularies. The standard audit
    before merging corpora — high containment of a small source in a
    big one means the small source is redundant; high cross-crawl
    Jaccard flags re-crawled content.

    Shape for scale: the unit of work is the DISTINCT (group, shingle)
    vocabulary, never the corpus — the explode is collapsed by one
    distinct whose shuffle is vocab-bounded; the self-join on the
    shingle fans out at most G·(G-1)/2 rows per shingle, with G the
    number of groups (sources/crawls — tens, not millions), so pair
    counting is O(vocab · G²) with group-bounded G. Totals join back
    as a broadcast (G rows).
    """
    g = F.col(group_col).cast("string")
    grams = (
        df.select(g.alias("__g"), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("__sh"))
        .filter(F.col("__sh") != "")
        .distinct()
    )
    grams = _persist_tracked(ensure_parallelism(grams))
    totals = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    a = grams.select(F.col("__g").alias("src_a"), "__sh")
    b = grams.select(F.col("__g").alias("src_b"), "__sh")
    shared = (
        a.join(b, "__sh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    ta = totals.select(F.col("__g").alias("src_a"), F.col("__n").alias("__na"))
    tb = totals.select(F.col("__g").alias("src_b"), F.col("__n").alias("__nb"))
    out = shared.join(F.broadcast(ta), "src_a").join(F.broadcast(tb), "src_b")
    union = F.col("__na") + F.col("__nb") - F.col("shared_grams")
    return out.select(
        "src_a",
        "src_b",
        "shared_grams",
        F.round(F.col("shared_grams") / union, 6).alias("jaccard"),
        F.round(
            F.col("shared_grams") / F.least(F.col("__na"), F.col("__nb")), 6
        ).alias("containment"),
    )


def fuzzy_string_pairs(
    df: DataFrame,
    id_col: str = "id",
    str_col: str = "name",
    max_distance: int = 2,
    q: int = 3,
    df_cap: int = DEFAULT_DF_CAP,
) -> DataFrame:
    """Edit-distance string matching (entity resolution / typo-level
    near-dup): pairs of rows whose normalized strings are within
    ``max_distance`` Levenshtein edits, candidates generated by shared
    character ``q``-grams — the Gravano et al. (VLDB'01) q-gram filter,
    never an all-pairs product.

    Completeness bound (count filtering): strings of length L within k
    edits share at least L - q + 1 - k·q q-grams, so recall is exact
    whenever L > q·(k+1) - 1 for the shorter string; below that a pair
    can escape candidate generation (documented trade — same contract
    as the banded LSH recall).

    Plan shape: one (id, gram) explode (per-row array_distinct keeps a
    repeated gram from double-counting a row toward the cap); the
    capped bucket-array pairing of :func:`capped_buckets` (a
    stopword-like gram must never explode the pair count); the
    Levenshtein verify is a JVM-codegen per-pair expression. Returns
    (id_a, id_b, name_a, name_b, edit_distance), id_a < id_b, distinct.
    """
    s = F.lower(F.trim(F.col(str_col)))
    base = df.select(F.col(id_col).alias("__fid"), s.alias("__fs")).filter(
        F.length("__fs") >= q
    )
    grams = base.select(
        "__fid",
        "__fs",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("__fs") - q + 1),
                    lambda i: F.col("__fs").substr(i, F.lit(q)),
                )
            )
        ).alias("__g"),
    )
    buckets = capped_buckets(
        grams, "__g", F.struct("__fid", "__fs"), df_cap, "q-gram"
    )
    pairs = (
        bucket_pairs(buckets, "__fid")
        .select(
            F.col("a.__fid").alias("id_a"),
            F.col("b.__fid").alias("id_b"),
            F.col("a.__fs").alias("name_a"),
            F.col("b.__fs").alias("name_b"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "edit_distance", F.levenshtein("name_a", "name_b")
    ).filter(F.col("edit_distance") <= max_distance)


# ---------------------------------------------------------------------------
# dedup retention policies: what to DO with the groups
# ---------------------------------------------------------------------------
def _group_labels(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Every row labeled with its near-dup group: pair-graph vertices
    adopt their component label; documents outside the pair graph are
    singletons labeled by their own id. One left join against the
    (sparse) component frame — most docs are singletons and never
    enter the closure."""
    cc = connected_components(pairs).withColumnRenamed("v", id_col)
    return df.join(cc, id_col, "left").withColumn(
        "grp", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    decimals: int = 9,
) -> DataFrame:
    """Soft deduplication: instead of dropping near-duplicates, weight
    each document by 1/|its dedup group| so every group contributes
    ONE document's worth of training mass (the count-based
    downweighting alternative to hard removal — repeated data loses
    value, cf. data-constrained scaling studies; soft weights keep the
    diversity within the group).

    Plan shape: the component closure over the sparse pair graph + one
    group-keyed count + one join back. Weights are exact reciprocals
    of integer counts, rounded at ``decimals``. Returns
    (id, grp, group_size, weight).
    """
    lab = _group_labels(df.select(id_col), pairs, id_col)
    sizes = lab.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size")
    )
    return lab.join(sizes, "grp").select(
        id_col,
        F.col("grp").cast("bigint").alias("grp"),
        "group_size",
        F.round(F.lit(1.0) / F.col("group_size"), decimals).alias("weight"),
    )


def select_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
    keep: str = "max",
) -> DataFrame:
    """Quality-aware representative selection: per near-dup group keep
    the best-scoring document (tie-break: smallest id) — the retention
    policy that replaces connected_components' min-id convention when
    a quality signal exists (keep the LONGEST/cleanest copy, not the
    one with the smallest key).

    One per-group window bounded by group size. Returns every input
    row with (grp, is_representative); filter on the flag to apply the
    policy. ``keep`` is "max" or "min".
    """
    if keep not in ("max", "min"):
        raise ValueError(f"keep must be 'max' or 'min', got {keep!r}")
    lab = _group_labels(df.select(id_col, score_col), pairs, id_col)
    order = (
        F.col(score_col).desc() if keep == "max" else F.col(score_col).asc()
    )
    w = Window.partitionBy("grp").orderBy(order, F.col(id_col).asc())
    return lab.select(
        id_col,
        F.col("grp").cast("bigint").alias("grp"),
        score_col,
        (F.row_number().over(w) == 1).alias("is_representative"),
    )
