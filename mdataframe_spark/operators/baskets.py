"""Market-basket analytics: co-occurrence pairs with lift, and
PageRank over the resulting item graph.

The recommendation-adjacent face of the engine: "customers who bought
X also bought Y" (co-occurrence + lift) and "which items sit central
in the co-purchase network" (PageRank). Both reduce the corpus to a
model-sized item graph in one pass and are exactly replayable in SQL
(counts are integers; PageRank rounds each iteration's ranks so any
engine reproduces the fixpoint trajectory bit-for-bit).
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import persist_tracked as _persist_tracked
from .dedup import DEFAULT_DF_CAP, bucket_pairs, capped_buckets
from .graph import EdgeTable


def co_occurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    basket_cap: int = DEFAULT_DF_CAP,
    with_stats: bool = True,
    include_n_baskets: bool = False,
) -> DataFrame:
    """Item pairs co-occurring in the same basket, with support counts
    and lift = N·co(a,b) / (n(a)·n(b)) — lift > 1 means the pair
    co-occurs more than independence predicts.

    Plan shape: one (basket, item) distinct; baskets larger than
    ``basket_cap`` are dropped with a logged warning BEFORE pairing
    (one degenerate mega-basket would contribute cap² pairs); the
    capped bucket-array pairing shared with LSH
    (:func:`~.dedup.capped_buckets`) makes pair generation ONE
    partial-agged shuffle. Item totals and the basket count are one
    aggregation + one scalar probe — computed from the
    CAPPED frame, so lift's denominators describe exactly the
    population that generated the pairs (denominators from the raw
    frame would systematically deflate lift the moment any basket is
    dropped). Lift derives from integer counts with the N·co product
    in DOUBLE (int64 would overflow at 10^10 baskets).

    ``with_stats=False`` returns only (item_a, item_b, n_co) and skips
    the totals/n_baskets machinery entirely — graph consumers
    (pagerank, triangle_count) need just the edge set, and the lift
    joins cannot be pruned by Catalyst (they are inner joins).
    """
    # NO ensure_parallelism here (round-13): the scan-pipelined work is
    # a two-column projection + partial distinct (CPU-light), so the
    # spread exchange bought nothing and cost a full extra corpus
    # exchange (A/B at sf0.1: 3.4s -> 2.9s for the pair pipeline); the
    # genuinely CPU-heavy stage (bucket pairing explode) sits after the
    # groupBy shuffle and is fully parallel regardless of scan splits.
    # ONE corpus-side shuffle: the bucket frame. n_baskets and the
    # item totals both derive from it (explode(ms) reproduces the capped
    # rows exactly — the pairs are distinct, so the set IS the basket),
    # saving two more corpus-wide aggregations per call
    buckets = capped_buckets(
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        ).distinct(),
        "__b", F.col("__i"), basket_cap, "basket",
    )
    if with_stats:
        buckets = _persist_tracked(buckets)
        n_baskets = buckets.count()
        totals = buckets.select(
            F.explode("ms").alias("__i")
        ).groupBy("__i").agg(F.count(F.lit(1)).alias("__n"))
    pairs = (
        bucket_pairs(buckets)
        .groupBy(F.col("a").alias("item_a"), F.col("b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= min_count)
    )
    if not with_stats:
        return pairs
    # totals is persisted and materialized ONCE before the two
    # broadcast joins (round-14): the n_a and n_b builds run
    # CONCURRENTLY inside the final action, so without a filled cache
    # each re-ran the totals groupBy — a full pass over the persisted
    # bucket frame — and neither static exchange reuse nor AQE's stage
    # cache deduplicated them (r14 stage profile: the duplicated
    # 6-18s-CPU stage pair; aliasing tricks did not help). The count
    # is one tiny item-bounded job; at scale it trades one scalar
    # action for a whole corpus-derived pass.
    totals = _persist_tracked(totals)
    totals.count()
    ta = totals.alias("__ta")
    tb = totals.alias("__tb")
    n_a = F.col("__ta.__n")
    n_b = F.col("__tb.__n")
    out_cols = [
        F.col("item_a"),
        F.col("item_b"),
        F.col("n_co"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(
            F.lit(float(n_baskets)) * F.col("n_co") / (n_a * n_b),
            6,
        ).alias("lift"),
    ]
    if include_n_baskets:
        # expose the ALREADY-COMPUTED basket count as a constant column
        # so consumers (association_rules' support denominator) never
        # re-shuffle the corpus to recover it
        out_cols.append(F.lit(int(n_baskets)).alias("n_baskets"))
    return (
        pairs.join(F.broadcast(ta), F.col("item_a") == F.col("__ta.__i"))
        .join(F.broadcast(tb), F.col("item_b") == F.col("__tb.__i"))
        .select(*out_cols)
    )


def _round_half_up(x: float, places: int) -> float:
    """``x`` rounded as Spark's ``F.round`` rounds a double: HALF_UP on
    its shortest decimal repr. Python's ``round`` is half-even on the
    exact binary value, so the two disagree on ``...5`` ties."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _pagerank_driver(
    edge_rows, iterations: int, damping: float, iter_decimals: int
) -> dict:
    """Driver arm of :func:`pagerank`: the same trajectory (identical
    per-round rounding) over collected edges. Neighbor contributions
    accumulate in sorted order; the 9-dp round absorbs association
    noise exactly as it does between Spark's partial aggregation and
    the SQL oracle."""
    nbrs: dict = {}
    for a, b in edge_rows:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    n = len(nbrs)
    base = (1.0 - damping) / n
    ranks = {v: _round_half_up(1.0 / n, iter_decimals) for v in nbrs}
    deg = {v: len(ns) for v, ns in nbrs.items()}
    for _ in range(iterations):
        ranks = {
            v: _round_half_up(
                base
                + damping * sum(ranks[u] / deg[u] for u in sorted(ns)),
                iter_decimals,
            )
            for v, ns in nbrs.items()
        }
    return ranks


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 5,
    damping: float = 0.85,
    iter_decimals: int = 9,
    small_graph_max: int = 2_000_000,
) -> DataFrame:
    """PageRank over an UNDIRECTED pair graph, fixed iteration count —
    centrality scoring for item/near-dup graphs (which product anchors
    the co-purchase network; which document is the hub of a dup
    cluster).

    r_{k+1}(v) = (1−d)/N + d·Σ_{u∈nbr(v)} r_k(u)/deg(u), with each
    round's ranks rounded to ``iter_decimals`` — the ml_kmeans_lloyd
    convention that makes the whole trajectory engine-exact, so a SQL
    engine replays all ``iterations`` rounds bit-for-bit (fixed
    iterations, not convergence detection: no driver round-trips at
    all). Undirected edges mean no dangling vertices by construction
    (every vertex has degree >= 1); a self-loop counts once in its
    vertex's degree, and rows with a null endpoint are dropped.

    Arms (see :mod:`.graph`): a graph of <= ``small_graph_max``
    undirected edges runs the trajectory on the driver; otherwise each
    round is one edge join against the (broadcast) rank table + one
    vertex-keyed sum. Returns (v, rank) with rank rounded to 6 dp; an
    empty graph has no vertices and yields no rows.
    """
    g = EdgeTable(pairs, id_a, id_b, "pagerank", small_graph_max, self_loops=True)
    fields = [("v", g.vtype), ("rank", T.DoubleType())]
    if g.n == 0:  # (1 - d) / N is undefined for N = 0
        return g.frame([], fields)
    if g.arrays is not None:
        x, y = g.arrays
        ranks_map = _pagerank_driver(
            zip(x.tolist(), y.tolist()), iterations, damping, iter_decimals
        )
        return g.frame(
            sorted((v, _round_half_up(r, 6)) for v, r in ranks_map.items()),
            fields,
        )
    deg = g.edges.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n = deg.count()
    base = (1.0 - damping) / n

    def step(s):
        share = s.select(
            F.col("v").alias("b"), (F.col("rank") / F.col("deg")).alias("c")
        )
        contrib = (
            g.edges.join(g.bc(share), "b")
            .groupBy(F.col("a").alias("v"))
            .agg(F.sum("c").alias("in"))
        )
        rank = F.round(F.lit(base) + F.lit(damping) * F.col("in"), iter_decimals)
        return s.select("v", "deg").join(contrib, "v").select(
            "v", rank.alias("rank"), "deg"
        )

    init = deg.select(
        "v", F.round(F.lit(1.0 / n), iter_decimals).alias("rank"), "deg"
    )
    ranks = g.loop(init, step, iterations)
    return ranks.select("v", F.round("rank", 6).alias("rank"))


def triangle_count(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient over
    an UNDIRECTED pair graph — the cohesion metric for item/near-dup
    graphs (a high-coefficient vertex sits in a dense clique: a
    product bundle, a template family).

    Plan shape (the node-iterator++ orientation, Schank & Wagner
    2005): edges orient from the LOWER (degree, id) endpoint to the
    higher, so every wedge is enumerated exactly once from its
    lowest-degree corner and the wedge join fan-out is Σ outdeg² with
    outdeg ≤ O(√m) — the standard bound that keeps hub vertices from
    exploding the join (a raw a<b<c self-join fans out Σ deg² on the
    hub). One wedge join + one closing semi-shaped join + one explode
    groupBy; the graph is model-sized by construction (bounded pair
    generators). Returns (v, degree, n_triangles, clustering_coeff) —
    coefficient NULL for degree < 2.
    """
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    e = _persist_tracked(e)
    deg = _persist_tracked(
        e.select(F.col("a").alias("x"))
        .unionAll(e.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: lower (deg, id) -> higher (deg, id); ties broken by id
    da = deg.select(F.col("x").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("x").alias("b"), F.col("deg").alias("__db"))
    ed = e.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("__da"), F.col("a")) < F.struct(
        F.col("__db"), F.col("b")
    )
    oriented = _persist_tracked(
        ed.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    # wedges from each low corner; canonical (w1 < w2) kills mirror dups
    w = (
        oriented.alias("p")
        .join(oriented.alias("q"), F.col("p.src") == F.col("q.src"))
        .filter(F.col("p.dst") < F.col("q.dst"))
        .select(
            F.col("p.src").alias("corner"),
            F.col("p.dst").alias("w1"),
            F.col("q.dst").alias("w2"),
        )
    )
    closing = e.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    tris = w.join(closing, ["w1", "w2"])
    per_v = (
        tris.select(
            F.explode(F.array("corner", "w1", "w2")).alias("x")
        )
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_v, "x", "left")
        .select(
            F.col("x").alias("v"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce(F.col("n_triangles"), F.lit(0))
                    / (F.col("deg").cast("double") * (F.col("deg") - 1)),
                ),
                6,
            ).alias("clustering_coeff"),
        )
    )


def global_clustering(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Graph-level cohesion summary over an UNDIRECTED pair graph:
    global transitivity 3·T/W (triangles per wedge — "if A-B and B-C,
    how often A-C?") plus the average LOCAL clustering coefficient
    over vertices of degree ≥ 2 (Watts-Strogatz) — the two standard
    clustering numbers, which diverge exactly when hubs behave
    differently from the long tail (transitivity is wedge-weighted,
    the W-S average is vertex-weighted). Returns ONE row: (n_vertices,
    n_edges, n_triangles, n_wedges, transitivity, avg_local_cc);
    ratios NULL when the denominator is empty.

    Decomposition: everything reduces over :func:`triangle_count`'s
    per-vertex frame (degree-oriented wedge join — Σ outdeg² bounded,
    the Schank-Wagner plan), so the marginal cost over a triangle
    count is ONE aggregation of a node-bounded table: E = Σdeg/2 and
    W = Σ C(deg,2) are exact decimal sums, T = Σ n_triangles/3 exact
    by the handshake identity, and avg_local_cc sums the already-6-dp
    per-vertex coefficients with the sum rounded to 4 dp BEFORE the
    division (the welch_ttest determinism convention)."""
    per_v = triangle_count(pairs, id_a, id_b)
    dec = "decimal(38,0)"
    d = F.col("degree").cast(dec)
    acc = per_v.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(d).alias("__sdeg"),
        F.sum(d * (F.col("degree") - 1)).alias("__swedge2"),
        F.sum(F.col("n_triangles").cast(dec)).alias("__stri3"),
        F.count(F.when(F.col("degree") >= 2, 1)).alias("__ncc"),
        F.round(F.sum("clustering_coeff"), 4).alias("__scc"),
    )
    wedges = F.col("__swedge2") / 2
    tris = F.col("__stri3") / 3
    return acc.select(
        F.col("n_vertices").cast("bigint").alias("n_vertices"),
        (F.col("__sdeg") / 2).cast("bigint").alias("n_edges"),
        tris.cast("bigint").alias("n_triangles"),
        wedges.cast("bigint").alias("n_wedges"),
        F.round(
            F.when(
                wedges > 0,
                3.0 * tris.cast("double") / wedges.cast("double"),
            ),
            6,
        ).alias("transitivity"),
        F.round(
            F.when(F.col("__ncc") > 0, F.col("__scc") / F.col("__ncc")),
            6,
        ).alias("avg_local_cc"),
    )


def _jaccard_driver(edges, max_degree, top_k):
    """Driver-arm common-neighbor Jaccard over a collected edge list —
    label-identical to the distributed wedge plan (equality-tested).
    Rounds with :func:`_round_half_up`, as Spark's F.round does."""
    from collections import defaultdict

    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    keep = {v for v, ns in nbrs.items() if len(ns) <= max_degree}
    # wedges run over the KEPT subgraph, but reported degrees are the
    # ORIGINAL ones — mirroring the distributed plan, whose degree
    # table is counted before the hub filter
    adj = {v: sorted(w for w in ns if w in keep)
           for v, ns in nbrs.items() if v in keep}
    cn = defaultdict(int)
    for v, ns in adj.items():
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cn[(ns[i], ns[j])] += 1
    edge_set = {(min(a, b), max(a, b)) for a, b in edges}
    out = []
    for (x, y), c in cn.items():
        if (x, y) in edge_set:
            continue
        dx, dy = len(nbrs[x]), len(nbrs[y])
        jac = _round_half_up(c / (dx + dy - c), 6)
        out.append((x, y, c, dx, dy, jac))
    out.sort(key=lambda r: (-r[5], r[0], r[1]))
    return out[:top_k]


def jaccard_link_prediction(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_degree: int = 1000,
    top_k: int = 200,
    small_graph_max: int = 2_000_000,
    driver_wedge_max: int = 20_000_000,
) -> DataFrame:
    """Common-neighbor Jaccard link prediction over an UNDIRECTED pair
    graph: for every NON-adjacent vertex pair at distance 2, score =
    |N(x)∩N(y)| / |N(x)∪N(y)| — the classic "customers who bought
    these also bought" candidate generator. Returns the deterministic
    top-k by (score desc, x asc, y asc):
    (id_x, id_y, common_neighbors, degree_x, degree_y, jaccard).

    Plan shape: common-neighbor counting needs BOTH wedge orientations
    through the shared vertex (unlike triangle_count's one-sided
    orientation), so the wedge join fans out Σ deg(v)² — hubs above
    ``max_degree`` are dropped up front (logged cap, the df-cap
    discipline of dedup.py: a 10⁶-degree hub would contribute 10¹²
    wedges and its recommendations are meaningless anyway). Union
    size is deg(x)+deg(y)−cn computed from the degree table — never a
    neighbor-set materialization. Exact integer arithmetic end to end;
    the ratio rounds to 6 dp.

    Arms (see :mod:`.graph`): a graph of <= ``small_graph_max``
    undirected edges whose wedge fan-out Σ C(deg, 2) over non-hub
    vertices is at most ``driver_wedge_max`` runs on the driver (the
    fan-out, not the edge count, is this arm's cost: a dense graph under
    the edge cut could otherwise run for hours); otherwise the
    distributed wedge plan runs."""

    def wedges_fit(x, y):
        _, deg = np.unique(np.concatenate([x, y]), return_counts=True)
        deg = deg[deg <= max_degree]
        return int((deg * (deg - 1) // 2).sum()) <= driver_wedge_max

    g = EdgeTable(
        pairs, id_a, id_b, "jaccard_link_prediction", small_graph_max,
        self_loops=False, driver_fits=wedges_fit, plan="wedge plan",
    )
    if g.arrays is not None:
        x, y = g.arrays
        out = g.frame(
            _jaccard_driver(
                list(zip(x.tolist(), y.tolist())), max_degree, top_k
            ),
            [
                ("id_x", g.vtype),
                ("id_y", g.vtype),
                ("common_neighbors", T.LongType()),
                ("degree_x", T.LongType()),
                ("degree_y", T.LongType()),
                ("jaccard", T.DoubleType()),
            ],
        )
    else:
        out = _jaccard_wedge_plan(g.und, max_degree)
    return out.orderBy(
        F.col("jaccard").desc(), F.col("id_x").asc(), F.col("id_y").asc()
    ).limit(top_k)


def _jaccard_wedge_plan(e: DataFrame, max_degree: int) -> DataFrame:
    """Distributed arm of :func:`jaccard_link_prediction` over the
    undirected edge table ``(a, b)``: every scored candidate pair."""
    deg = _persist_tracked(
        e.select(F.col("a").alias("x"))
        .unionAll(e.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") <= max_degree)
    )
    # both directions, hub-capped via the degree semi joins
    adj = _persist_tracked(
        e.select(F.col("a").alias("v"), F.col("b").alias("w"))
        .unionAll(e.select(F.col("b").alias("v"), F.col("a").alias("w")))
        .join(deg.select(F.col("x").alias("v")), "v", "left_semi")
        .join(deg.select(F.col("x").alias("w")), "w", "left_semi")
    )
    wedges = (
        adj.alias("p")
        .join(adj.alias("q"), F.col("p.v") == F.col("q.v"))
        .filter(F.col("p.w") < F.col("q.w"))
        .select(F.col("p.w").alias("x"), F.col("q.w").alias("y"))
    )
    cn = wedges.groupBy("x", "y").agg(F.count(F.lit(1)).alias("common_neighbors"))
    # distance exactly 2: drop candidate pairs that are already edges
    cand = cn.join(
        e,
        (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")),
        "left_anti",
    )
    dx = deg.select(F.col("x"), F.col("deg").alias("degree_x"))
    dy = deg.select(F.col("x").alias("y"), F.col("deg").alias("degree_y"))
    scored = cand.join(dx, "x").join(dy, "y")
    union_size = (
        F.col("degree_x") + F.col("degree_y") - F.col("common_neighbors")
    )
    return scored.select(
        F.col("x").alias("id_x"),
        F.col("y").alias("id_y"),
        "common_neighbors",
        "degree_x",
        "degree_y",
        F.round(F.col("common_neighbors") / union_size, 6).alias("jaccard"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    basket_cap: int = DEFAULT_DF_CAP,
    top_k: int = 100,
) -> DataFrame:
    """Directed association rules from market baskets: every
    co-occurring pair (from :func:`co_occurrence_pairs`, so the same
    cap/min_count discipline) yields the two rules a→b and b→a with
    the classic trio — support = co/N, confidence = co/n(antecedent),
    lift = N·co / (n(a)·n(b)) — deterministic top-``top_k`` by lift
    (ties → antecedent, consequent). The "people who bought X also
    bought Y, and how reliably" view on top of the co-occurrence edge
    set.

    Plan shape: everything corpus-scale happens inside
    co_occurrence_pairs (ONE bucket-frame shuffle); rule direction is
    a 2× union of the pair table (pair-bounded); support/confidence
    derive from the SAME integer counts both engines see, the only
    float ops being the final rounded divisions. The basket count N
    for support rides out of co_occurrence_pairs as a constant column
    (include_n_baskets) — the same capped population lift uses, with
    no second corpus shuffle to recover it.
    """
    pairs = co_occurrence_pairs(
        df,
        basket_col,
        item_col,
        min_count=min_count,
        basket_cap=basket_cap,
        with_stats=True,
        include_n_baskets=True,
    )
    fwd = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_co",
        F.col("n_a").alias("n_ante"),
        F.col("n_b").alias("n_cons"),
        "lift",
        "n_baskets",
    )
    rev = pairs.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "n_co",
        F.col("n_b").alias("n_ante"),
        F.col("n_a").alias("n_cons"),
        "lift",
        "n_baskets",
    )
    rules = fwd.unionByName(rev).select(
        "antecedent",
        "consequent",
        "n_co",
        "n_ante",
        "n_cons",
        F.round(
            F.col("n_co") / F.col("n_baskets").cast("double"), 6
        ).alias("support"),
        F.round(F.col("n_co") / F.col("n_ante"), 6).alias("confidence"),
        "lift",
    )
    return rules.orderBy(
        F.col("lift").desc(),
        F.col("antecedent").asc(),
        F.col("consequent").asc(),
    ).limit(top_k)


def degree_assortativity(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph
    (Newman 2002): the Pearson correlation of the degrees at the two
    ends of every edge, over BOTH orientations. Positive = hubs link
    to hubs (social networks), negative = hubs link to leaves
    (catalogs, the web). Returns ONE row: (n_nodes, n_edges,
    n_directed, assortativity).

    Plan shape: edges dedupe once; degrees are one explode+groupBy
    (node-bounded); the directed edge list joins the broadcast degree
    table twice; the five moment sums accumulate in DECIMAL(38,0)
    (deg² terms scale past int64 on hub-heavy graphs — the spearman
    convention) and the coefficient is one scalar double expression
    over the exact pieces, so the oracle replays it bit-for-bit.
    Degenerate graphs (all degrees equal → zero variance) return NULL.
    """
    e = edges.select(
        F.least(F.col(a_col), F.col(b_col)).alias("__x"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("__y"),
    ).filter(F.col("__x") != F.col("__y")).distinct()
    e = _persist_tracked(e)
    deg = (
        e.select(F.col("__x").alias("__v"))
        .unionByName(e.select(F.col("__y").alias("__v")))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__d"))
    )
    directed = e.select(
        F.col("__x").alias("__s"), F.col("__y").alias("__t")
    ).unionByName(
        e.select(F.col("__y").alias("__s"), F.col("__x").alias("__t"))
    )
    ds = deg.select(F.col("__v").alias("__s"), F.col("__d").alias("__dx"))
    dt = deg.select(F.col("__v").alias("__t"), F.col("__d").alias("__dy"))
    m = (
        directed.join(F.broadcast(ds), "__s")
        .join(F.broadcast(dt), "__t")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__dx").alias("__sx"),
            F.sum("__dy").alias("__sy"),
            F.sum(F.col("__dx") * F.col("__dy")).alias("__sxy"),
            F.sum(F.col("__dx") * F.col("__dx")).alias("__sxx"),
            F.sum(F.col("__dy") * F.col("__dy")).alias("__syy"),
        )
    )
    n_nodes = deg.count()
    num = (
        F.col("__n") * F.col("__sxy").cast("double")
        - F.col("__sx").cast("double") * F.col("__sy").cast("double")
    )
    varx = (
        F.col("__n") * F.col("__sxx").cast("double")
        - F.col("__sx").cast("double") * F.col("__sx").cast("double")
    )
    vary = (
        F.col("__n") * F.col("__syy").cast("double")
        - F.col("__sy").cast("double") * F.col("__sy").cast("double")
    )
    return m.select(
        F.lit(int(n_nodes)).cast("bigint").alias("n_nodes"),
        (F.col("__n") / 2).cast("bigint").alias("n_edges"),
        F.col("__n").cast("bigint").alias("n_directed"),
        F.when(
            (varx > 0) & (vary > 0),
            F.round(num / F.sqrt(varx * vary), 6),
        ).alias("assortativity"),
    )


def _k_core_driver(s_vals, t_vals, k: int, rounds: int):
    """Driver arm of :func:`k_core`: the identical fixed-round peel,
    vectorized over the collected DIRECTED edge arrays (Arrow-fetched
    numpy — ~16 bytes/edge for integer ids instead of the dict-of-sets
    the r13 arm built from Row objects, which neared multi-GB just
    under the gate). Pure integer arithmetic, so the result matches
    the distributed loop exactly (equality-tested). Round r computes
    keep = alive ∧ (degree-in-alive-subgraph ≥ k), exactly the dict
    version's keep/filter step. Returns (vertices, alive_mask,
    final_degree); the caller derives (v, core_degree) rows and the
    convergence witness."""
    uniq, codes = np.unique(
        np.concatenate([s_vals, t_vals]), return_inverse=True
    )
    n = len(uniq)
    s_codes = codes[: len(s_vals)]
    t_codes = codes[len(s_vals):]
    deg = np.bincount(s_codes, minlength=n)
    alive = np.ones(n, dtype=bool)
    for _ in range(rounds):
        keep = alive & (deg >= k)
        sub = keep[s_codes] & keep[t_codes]
        deg = np.bincount(s_codes[sub], minlength=n)
        alive = keep
    return uniq, alive, deg


def k_core(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    a_col: str = "id_a",
    b_col: str = "id_b",
    check_convergence: bool = False,
    small_graph_max: int = 2_000_000,
) -> DataFrame:
    """k-core decomposition by fixed-round peeling: repeatedly drop
    vertices whose degree in the SURVIVING subgraph is below ``k``
    (removing a leaf can demote its neighbors, hence the iteration).
    The k-core is the classic "dense backbone" extraction — spam rings
    in link graphs, the stable catalog core in co-purchase networks.
    Returns the surviving vertices after ``rounds`` peels with their
    in-core degree: (v, core_degree) ordered by v. Self-loops and rows
    with a null endpoint are dropped.

    Fixed rounds, not convergence detection (the pagerank convention):
    no driver round-trips, and a SQL engine replays the identical
    peeling schedule — everything here is INTEGER degrees, so the
    replay is exact with no rounding discipline needed at all. Peeling
    converges once no round removes a vertex; choose ``rounds`` ≥ the
    expected peel depth (each round removes at least one vertex until
    the fixed point, and real graphs fix within a few rounds —
    tests assert the fixed point on the testdata graph).

    Arms (see :mod:`.graph`): a graph of <= ``small_graph_max``
    undirected edges peels on the driver in one pass; otherwise the
    loop state is the alive-vertex set with its in-subgraph degree, and
    each round is two semi joins of the fixed edge table against the
    (broadcast) survivors + one vertex-keyed degree count.

    Degree semantics at early stopping: ``core_degree`` is the degree
    in the LAST SURVIVING SUBGRAPH (after ``rounds`` peels), not among
    the returned vertices — if the schedule stops before the peeling
    fixed point, the final ``>= k`` filter can drop a vertex whose
    edges were still counted in a surviving neighbor's degree. At the
    fixed point (which the tests assert on the testdata graph, and
    which real graphs reach within a few rounds) the filter drops
    nothing and the two readings coincide. Pass
    ``check_convergence=True`` to verify: one extra aggregate on the
    node-bounded degree frame, raising a descriptive error if any
    vertex was dropped by the final filter (i.e. ``rounds`` was too
    small for this graph).
    """
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    g = EdgeTable(
        edges, a_col, b_col, "k_core", small_graph_max, self_loops=False
    )
    if g.arrays is not None:
        x, y = g.arrays
        uniq, alive, deg = _k_core_driver(
            np.concatenate([x, y]), np.concatenate([y, x]), int(k), rounds
        )
        live = alive & (deg > 0)
        core = g.frame(
            list(zip(uniq[live].tolist(), deg[live].tolist())),
            [("v", g.vtype), ("core_degree", T.LongType())],
        )
    else:

        def degrees(e):
            return e.groupBy(F.col("a").alias("v")).agg(
                F.count(F.lit(1)).cast("bigint").alias("core_degree")
            )

        def step(s):
            keep = s.filter(F.col("core_degree") >= int(k)).select("v")
            return degrees(
                g.edges.join(g.bc(keep.withColumnRenamed("v", "a")), "a", "left_semi")
                .join(g.bc(keep.withColumnRenamed("v", "b")), "b", "left_semi")
            )

        core = g.loop(degrees(g.edges), step, rounds)
    if check_convergence:
        dropped = core.filter(F.col("core_degree") < int(k)).count()
        if dropped:
            raise ValueError(
                f"k_core: peeling did not reach its fixed point within "
                f"rounds={rounds} — the final degree filter would drop "
                f"{dropped} vertex(es) whose edges are still counted in "
                f"surviving neighbors' core_degree; raise rounds"
            )
    return core.filter(F.col("core_degree") >= int(k)).orderBy("v")


def _label_propagation_driver(s_vals, t_vals, rounds: int) -> dict:
    """Driver arm of :func:`label_propagation`: the identical
    synchronous vote over collected DIRECTED edge arrays — neighbor
    labels plus the self-vote, most-frequent wins, ties on the LOWEST
    label, all integer/exact arithmetic, so the result matches the
    distributed loop exactly (equality-tested). Returns the final
    vertex -> community map."""
    nbrs: dict = {}
    for s, t in zip(s_vals, t_vals):
        nbrs.setdefault(s, []).append(t)
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        new = {}
        for v, ns in nbrs.items():
            votes: dict = {labels[v]: 1}
            for u in ns:
                lbl = labels[u]
                votes[lbl] = votes.get(lbl, 0) + 1
            new[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    a_col: str = "id_a",
    b_col: str = "id_b",
    small_graph_max: int = 500_000,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007): every vertex starts as its own community and each round
    adopts the most frequent label among its neighbors plus itself
    (self-vote damps the 2-cycle oscillation synchronous LPA is prone
    to; ties break on the LOWEST label). Fixed ``rounds``, so the
    whole trajectory is deterministic INTEGER arithmetic — a SQL
    engine replays it exactly, no rounding discipline, no driver
    round-trips (the k_core convention). Returns (v, community,
    community_size) ordered by v. Self-loops and rows with a null
    endpoint are dropped.

    Arms (see :mod:`.graph`): a graph of <= ``small_graph_max``
    undirected edges votes on the driver in one pass (the default is
    lower than k_core's because the vote keeps a dict of neighbor
    LISTS, per-edge Python objects rather than numpy arrays);
    otherwise each round joins the (broadcast) label table to the fixed
    edge table, counts the votes in one (vertex, label) groupBy, and
    picks the winner with a lexicographic struct-min.
    """
    g = EdgeTable(
        edges, a_col, b_col, "label_propagation", small_graph_max, self_loops=False
    )
    if g.arrays is not None:
        x, y = (c.tolist() for c in g.arrays)
        labels_map = _label_propagation_driver(x + y, y + x, rounds)
        sizes = Counter(labels_map.values())
        out = g.frame(
            [(v, lbl, sizes[lbl]) for v, lbl in labels_map.items()],
            [
                ("v", g.vtype),
                ("community", g.vtype),
                ("community_size", T.LongType()),
            ],
        )
    else:

        def step(s):
            neighbor_votes = g.edges.join(
                g.bc(s.select(F.col("v").alias("b"), "l")), "b"
            ).select(F.col("a").alias("v"), "l")
            return (
                neighbor_votes.unionByName(s)
                .groupBy("v", "l")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("v")
                .agg(F.min(F.struct(-F.col("c"), "l")).alias("w"))
                .select("v", F.col("w.l").alias("l"))
            )

        init = (
            g.edges.select(F.col("a").alias("v"))
            .distinct()
            .withColumn("l", F.col("v"))
        )
        labels = g.loop(init, step, rounds)
        sizes = labels.groupBy(F.col("l").alias("community")).agg(
            F.count(F.lit(1)).cast("bigint").alias("community_size")
        )
        out = (
            labels.select("v", F.col("l").alias("community"))
            .join(g.bc(sizes), "community")
            .select("v", "community", "community_size")
        )
    return out.orderBy("v")


def degree_histogram(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Degree distribution of an undirected graph: one row per
    distinct degree with the node count, share, and the complementary
    CDF (the log-log tail every power-law eyeball check plots), plus
    the repeated Hill tail-index estimate α̂ = 1 + n_tail/Σ ln(d/d_min)
    over the top-degree tail (d ≥ the 90th-degree-percentile cut) —
    "is this graph scale-free and how heavy is the hub tail" decides
    whether skew-salting is needed BEFORE a join explodes. Ordered by
    degree. Returns (degree, n_nodes, share, ccdf, hill_alpha).

    Plan shape: edges dedupe once; ONE explode+groupBy gives degrees
    (node-bounded); a second groupBy(degree) collapses to the
    histogram (degree-values-bounded — at most a few hundred rows on
    any real graph); the CCDF is one cumulative window over it and the
    Hill sum one aggregation. No corpus-scale structure past the first
    collapse.
    """
    # persisted: the degree union reads e TWICE (both endpoints), and
    # the caller's upstream edge build (co-occurrence pair generation)
    # must not re-run per branch — the assortativity discipline
    # (review finding, round 12)
    e = _persist_tracked(
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("__x"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("__y"),
        ).filter(F.col("__x") != F.col("__y")).distinct()
    )
    deg = (
        e.select(F.col("__x").alias("__v"))
        .unionByName(e.select(F.col("__y").alias("__v")))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__d"))
    )
    hist = _persist_tracked(
        deg.groupBy(F.col("__d").alias("degree")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes")
        )
    )
    glob = hist.agg(F.sum("n_nodes").alias("__nn"))
    # Hill estimator over the tail d >= d_min, d_min = the smallest
    # degree whose CCDF is <= 0.10 (a fixed, engine-replayable cut)
    from pyspark.sql import Window as W

    wd = W.orderBy(F.col("degree").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = hist.withColumn("__ctail", F.sum("n_nodes").over(wd))
    with_tot = cum.crossJoin(F.broadcast(glob))
    dmin_tab = with_tot.filter(
        F.col("__ctail").cast("double") / F.col("__nn")
        <= 0.10 + 1e-12
    ).agg(F.min("degree").alias("__dmin"))
    hill = (
        hist.crossJoin(F.broadcast(dmin_tab))
        .filter(F.col("degree") >= F.col("__dmin"))
        .agg(
            F.sum("n_nodes").alias("__ntail"),
            F.first("__dmin").alias("__dmin"),
            F.sum(
                F.col("n_nodes")
                * F.log(
                    F.col("degree").cast("double")
                    / F.col("__dmin").cast("double")
                )
            ).alias("__slog"),
        )
    )
    alpha = F.when(
        F.col("__slog") > 0,
        1.0 + F.col("__ntail").cast("double") / F.col("__slog"),
    )
    return (
        with_tot.crossJoin(F.broadcast(hill.select(alpha.alias("__alpha"))))
        .select(
            "degree",
            "n_nodes",
            F.round(
                F.col("n_nodes").cast("double") / F.col("__nn"), 6
            ).alias("share"),
            F.round(
                F.col("__ctail").cast("double") / F.col("__nn"), 6
            ).alias("ccdf"),
            F.round(F.col("__alpha"), 6).alias("hill_alpha"),
        )
        .orderBy("degree")
    )


def reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity: the share of directed edges whose
    reverse edge also exists, r = |E ∩ Eᵀ| / |E| over the DISTINCT
    directed edge set (self-loops excluded) — the follow-back rate of
    a social graph, the mutual-link rate of a citation web; r far from
    the density predicts how much a symmetrized view inflates the
    graph. Returns ONE row: (n_edges, n_reciprocal, reciprocity).

    Plan shape: distinct directed edges once (the one corpus-scale
    structure), then ONE self-equi-join on the reversed key — edge-
    linear, shuffle on the same (src, dst) key both sides. No windows.
    """
    e = _persist_tracked(
        edges.select(
            F.col(src_col).alias("__s"), F.col(dst_col).alias("__t")
        )
        .filter(F.col("__s") != F.col("__t"))
        .filter(F.col("__s").isNotNull() & F.col("__t").isNotNull())
        .distinct()
    )
    rev = e.select(
        F.col("__t").alias("__s"), F.col("__s").alias("__t")
    )
    mut = e.join(rev, ["__s", "__t"], "left_semi").agg(
        F.count(F.lit(1)).alias("__m")
    )
    tot = e.agg(F.count(F.lit(1)).alias("__e"))
    return mut.crossJoin(F.broadcast(tot)).select(
        F.col("__e").cast("bigint").alias("n_edges"),
        F.col("__m").cast("bigint").alias("n_reciprocal"),
        F.round(
            F.when(
                F.col("__e") > 0,
                F.col("__m").cast("double") / F.col("__e"),
            ),
            6,
        ).alias("reciprocity"),
    )
