"""Every arm of every size-gated graph operator gives the same answer.

The four loop operators have three arms: the driver arm, the broadcast
loop, and the join loop (the vertex state shuffle-joined, forced here by
a zero broadcast cut). ``jaccard_link_prediction`` has the driver arm
and the distributed wedge plan. ``small_graph_max=0`` forces the
distributed arm. Each arm runs on graphs holding null-endpoint rows,
self-loops and duplicate edges, and must equal the operator's driver
kernel run here on the normalised edge list.
"""

import logging
import random
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdataframe_spark.operators import graph
from mdataframe_spark.operators.baskets import (
    _jaccard_driver,
    _k_core_driver,
    _label_propagation_driver,
    _pagerank_driver,
    _round_half_up,
    jaccard_link_prediction,
    k_core,
    label_propagation,
    pagerank,
)
from mdataframe_spark.operators.dedup import _components_driver, connected_components

# one 50-vertex graph holding every case: a triangle with a tail, whose
# edges also come duplicated and reversed; two triangles bridged, with
# a pendant chain; a hub (degree 4, above jaccard's max_degree) with a
# self-loop, whose leaf 53 links to the tail; vertex 55, whose only
# edge is a self-loop; two null-endpoint rows, one of them vertex 60's
# only edge; and a 30-long path
GRAPH = [
    (1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 1), (1, 2), (5, 4),
    (11, 12), (12, 13), (11, 13), (20, 21), (21, 22), (20, 22), (13, 20),
    (22, 30), (30, 31),
    (50, 51), (50, 52), (50, 53), (50, 54), (51, 52), (50, 50), (53, 5),
    (55, 55), (None, 4), (60, None),
] + [(i, i + 1) for i in range(100, 130)]
STRINGS = [
    ("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y"), ("doc-z", None),
]

OPS = {
    "connected_components": (connected_components, {}),
    "pagerank": (pagerank, {}),
    "k_core": (k_core, {"k": 2}),
    "label_propagation": (label_propagation, {"rounds": 4}),
    "jaccard_link_prediction": (
        jaccard_link_prediction, {"max_degree": 3, "top_k": 100}
    ),
}
# ops whose documented output order both arms must keep
ORDERED = {"k_core", "label_propagation", "jaccard_link_prediction"}
LOOP_ARMS = ["driver arm", "broadcast loop", "join loop"]
CASES = [
    (op, arm) for op in OPS if op != "jaccard_link_prediction" for arm in LOOP_ARMS
] + [("jaccard_link_prediction", arm) for arm in ("driver arm", "wedge plan")]


def _graphs(op):
    graphs = {"graph": GRAPH}
    if op == "connected_components":
        graphs["strings"] = STRINGS
    return graphs


def _run(spark, op, pairs, **kw):
    fn, params = OPS[op]
    vtype = "STRING" if isinstance(pairs[0][0], str) else "BIGINT"
    df = spark.createDataFrame(pairs, f"id_a {vtype}, id_b {vtype}")
    rows = [tuple(r) for r in fn(df, **params, **kw).collect()]
    return rows if op in ORDERED else sorted(rows)


def _expected(op, pairs):
    """The driver kernel on the normalised edge list, built here: null
    rows dropped, one (min, max) row per edge, self-loops kept only for
    CC and pagerank."""
    loops = op in ("connected_components", "pagerank")
    e = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in pairs
            if None not in (a, b) and (loops or a != b)
        }
    )
    x, y = [a for a, _ in e], [b for _, b in e]
    if op == "connected_components":
        return sorted(_components_driver(e).items())
    if op == "pagerank":
        ranks = _pagerank_driver(e, iterations=5, damping=0.85, iter_decimals=9)
        return sorted((v, _round_half_up(r, 6)) for v, r in ranks.items())
    if op == "k_core":
        uniq, alive, deg = _k_core_driver(np.array(x + y), np.array(y + x), 2, 6)
        keep = alive & (deg >= 2)
        return list(zip(uniq[keep].tolist(), deg[keep].tolist()))
    if op == "label_propagation":
        labels = _label_propagation_driver(x + y, y + x, 4)
        sizes = Counter(labels.values())
        return sorted((v, lbl, sizes[lbl]) for v, lbl in labels.items())
    return _jaccard_driver(e, 3, 100)


@pytest.fixture(scope="module")
def reference():
    return {
        (op, name): _expected(op, pairs)
        for op in OPS
        for name, pairs in _graphs(op).items()
    }


@pytest.mark.parametrize(
    "op,arm", CASES, ids=[f"{op}-{arm.replace(' ', '_')}" for op, arm in CASES]
)
def test_arms_agree(spark, reference, monkeypatch, caplog, op, arm):
    kw = {} if arm == "driver arm" else {"small_graph_max": 0}
    if arm == "join loop":
        monkeypatch.setattr(graph, "BROADCAST_EDGES_MAX", 0)
    for name, pairs in _graphs(op).items():
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=graph.__name__):
            got = _run(spark, op, pairs, **kw)
        assert got == reference[(op, name)], (op, arm, name)
        # one decision record per call, naming the arm taken
        records = [m for m in caplog.messages if m.startswith(f"{op}: ")]
        assert len(records) == 1, records
        assert records[0].startswith(f"{op}: {arm},"), records


@pytest.mark.parametrize("arm", ["driver arm", "loop"])
@pytest.mark.parametrize("op", list(OPS))
def test_empty_graph(spark, op, arm):
    """No edges (or only null-endpoint rows): every operator returns an
    empty frame on either arm."""
    fn, params = OPS[op]
    kw = {} if arm == "driver arm" else {"small_graph_max": 0}
    df = spark.createDataFrame([(None, 1)], "id_a BIGINT, id_b BIGINT")
    assert fn(df, **params, **kw).collect() == []


def test_round_half_up_matches_spark_round(spark):
    """The driver arms' rounding equals F.round on ``...5`` ties at the
    6 and 9 places the graph operators round to, where Python's round
    (half-even on the binary value) differs."""
    rng = random.Random(7)
    cases = [
        (float(f"{rng.randrange(3)}.{rng.randrange(10**p):0{p}d}5"), p)
        for p in (6, 9)
        for _ in range(200)
    ] + [(5e-07, 6), (1.5e-06, 6), (2.5e-06, 6), (2.5e-10, 9)]
    df = spark.createDataFrame(
        [(i, x) for i, (x, _) in enumerate(cases)], "i INT, x DOUBLE"
    )
    spark_rounded = {
        r.i: (r.r6, r.r9)
        for r in df.select("i", F.round("x", 6).alias("r6"), F.round("x", 9).alias("r9"))
        .collect()
    }
    for i, (x, places) in enumerate(cases):
        assert _round_half_up(x, places) == spark_rounded[i][places == 9], (x, places)
    assert any(round(x, p) != _round_half_up(x, p) for x, p in cases)


def test_reference_semantics(reference):
    """Self-loops: CC and pagerank keep vertex 55 (its only edge is a
    self-loop), the other three drop it. Null rows leave no vertex
    behind. PageRank mass sums to 1 up to the 6-dp output rounding."""
    verts = {op: {r[0] for r in reference[(op, "graph")]} for op in OPS}
    for op in ("connected_components", "pagerank"):
        assert 55 in verts[op] and 60 not in verts[op]
    for op in ("k_core", "label_propagation"):
        assert 55 not in verts[op] and 60 not in verts[op]
    # 6 peels leave the path's middle 107..123 (the early-stop case)
    assert verts["k_core"] == {
        1, 2, 3, 4, 5, 11, 12, 13, 20, 21, 22, 50, 51, 52, 53, *range(107, 124)
    }
    ranks = [r[1] for r in reference[("pagerank", "graph")]]
    assert abs(sum(ranks) - 1.0) <= len(ranks) * 5e-7
    # the hub 50 is over max_degree, so no wedge runs through it, but
    # 53 reports its original degree, hub edge included
    jac = {r[:2]: r for r in reference[("jaccard_link_prediction", "graph")]}
    assert (53, 54) not in jac and jac[(4, 53)][2:5] == (1, 2, 2)
    assert dict(reference[("connected_components", "strings")]) == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "doc-x": "doc-x", "doc-y": "doc-x",
    }
