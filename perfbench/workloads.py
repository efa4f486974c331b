"""The workloads: one pass each through mdataframe_spark's public API.

A pass builds its lineage with public calls and ends in writes. Every
public call goes through ``call(layer, fn, *args)`` so the traced run
can wrap it without the pass knowing; ``layer`` names the module the
function lives in. A pass returns its written paths (plus the frames the
checks need); ``digest`` and the checks read them back outside every
timer.
"""
from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import inputs

# The size-gated graph operators (pagerank, k_core, label_propagation in
# operators.baskets; connected_components in operators.dedup) are booked
# together as "graph": the layer one shared graph kernel would replace.
LAYERS = (
    "filter", "functions.norm", "functions.differential", "functions.deseq2",
    "functions.vst", "functions.stats", "operators.text", "operators.dedup",
    "operators.sketches", "operators.datasets", "operators.baskets", "graph",
    "sources.writers",
)
ACTION_LAYERS = {"sources.writers"}
COUNT_METRICS = {
    "spark.stages_run", "spark.stages_skipped", "spark.tasks", "cache.released",
    "graph.distributed_calls", "graph.edges",
}


def unit(metric: str) -> str:
    if metric.endswith(".jobs") or metric in COUNT_METRICS:
        return "count"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_share", "_ratio")):
        return "ratio"
    return "s"


def register(spark, workload: str, input_dir: Path) -> dict:
    """Read the generated parquet into named DataFrames (part of set-up)."""
    return {
        n: spark.read.parquet(str(input_dir / f"{n}.parquet"))
        for n in inputs.TABLES[workload]
    }


# ---------------------------------------------------------------------------
# de_matrix: k-of-n filter -> TMM -> edgeR -> DESeq2 -> VST -> BH -> TSV
# ---------------------------------------------------------------------------
def de_pass(call, frames: dict, out: Path) -> dict:
    from mdataframe_spark import Filter, MFrame
    from mdataframe_spark.functions.deseq2 import DESeq2UnpairedAB
    from mdataframe_spark.functions.differential import EdgeR_Unpaired
    from mdataframe_spark.functions.norm import TMM
    from mdataframe_spark.functions.stats import bh_adjust
    from mdataframe_spark.functions.vst import VST
    from mdataframe_spark.sources.writers import write_tsv

    samples = inputs.SAMPLES_A + inputs.SAMPLES_B
    c2c = {"A": inputs.SAMPLES_A, "B": inputs.SAMPLES_B}
    idx = "__row_id"
    # at least 3 of the 6 samples with >= 10 reads
    kept = call("filter", MFrame(frames["counts"]).filter, Filter([(samples, "3>=", 10)]))
    counts = kept.df
    tmm = call("functions.norm", TMM(suffix=True), counts)
    edger = EdgeR_Unpaired("A", "B", c2c, "edger")
    er = call("functions.differential", edger, counts)
    deseq = DESeq2UnpairedAB("A", "B", c2c, "deseq2")
    dr = call("functions.deseq2", deseq, counts)
    vst = call("functions.vst", VST(), counts)
    joined = (
        er.select(idx, *edger.columns)
        .join(dr.select(idx, deseq.logFC_column, deseq.p_column, deseq.fdr_column), idx)
        .join(vst.select(idx, *[f"`{c} (VST)`" for c in samples]), idx)
        .join(tmm.select(idx, *[f"`{c} (TMM)`" for c in samples]), idx)
    )
    adjusted = call(
        "functions.stats", bh_adjust, joined, edger.p_column, "fdr_bh",
        tiebreak_cols=[idx], allow_global=True,
    )
    path = out / "de.tsv"
    call("sources.writers", write_tsv, adjusted, str(path), single_file=True)
    return {"de": path}


def _read_tsv(path: Path) -> pd.DataFrame:
    parts = [pd.read_csv(f, sep="\t") for f in sorted(path.glob("part-*"))]
    return pd.concat(parts).sort_values("__row_id").reset_index(drop=True)


def de_check(paths: dict, meta: dict, input_dir: Path) -> list[str]:
    """Planted-gene recall (at least 0.9) and false-discovery proportion
    (at most 0.1) at FDR 0.05 for edgeR and DESeq2; 0.97-0.99 and 0.02-0.045
    on the seeds tried. bh_adjust over edgeR's p-values must reproduce
    edgeR's own FDR column."""
    df = _read_tsv(paths["de"])
    planted = set(meta["planted_ids"]) & set(df["__row_id"])
    errs = []
    for name in ("edger", "deseq2"):
        called = set(df.loc[df[f"FDR ({name})"] < 0.05, "__row_id"])
        tp = len(called & planted)
        recall = tp / max(len(planted), 1)
        fdp = (len(called) - tp) / max(len(called), 1)
        if recall < 0.9:
            errs.append(f"{name}: planted recall {recall:.3f} < 0.9")
        if fdp > 0.1:
            errs.append(f"{name}: false-discovery proportion {fdp:.3f} > 0.1")
    if not np.allclose(df["fdr_bh"], df["FDR (edger)"], rtol=1e-9, atol=1e-12):
        errs.append("bh_adjust disagrees with edgeR's FDR column")
    return errs


# ---------------------------------------------------------------------------
# corpus_curation: quality gate -> exact dedup -> minhash/LSH -> near-dup
# groups (connected components, driver arm) -> domain mixture -> packing
# -> parquet shards, with bloom decontamination against an eval set; plus
# the host co-citation graph of the outlinks -> label propagation
# (distributed arm) -> host communities
# ---------------------------------------------------------------------------
MIX_WEIGHTS = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}
GATE = dict(entropy_band=(4.1, 6.0), min_tokens=10, min_stopwords=1)


def corpus_pass(call, frames: dict, out: Path) -> dict:
    from pyspark.sql import functions as F

    from mdataframe_spark.cache import persist_tracked
    from mdataframe_spark.operators import baskets, datasets, dedup, sketches, text
    from mdataframe_spark.sources.writers import write_parquet

    docs = frames["documents"]
    gated = call("operators.text", text.quality_gate, docs, **GATE)
    kept = gated.filter(F.col("keep_quality")).select(*docs.columns)
    s1 = persist_tracked(call("operators.dedup", dedup.drop_exact_duplicates, kept))
    sigs = call("operators.dedup", dedup.minhash_signatures, s1, num_hashes=16)
    pairs = call("operators.dedup", dedup.lsh_candidate_pairs, sigs, num_hashes=16, bands=4)
    comps = call("graph", dedup.connected_components, pairs)
    # keep the lowest id of each near-dup group (its component label)
    drop = comps.filter(F.col("v") != F.col("component")).select(F.col("v").alias("doc_id"))
    s2 = persist_tracked(s1.join(drop, "doc_id", "left_anti"))
    sampled = call(
        "operators.datasets", datasets.domain_mixture_sample, s2, "lang", MIX_WEIGHTS,
        0.5, token_col="n_chars", seed=11,
    )
    withtok = sampled.withColumn("n_tokens", text.token_count(F.col("text")).cast("bigint"))
    packed = call(
        "operators.datasets", datasets.pack_sequences, withtok, ["lang", "source"],
        "n_tokens", order_col="doc_id", capacity=512,
    )
    contam = call("operators.sketches", sketches.bloom_contamination, s2, frames["eval"], n=5)
    shards = packed.join(contam.select("doc_id", "bloom_contaminated"), "doc_id", "left").select(
        "doc_id", "lang", "source", "n_tokens", "bin_id", "bin_offset", "bloom_contaminated"
    )
    cocited = call(
        "operators.baskets", baskets.co_occurrence_pairs, frames["links"], "doc_id", "host",
        min_count=1, with_stats=False,
    )
    host_edges = cocited.select(F.col("item_a").alias("id_a"), F.col("item_b").alias("id_b"))
    communities = call("graph", baskets.label_propagation, host_edges)
    paths = {"shards": out / "shards", "host_communities": out / "host_communities"}
    call("sources.writers", write_parquet, shards, str(paths["shards"]), partition_by=["lang"])
    call("sources.writers", write_parquet, communities, str(paths["host_communities"]))
    return {**paths, "survivors": s1, "curated": s2,
            "graph_inputs": {"connected_components": pairs, "label_propagation": host_edges}}


def _lpa_numpy(a: np.ndarray, b: np.ndarray, rounds: int = 4) -> tuple:
    """Synchronous label propagation over an undirected edge list, as
    ``label_propagation`` defines it: each round every vertex takes the
    most frequent label among its neighbors plus its own, ties to the
    lowest label. Returns (vertices, communities, distinct edges)."""
    a, b = a[a != b], b[a != b]
    verts, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    n = len(verts)
    ia, ib = inv[: len(a)], inv[len(a):]
    und = np.unique(np.minimum(ia, ib) * n + np.maximum(ia, ib))
    x, y = und // n, und % n
    src = np.concatenate([x, y, np.arange(n)])  # both orientations + self-vote
    dst = np.concatenate([y, x, np.arange(n)])
    lbl = np.arange(n)  # labels are vertex indices; verts is sorted
    for _ in range(rounds):
        keys, counts = np.unique(src * n + lbl[dst], return_counts=True)
        v, l = keys // n, keys % n
        order = np.lexsort((l, -counts, v))
        first = np.unique(v[order], return_index=True)[1]
        lbl = l[order][first]
    return verts, verts[lbl], len(und)


def corpus_check(paths: dict, meta: dict, input_dir: Path) -> list[str]:
    """The gate + exact-dedup survivor count must equal DuckDB's, running
    the package's gate oracle SQL (``queries.TXT_GATE_SQL``) over the same
    parquet file. The near-dup step must fold every copy into one group
    (each document exists ``inflate`` times with only a salt prefix
    changed) and at most the planted near-dups on top. The shards must
    be a non-empty sample holding every mixture language. The host
    communities must equal a numpy replay of label propagation over the
    same outlink file, whose edge count must be past label_propagation's
    ``small_graph_max`` cut (so the distributed arm ran)."""
    import inspect

    import duckdb

    from mdataframe_spark.operators.baskets import label_propagation
    from mdataframe_spark.queries import TXT_GATE_SQL

    got = paths["survivors"].count()
    src = str(input_dir / "documents.parquet").replace("'", "''")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
        con.execute(
            f"CREATE TEMP TABLE kept AS SELECT doc_id FROM ({TXT_GATE_SQL}) q "
            "WHERE q.keep_quality"
        )
        want = con.execute(
            "SELECT count(DISTINCT md5(text)) FROM documents "
            "WHERE doc_id IN (SELECT doc_id FROM kept)"
        ).fetchone()[0]
    finally:
        con.close()
    errs = [] if got == want else [f"survivors {got} != duckdb {want}"]
    curated = paths["curated"].count()
    per_copy = got / meta["inflate"]
    if not per_copy - meta["near_dups"] <= curated <= per_copy:
        errs.append(f"near-dup survivors {curated} outside "
                    f"[{per_copy - meta['near_dups']:.0f}, {per_copy:.0f}]")
    shards = pq.read_table(str(paths["shards"]))
    if not 0 < shards.num_rows < curated:
        errs.append(f"shard rows {shards.num_rows} outside (0, {curated})")
    langs = set(shards["lang"].to_pylist())
    if langs != set(MIX_WEIGHTS):
        errs.append(f"shard languages {sorted(langs)} != {sorted(MIX_WEIGHTS)}")
    links = pq.read_table(str(input_dir / "links.parquet")).to_pandas().drop_duplicates()
    links = links[links.groupby("doc_id")["host"].transform("size") >= 2]
    a, b = [], []
    for hosts in links.groupby("doc_id")["host"].apply(np.sort):
        i, j = np.triu_indices(len(hosts), 1)
        a.append(hosts[i])
        b.append(hosts[j])
    verts, want_c, n_edges = _lpa_numpy(np.concatenate(a), np.concatenate(b))
    cut = inspect.signature(label_propagation).parameters["small_graph_max"].default
    if n_edges <= cut:
        errs.append(f"host graph has {n_edges} edges, not past the {cut} cut")
    comm = pq.read_table(str(paths["host_communities"])).to_pandas().sort_values("v")
    if not (np.array_equal(comm["v"].to_numpy(), verts)
            and np.array_equal(comm["community"].to_numpy(), want_c)):
        errs.append("host communities differ from the numpy label propagation")
    sizes = comm.groupby("community")["v"].transform("size")
    if not np.array_equal(comm["community_size"].to_numpy(), sizes.to_numpy()):
        errs.append("host community sizes differ from the member counts")
    return errs


# ---------------------------------------------------------------------------
# basket_graph (by hand only, see perfbench/README.md): co-occurrence
# edges above every small_graph_max cut -> pagerank, k_core, connected
# components, label propagation on their distributed arms
# ---------------------------------------------------------------------------
def graph_pass(call, frames: dict, out: Path) -> dict:
    from pyspark.sql import functions as F

    from mdataframe_spark.cache import persist_tracked
    from mdataframe_spark.operators import baskets, dedup
    from mdataframe_spark.sources.writers import write_parquet

    pairs = call(
        "operators.baskets", baskets.co_occurrence_pairs, frames["lineitem"],
        "l_orderkey", "l_partkey", min_count=1, with_stats=False,
    )
    edges = persist_tracked(
        pairs.select(F.col("item_a").alias("id_a"), F.col("item_b").alias("id_b"))
    )
    results = {
        "pagerank": call("graph", baskets.pagerank, edges),
        "k_core": call("graph", baskets.k_core, edges, k=3),
        "connected_components": call("graph", dedup.connected_components, edges),
        "label_propagation": call("graph", baskets.label_propagation, edges),
    }
    paths = {k: out / k for k in results}
    for k, df in results.items():
        call("sources.writers", write_parquet, df, str(paths[k]))
    return {**paths, "graph_inputs": {k: edges for k in results}}


def _components_numpy(a: np.ndarray, b: np.ndarray) -> int:
    """Component count of an undirected edge list: min-label propagation
    with pointer jumping, vectorized over the edges until no label moves."""
    verts, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    lbl = np.arange(len(verts))
    while True:
        m = np.minimum(lbl[ia], lbl[ib])
        nxt = lbl.copy()
        np.minimum.at(nxt, ia, m)
        np.minimum.at(nxt, ib, m)
        nxt = nxt[nxt]
        if np.array_equal(nxt, lbl):
            return len(np.unique(lbl))
        lbl = nxt


def graph_check(paths: dict, meta: dict, input_dir: Path) -> list[str]:
    """Component count against numpy over the baskets of the same
    lineitem file (every multi-item basket links its parts); PageRank
    ranks must sum to 1."""
    li = pq.read_table(str(input_dir / "lineitem.parquet")).to_pandas().drop_duplicates()
    li = li[li.groupby("l_orderkey")["l_partkey"].transform("size") >= 2]
    first = li.groupby("l_orderkey")["l_partkey"].transform("min")
    want = _components_numpy(first.to_numpy(), li["l_partkey"].to_numpy())
    got = len(np.unique(pq.read_table(str(paths["connected_components"]))["component"].to_numpy()))
    errs = [] if got == want else [f"components {got} != numpy {want}"]
    ranks = pq.read_table(str(paths["pagerank"]))["rank"].to_numpy()
    # ranks are rounded to 6 dp: allow half a unit of rounding per vertex
    if abs(ranks.sum() - 1.0) > len(ranks) * 5e-7 + 1e-9:
        errs.append(f"pagerank ranks sum to {ranks.sum():.9f}")
    return errs


PASSES = {"de_matrix": de_pass, "corpus_curation": corpus_pass, "basket_graph": graph_pass}
CHECKS = {"de_matrix": de_check, "corpus_curation": corpus_check, "basket_graph": graph_check}


def graph_edges(paths: dict) -> dict:
    """Edge rows each size-gated graph call received, by function name."""
    return {fn: df.count() for fn, df in paths.get("graph_inputs", {}).items()}


def digest(paths: dict) -> str:
    """Order-independent digest of every written output (floats to 9
    significant digits, rows sorted)."""
    h = hashlib.sha256()
    for key in sorted(k for k, p in paths.items() if isinstance(p, Path)):
        p = paths[key]
        df = _read_tsv(p) if p.suffix == ".tsv" else pq.read_table(str(p)).to_pandas()
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c].map(lambda x: float(f"{x:.9g}"))
            elif df[c].dtype.kind not in "iub":
                df[c] = df[c].astype(str)
        cols = sorted(df.columns)
        df = df[cols].sort_values(cols).reset_index(drop=True)
        h.update(key.encode())
        h.update(json.dumps(df.values.tolist()).encode())
    return h.hexdigest()[:16]
