"""Seeded input generators for the workloads.

Every generator is a pure function of its seed (numpy PCG64) and writes
parquet with pyarrow, so generation never touches Spark and never sits
inside a timer. ``ensure_inputs`` caches one directory per (workload,
seed) and writes a ``meta.json`` with the sizes and the planted truth the
output checks need.
"""
from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- de_matrix ---------------------------------------------------------
N_GENES = 5_000
SAMPLES_A = ["sampleA_1", "sampleA_2", "sampleA_3"]
SAMPLES_B = ["sampleB_1", "sampleB_2", "sampleB_3"]
DE_FRACTION = 0.1
DE_LOG2FC = 2.0
NB_DISPERSION = 0.05

# --- corpus_curation ---------------------------------------------------
BASE_DOCS = 1_000
INFLATE = 2
COPY_ID_OFFSET = 1_000_000
CONTENT_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "agg", "key", "query", "scan", "batch", "shard", "token", "index",
    "cache", "plan", "stage", "task", "block", "page", "record", "field",
    "schema", "graph", "edge", "node", "rank", "score", "model", "train",
    "sample", "batchsize", "kernel", "buffer", "memory", "disk", "queue",
    "latency", "metric", "trace", "span", "layer", "worker",
]
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "du"],
    "zh": [],
}
# share of every non-English document's tokens drawn from the English
# stopwords (loanwords, code-switching): quality_gate counts English
# stopwords only, so without them every de/es/fr/zh document would fail
EN_STOPWORD_P = 0.08
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EXACT_DUP_FRACTION = 0.05
NEAR_DUP_FRACTION = 0.05
JUNK_FRACTION = 0.05
N_EVAL_DOCS = 200
# outlinks: every document links to 20-32 hosts of a 20k-host web; the
# host co-citation graph then has about 660k edges, above
# label_propagation's 500k small_graph_max cut
N_HOSTS = 20_000
LINKS_PER_DOC = (20, 33)

# --- basket_graph ------------------------------------------------------
N_ORDERS = 150_000
N_PARTS = 20_000
MAX_ITEMS = 7
GRAPH_COPIES = 2
ORDER_OFFSET = 100_000_000
PART_OFFSET = 1_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def gen_de_matrix(seed: int, out: Path) -> dict:
    """Negative-binomial genes x (3 vs 3) count matrix with a planted DE set."""
    rng = _rng(seed, 1)
    log_mu = rng.normal(4.0, 1.6, N_GENES)
    mu = np.exp(log_mu)
    planted = rng.permutation(np.arange(N_GENES) < int(DE_FRACTION * N_GENES))
    sign = np.where(rng.random(N_GENES) < 0.5, -1.0, 1.0)
    mu_b = mu * np.where(planted, 2.0 ** (sign * DE_LOG2FC), 1.0)
    lib = rng.uniform(0.8, 1.25, len(SAMPLES_A) + len(SAMPLES_B))
    cols = {}
    size = 1.0 / NB_DISPERSION
    for j, name in enumerate(SAMPLES_A + SAMPLES_B):
        m = (mu if j < len(SAMPLES_A) else mu_b) * lib[j]
        cols[name] = rng.negative_binomial(size, size / (size + m)).astype(np.int64)
    ids = np.array([f"g{i:05d}" for i in range(N_GENES)])
    table = pa.table({"__row_id": ids, **cols})
    pq.write_table(table, out / "counts.parquet")
    return {
        "rows": N_GENES,
        "samples": len(cols),
        "planted_ids": ids[planted].tolist(),
    }


def _doc_text(rng, lang: str, n_tok: int) -> str:
    words = rng.choice(CONTENT_WORDS, n_tok)
    sw = STOPWORDS[lang]
    if sw:
        mask = rng.random(n_tok) < 0.25
        words[mask] = rng.choice(sw, int(mask.sum()))
    if lang != "en":
        mask = rng.random(n_tok) < EN_STOPWORD_P
        words[mask] = rng.choice(STOPWORDS["en"], int(mask.sum()))
    return " ".join(words)


def gen_corpus(seed: int, out: Path) -> dict:
    """``BASE_DOCS`` documents with planted exact and near duplicates and
    junk, inflated x``INFLATE`` by copies with id offsets and a seeded
    salt prefix per copy (copies are near-dups of each other, not exact
    dups), plus a small eval set sharing some text with the corpus and
    an outlink table: (doc_id, host) rows, 20-32 random hosts per
    document."""
    rng = _rng(seed, 2)
    # exact per-language and per-kind counts, shuffled: the seed changes
    # the text, not how much work each stage gets
    langs = rng.permutation(np.repeat(LANGS, np.round(np.array(LANG_P) * BASE_DOCS).astype(int)))
    sources = [f"src{i}" for i in rng.permutation(np.arange(BASE_DOCS) % N_SOURCES)]
    n_junk, n_exact, n_near = (int(f * BASE_DOCS) for f in
                               (JUNK_FRACTION, EXACT_DUP_FRACTION, NEAR_DUP_FRACTION))
    kinds = np.array(["doc"] * BASE_DOCS, dtype=object)
    kinds[:n_junk] = "junk"
    kinds[n_junk:n_junk + n_exact] = "exact"
    kinds[n_junk + n_exact:n_junk + n_exact + n_near] = "near"
    kinds[1:] = rng.permutation(kinds[1:])  # the first document is an original
    texts = []
    for i in range(BASE_DOCS):
        if kinds[i] == "junk":
            texts.append(" ".join(["#..."] * int(rng.integers(3, 20))))
        elif kinds[i] == "exact":
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif kinds[i] == "near":
            words = texts[int(rng.integers(0, len(texts)))].split()
            k = int(rng.integers(0, len(words)))
            words[k] = str(rng.choice(CONTENT_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng, langs[i], int(rng.integers(55, 140))))
    salts = rng.integers(0, 1 << 30, INFLATE)
    doc_id, text, lang, source = [], [], [], []
    for c in range(INFLATE):
        prefix = f"copy{c}x{salts[c]:x}"
        doc_id.append(np.arange(BASE_DOCS, dtype=np.int64) + c * COPY_ID_OFFSET)
        text.extend(f"{prefix} {t}" for t in texts)
        lang.extend(langs)
        source.extend(sources)
    text_arr = pa.array(text, pa.string())
    docs = pa.table(
        {
            "doc_id": np.concatenate(doc_id),
            "text": text_arr,
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pc.utf8_length(text_arr).cast(pa.int64()),
        }
    )
    pq.write_table(docs, out / "documents.parquet")
    picks = rng.integers(0, BASE_DOCS, N_EVAL_DOCS)
    eval_text = [
        texts[p] if k % 2 == 0 else _doc_text(rng, "en", 60)
        for k, p in enumerate(picks)
    ]
    pq.write_table(
        pa.table({"eval_id": np.arange(N_EVAL_DOCS, dtype=np.int64), "text": eval_text}),
        out / "eval.parquet",
    )
    n_links = rng.integers(*LINKS_PER_DOC, docs.num_rows)
    links = pa.table({
        "doc_id": np.repeat(docs["doc_id"].to_numpy(), n_links),
        "host": rng.integers(0, N_HOSTS, int(n_links.sum())).astype(np.int64),
    })
    pq.write_table(links, out / "links.parquet")
    return {"rows": docs.num_rows, "eval_rows": N_EVAL_DOCS, "inflate": INFLATE,
            "near_dups": n_near, "link_rows": links.num_rows}


def gen_baskets(seed: int, out: Path) -> dict:
    """Lineitem-like (order, part) rows: ``N_ORDERS`` baskets of 1..7
    parts from a ``N_PARTS`` catalog, in ``GRAPH_COPIES`` disjoint copies
    (order and part ids offset per copy, the offsets drawn from the
    seed)."""
    rng = _rng(seed, 3)
    sizes = rng.integers(1, MAX_ITEMS + 1, N_ORDERS)
    orders = np.repeat(np.arange(N_ORDERS, dtype=np.int64), sizes)
    parts = rng.integers(0, N_PARTS, len(orders)).astype(np.int64)
    base = int(rng.integers(1, 1000))
    ok, pk = [], []
    for c in range(GRAPH_COPIES):
        ok.append(orders + (base + c) * ORDER_OFFSET)
        pk.append(parts + (base + c) * PART_OFFSET)
    table = pa.table({"l_orderkey": np.concatenate(ok), "l_partkey": np.concatenate(pk)})
    pq.write_table(table, out / "lineitem.parquet")
    return {"rows": table.num_rows, "orders": N_ORDERS * GRAPH_COPIES}


TABLES = {
    "de_matrix": ["counts"],
    "corpus_curation": ["documents", "eval", "links"],
    "basket_graph": ["lineitem"],
}
GENERATORS = {
    "de_matrix": gen_de_matrix,
    "corpus_curation": gen_corpus,
    "basket_graph": gen_baskets,
}


def ensure_inputs(root: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """Generate ``workload``'s inputs for ``seed`` once; reuse after."""
    d = root / f"{workload}-{seed}"
    meta_path = d / "meta.json"
    if meta_path.exists():
        return d, json.loads(meta_path.read_text())
    tmp = root / f".tmp-{workload}-{seed}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = GENERATORS[workload](seed, tmp)
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, meta
