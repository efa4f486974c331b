"""Tests for imputation, scaling, clustering, projection, sources,
checkpoint store, and the MFrame chain verbs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdataframe_spark import MFrame
from mdataframe_spark.operators.clustering import Agglo, BisectingKMeans, ClassLabel, KMeans
from mdataframe_spark.operators.impute import ImputeFixed, ImputeMeanMedian
from mdataframe_spark.operators.projection import PCA, TSNE
from mdataframe_spark.operators.scale import ColumnScaler, ZScaler
from mdataframe_spark.plans.checkpoint import CheckpointStore
from mdataframe_spark.sources import read_table_file, write_excel, write_tsv
from mdataframe_spark.sources.readers import annotate_from_file


@pytest.fixture
def null_frame(spark):
    return spark.createDataFrame(
        [("a", 1.0, None), ("b", None, 4.0), ("c", 3.0, 8.0)],
        ["__row_id", "x", "y"],
    )


def test_impute_fixed(null_frame):
    rows = {r["__row_id"]: r for r in ImputeFixed()(null_frame).collect()}
    assert rows["b"]["x"] == 0 and rows["a"]["y"] == 0
    assert rows["a"]["x"] == 1.0


def test_impute_mean_median(null_frame):
    rows = {r["__row_id"]: r for r in ImputeMeanMedian("mean")(null_frame).collect()}
    assert rows["b"]["x"] == 2.0  # mean of 1, 3
    assert rows["a"]["y"] == 6.0  # mean of 4, 8
    rows = {r["__row_id"]: r for r in ImputeMeanMedian("median")(null_frame).collect()}
    assert rows["b"]["x"] == 2.0
    with pytest.raises(ValueError):
        ImputeMeanMedian("mode")


def test_column_scaler(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], ["__row_id", "x"]
    )
    vals = sorted(r["x"] for r in ColumnScaler()(df).collect())
    np.testing.assert_almost_equal(vals, [-1.224744871, 0.0, 1.224744871], decimal=8)


def test_zscaler_rows(test_frame):
    out = ZScaler()(test_frame)
    row = {r["__row_id"]: r for r in out.collect()}["genA"]
    samples = [c for c in test_frame.columns if c != "__row_id"]
    vals = np.array([row[s] for s in samples])
    np.testing.assert_almost_equal(vals.mean(), 0.0, decimal=10)
    np.testing.assert_almost_equal(vals.std(ddof=1), 1.0, decimal=10)


def test_kmeans_labels_and_predict(test_frame):
    km = KMeans(n_clusters=2)
    out = km(test_frame)
    labels = {r["__row_id"]: r["KMeans"] for r in out.collect()}
    assert set(labels.values()) == {0, 1}
    # genD is far from the others — it should sit alone or with genC
    assert labels["genA"] == labels["genB"]
    pred = km.predict(test_frame)
    labels2 = {r["__row_id"]: r["KMeans"] for r in pred.collect()}
    assert labels == labels2


def test_bisecting_kmeans(test_frame):
    out = BisectingKMeans(n_clusters=2)(test_frame)
    assert set(r["BisectingKMeans"] for r in out.collect()) == {0, 1}


def test_agglo_ward(test_frame):
    agglo = Agglo(n_clusters=2)
    out = agglo(test_frame, sort=True)
    rows = out.collect()
    labels = [r["Agglo"] for r in rows]
    assert labels == sorted(labels)  # sorted ascending by label
    by_id = {r["__row_id"]: r["Agglo"] for r in rows}
    # genD dominates the distance scale -> singleton cluster
    assert len({by_id["genA"], by_id["genB"], by_id["genC"]}) == 1
    assert by_id["genD"] != by_id["genA"]
    # add=False drops the column
    assert "Agglo" not in Agglo(n_clusters=2)(test_frame, add=False).columns


def test_agglo_row_cap(spark):
    df = spark.range(5).select(
        F.col("id").cast("string").alias("__row_id"), F.rand(7).alias("x")
    )
    with pytest.raises(ValueError, match="capped"):
        Agglo(max_rows=3)(df)


def test_class_label(test_frame):
    cl = ClassLabel({"genA": 1, "genB": 1, "genC": 2})
    out = {r["__row_id"]: r["ClassLabel"] for r in cl(test_frame, sort=False).collect()}
    assert out == {"genA": 1, "genB": 1, "genC": 2, "genD": -1}


def test_pca_contract(test_frame):
    pca = PCA(n_components=2)
    out = pca(test_frame)
    pc_cols = [c for c in out.columns if c.startswith("PC")]
    assert len(pc_cols) == 2
    assert "expl.var" in pc_cols[0]
    assert out.count() == 4
    # explained variance ratios sorted descending, in (0, 1]
    evr = pca.explained_variance_ratio_
    assert evr[0] >= evr[1] and 0 < evr[0] <= 1


def test_tsne_native_separates_clusters(spark):
    """Built-in exact t-SNE: two well-separated 5-D blobs stay
    separated in the 2-D embedding, deterministically (no RNG —
    identical output across runs)."""
    import numpy as np

    from mdataframe_spark.operators.projection import tsne_exact

    # deterministic two-blob data (hash-derived offsets, no RNG)
    pts = []
    for i in range(30):
        base = 0.0 if i < 15 else 20.0
        pts.append([base + ((i * 7 + d * 13) % 10) / 10.0 for d in range(5)])
    x = np.array(pts)
    y1 = tsne_exact(x, n_components=2, perplexity=8, n_iter=250)
    y2 = tsne_exact(x, n_components=2, perplexity=8, n_iter=250)
    np.testing.assert_array_equal(y1, y2)
    # neighborhood purity: every embedded point's 5 nearest neighbors
    # come from its own blob (t-SNE spreads WITHIN clusters by design,
    # so a centroid-distance ratio is the wrong criterion)
    lab = np.array([0] * 15 + [1] * 15)
    d = np.square(y1[:, None] - y1[None, :]).sum(-1)
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1)[:, :5]
    purity = (lab[nn] == lab[:, None]).mean()
    assert purity >= 0.95, purity

    # the Spark-facing transformer: contract columns + join-back
    rows = [(f"r{i}", *map(float, p)) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, ["__row_id", "a", "b", "c", "d", "e"])
    t = TSNE(perplexity=8)
    out = t(df)
    assert "TSNE dim 1" in out.columns and "TSNE dim 2" in out.columns
    assert out.count() == 30
    assert t.method_ in ("sklearn", "native exact t-SNE")


def test_umap_spectral_fallback(spark):
    import numpy as np

    from mdataframe_spark.operators.projection import UMAP, spectral_embed

    pts = []
    for i in range(24):
        base = 0.0 if i < 12 else 15.0
        pts.append([base + ((i * 5 + d * 11) % 8) / 8.0 for d in range(4)])
    x = np.array(pts)
    e = spectral_embed(x, n_components=2, n_neighbors=6)
    # the two blobs form disconnected kNN components, which the
    # Laplacian separates via indicator eigenvectors — neighborhood
    # purity is the right check
    lab = np.array([0] * 12 + [1] * 12)
    d = np.square(e[:, None] - e[None, :]).sum(-1)
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1)[:, :3]
    purity = (lab[nn] == lab[:, None]).mean()
    assert purity >= 0.95, purity

    rows = [(f"r{i}", *map(float, p)) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, ["__row_id", "a", "b", "c", "d"])
    u = UMAP(n_neighbors=6)
    out = u(df)
    assert "UMAP dim 1" in out.columns
    assert out.count() == 24
    assert u.method_ is not None


def test_umap_native_ab_fit_matches_published_defaults():
    """The numpy Gauss-Newton curve fit reproduces umap-learn's
    documented (a, b) for min_dist=0.1, spread=1.0 (1.577, 0.895)."""
    from mdataframe_spark.operators.projection import _umap_fit_ab

    a, b = _umap_fit_ab(0.1, 1.0)
    assert abs(a - 1.577) < 0.01, a
    assert abs(b - 0.8951) < 0.005, b


def test_umap_native_deterministic_and_trustworthy():
    """Native UMAP SGD (M14 closure): bit-deterministic across runs,
    and at least as trustworthy as the bare spectral initialization it
    starts from on a clustered fixture — i.e. the optimization earns
    its keep rather than degrading the layout."""
    import numpy as np

    from mdataframe_spark.operators.projection import spectral_embed, umap_native

    # three deterministic 10-D blobs (hash-derived offsets, no RNG)
    pts = []
    for i in range(90):
        c = i // 30
        base = [0.0] * 10
        base[c] = 12.0
        pts.append(
            [base[d] + ((i * 7 + d * 13) % 11) / 11.0 for d in range(10)]
        )
    x = np.array(pts)
    lab = np.repeat([0, 1, 2], 30)

    y1 = umap_native(x, 2, n_neighbors=10)
    y2 = umap_native(x, 2, n_neighbors=10)
    np.testing.assert_array_equal(y1, y2)

    def trustworthiness(hx, hy, k=10):
        n = len(hx)
        dx = np.square(hx[:, None, :] - hx[None, :, :]).sum(-1)
        np.fill_diagonal(dx, np.inf)
        dy = np.square(hy[:, None, :] - hy[None, :, :]).sum(-1)
        np.fill_diagonal(dy, np.inf)
        rank_x = np.argsort(np.argsort(dx, axis=1), axis=1)
        nn_y = np.argsort(dy, axis=1)[:, :k]
        t = sum(
            max(rank_x[i, j] - k + 1, 0) for i in range(n) for j in nn_y[i]
        )
        return 1.0 - 2.0 / (n * k * (2 * n - 3 * k - 1)) * t

    ys = spectral_embed(x, 2, 10)
    tu, tsp = trustworthiness(x, y1), trustworthiness(x, ys)
    assert tu >= tsp - 1e-9, (tu, tsp)
    # clusters stay pure in the embedding
    d = np.square(y1[:, None] - y1[None, :]).sum(-1)
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1)[:, :5]
    assert (lab[nn] == lab[:, None]).mean() >= 0.95


def test_umap_transformer_reports_native_method(spark):
    """Without umap-learn in the container, the transformer runs the
    native SGD and says so via method_ (no silent fallback claims)."""
    import numpy as np

    from mdataframe_spark.operators.projection import UMAP

    try:
        import umap  # noqa: F401

        import pytest

        pytest.skip("umap-learn installed; native path not exercised")
    except ImportError:
        pass
    pts = [
        [(0.0 if i < 12 else 15.0) + ((i * 5 + d * 11) % 8) / 8.0 for d in range(4)]
        for i in range(24)
    ]
    rows = [(f"r{i}", *map(float, p)) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, ["__row_id", "a", "b", "c", "d"])
    u = UMAP(n_neighbors=6, n_epochs=100)
    out = u(df)
    assert out.count() == 24
    assert u.method_ == "native umap (fuzzy simplicial SGD)"
    # purity survives the optimization
    lab = np.array([0] * 12 + [1] * 12)
    emb = np.array(
        [
            [r["UMAP dim 1"], r["UMAP dim 2"]]
            for r in out.orderBy("__row_id").collect()
        ]
    )
    ids = sorted(range(24), key=lambda i: f"r{i}")
    lab = lab[ids]
    d = np.square(emb[:, None] - emb[None, :]).sum(-1)
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1)[:, :3]
    assert (lab[nn] == lab[:, None]).mean() >= 0.95


def test_driver_reducer_cap(spark):
    df = spark.range(30).selectExpr(
        "cast(id as string) as __row_id", "cast(id as double) as v",
        "cast(id*2 as double) as w"
    )
    with pytest.raises(ValueError, match="max_rows"):
        TSNE(max_rows=10)(df)


def test_write_excel_native_roundtrip(tmp_path, test_frame):
    """write_excel falls back to the stdlib OOXML writer when openpyxl
    is absent; verify by unzipping and walking the sheet XML."""
    import xml.etree.ElementTree as ET
    import zipfile

    path = str(tmp_path / "out.xlsx")
    write_excel(test_frame, path, sheet_name="genes")
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        assert "xl/worksheets/sheet1.xml" in z.namelist()
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        wb = ET.fromstring(z.read("xl/workbook.xml"))
    assert wb.find(f"{ns}sheets/{ns}sheet").get("name") == "genes"
    rows = root.findall(f"{ns}sheetData/{ns}row")
    assert len(rows) == 5  # header + 4 genes

    def cellval(c):
        t = c.find(f"{ns}is/{ns}t")
        return t.text if t is not None else c.find(f"{ns}v").text

    header = [cellval(c) for c in rows[0]]
    assert header[0] == "__row_id"
    body = {cellval(r[0]): [cellval(c) for c in r[1:]] for r in rows[1:]}
    assert body["genA"] == ["23", "2", "21", "23", "3", "4"]


def test_svg_render_heatmap_and_scatter(tmp_path, test_frame):
    import xml.etree.ElementTree as ET

    from mdataframe_spark.operators.plots import (
        heatmap_data,
        render_heatmap,
        render_scatter,
        scatter_data,
    )

    cols = [c for c in test_frame.columns if c != "__row_id"]
    pages = heatmap_data(test_frame, cols, max_rows=4)
    hm = str(tmp_path / "hm.svg")
    files = render_heatmap(pages, hm, label_fn=lambda s: s.upper())
    assert files == [hm]
    svg = ET.parse(hm).getroot()
    ns = "{http://www.w3.org/2000/svg}"
    rects = svg.findall(f"{ns}rect")
    assert len(rects) >= 4 * 6  # one per cell (+ colorbar steps)
    texts = [t.text for t in svg.findall(f"{ns}text")]
    assert "GENA" in texts  # label_fn applied

    pts = scatter_data(test_frame, "sampleA_1", "sampleB_1")
    sc = str(tmp_path / "sc.svg")
    render_scatter(pts, sc, "sampleA_1", "sampleB_1")
    svg = ET.parse(sc).getroot()
    assert len(svg.findall(f"{ns}circle")) == 4


def test_tsv_roundtrip(spark, tmp_path, test_frame):
    path = str(tmp_path / "out_tsv")
    write_tsv(test_frame, path, single_file=True)
    back = read_table_file(spark, path)
    assert back.count() == 4
    assert set(back.columns) == set(test_frame.columns)


def test_annotation_join_fill(spark, test_frame):
    anno = spark.createDataFrame(
        [("genA", "chr1"), ("genB", "chr2")], ["gene", "chrom"]
    )
    out = annotate_from_file(test_frame, anno, "gene", ["chrom"],
                             fill_value="NA", df_key="__row_id")
    rows = {r["__row_id"]: r["chrom"] for r in out.collect()}
    assert rows == {"genA": "chr1", "genB": "chr2", "genC": "NA", "genD": "NA"}


def test_checkpoint_store(spark, tmp_path, test_frame):
    from mdataframe_spark.functions.norm import TMM

    store = CheckpointStore(str(tmp_path / "cache"))
    tmm = TMM({"sampleA_1": "A"})
    key = store.step_key(store.source_key("test_frame"), tmm)
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return test_frame

    a = store.get_or_compute(spark, key, compute)
    b = store.get_or_compute(spark, key, compute)
    assert calls["n"] == 1  # second call is a cache hit
    assert a.count() == b.count() == 4
    # same params => same key; different params => different key
    assert key == store.step_key(store.source_key("test_frame"), TMM({"sampleA_1": "A"}))
    assert key != store.step_key(store.source_key("test_frame"), TMM({"sampleA_1": "B"}))


def test_mframe_chain_cluster_reduce(test_frame):
    mf = MFrame(test_frame, name="counts")
    clustered = mf.impute().scale(axis=1).cluster(n_clusters=2)
    assert "KMeans" in clustered.df.columns
    reduced = mf.reduce(n_components=2)
    assert len(reduced.data_columns) == 2
    assert all("PC" in c for c in reduced.data_columns)


def test_dbscan(spark):
    from mdataframe_spark.operators.clustering import DBSCAN

    # two dense blobs + one far noise point
    pts = (
        [(f"a{i}", 0.0 + i * 0.01, 0.0) for i in range(6)]
        + [(f"b{i}", 5.0 + i * 0.01, 5.0) for i in range(6)]
        + [("noise", 50.0, 50.0)]
    )
    df = spark.createDataFrame(pts, ["__row_id", "x", "y"])
    out = {r["__row_id"]: r["DBSCAN"] for r in DBSCAN(eps=0.5, min_samples=3)(df, sort=False).collect()}
    a_labels = {out[f"a{i}"] for i in range(6)}
    b_labels = {out[f"b{i}"] for i in range(6)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels
    assert out["noise"] == -1


def test_ivf_topk_recall(spark):
    """IVF ANN finds most exact neighbors while probing a fraction of
    the buckets."""
    from mdataframe_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=3).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_cosine_topk(emb, q, k=3, n_centroids=8, n_probe=3).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.8


def test_mframe_descriptive_surface(test_frame):
    mf = MFrame(test_frame, name="counts")
    means = mf.mean()
    assert abs(means["sampleA_1"] - (23 + 12 + 9 + 40) / 4) < 1e-9
    sums = mf.sum()
    assert sums["sampleB_1"] == 23 + 4 + 21 + 90
    assert mf.count() == 4
    assert mf.limit(2).count() == 2
    summary_rows = mf.describe().collect()
    assert {r["summary"] for r in summary_rows} >= {"count", "mean", "max"}


def test_near_duplicates_pipeline(spark):
    from mdataframe_spark.operators.dedup import drop_near_duplicates, near_duplicates

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight")
    docs = [
        (1, base),
        (2, base + " extra"),                      # near-dup of 1
        (3, base.replace("quick", "slow")),        # near-dup of 1
        (4, "completely different text about spark engines and parquet "
            "files with columnar compression and vectorized readers"),
        (5, "another unrelated document discussing window functions and "
            "adaptive query execution in distributed systems"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # 8 bands of 2 hashes: band-collision prob s^2 per band -> ~0.97
    # recall at s=0.6 (4x4 banding would miss mid-similarity pairs ~half
    # the time - correct LSH behavior, wrong parameters for s=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in near_duplicates(df, threshold=0.5, bands=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert (1, 3) in pairs
    assert all(4 not in k and 5 not in k for k in pairs)
    kept = {r["doc_id"] for r in drop_near_duplicates(df, threshold=0.5, bands=8).collect()}
    assert 1 in kept and 4 in kept and 5 in kept
    assert 2 not in kept


def test_ward_linkage_matrix(spark):
    """M9: scipy-format linkage matrix from the Ward merge sequence.
    Heights hand-checked against the Ward formula
    dist = sqrt(2 * |A||B|/(|A|+|B|) * ||centroid_A - centroid_B||^2)
    (= what scipy.cluster.hierarchy.linkage(method='ward') yields)."""
    import numpy as np

    from mdataframe_spark.operators.clustering import (
        dendrogram_leaf_order,
        ward_linkage,
    )

    x = np.array([[0.0], [0.1], [5.0], [5.1], [10.0]])
    Z = ward_linkage(x)
    assert Z.shape == (4, 4)
    # singleton merges first: (0,1) and (2,3) at euclidean distance 0.1
    assert {tuple(Z[0, :2]), tuple(Z[1, :2])} == {(0.0, 1.0), (2.0, 3.0)}
    np.testing.assert_allclose(Z[0, 2], 0.1)
    np.testing.assert_allclose(Z[1, 2], 0.1)
    assert Z[0, 3] == 2 and Z[1, 3] == 2
    # third merge: {2,3} (centroid 5.05) absorbs leaf 4 at 10.0:
    # cost = (2*1/3) * 4.95^2, dist = sqrt(2*cost)
    assert 4.0 in tuple(Z[2, :2]) and Z[2, :2].max() >= 5.0
    np.testing.assert_allclose(Z[2, 2], np.sqrt(2 * (2 / 3) * 4.95 ** 2))
    assert Z[2, 3] == 3
    # final merge has all points; Ward heights are monotone
    assert Z[3, 3] == 5
    assert np.all(np.diff(Z[:, 2]) >= -1e-12)
    # leaf order: a permutation that keeps the tight pairs adjacent
    order = dendrogram_leaf_order(Z)
    assert sorted(order) == [0, 1, 2, 3, 4]
    assert abs(order.index(0) - order.index(1)) == 1
    assert abs(order.index(2) - order.index(3)) == 1


def test_ward_linkage_agrees_with_labels(spark):
    """Cutting the linkage tree at k clusters reproduces _ward_labels."""
    import numpy as np

    from mdataframe_spark.operators.clustering import _ward_labels, ward_linkage

    rng = np.random.RandomState(3)
    x = np.vstack([rng.normal(c, 0.3, (7, 2)) for c in (0.0, 5.0, 10.0)])
    Z = ward_linkage(x)
    n, k = len(x), 3
    parent = list(range(n + len(Z)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for t in range(n - k):  # all but last k-1 merges
        a, b = int(Z[t][0]), int(Z[t][1])
        parent[find(a)] = parent[find(b)] = n + t
    groups = {}
    cut = [groups.setdefault(find(i), len(groups)) for i in range(n)]
    labels = _ward_labels(x, k)
    # same partition (label names may differ)
    pairings = {(cut[i], labels[i]) for i in range(n)}
    assert len(pairings) == k


def test_heatmap_dendrogram_order(spark):
    """heatmap_data(rank_by='dendrogram') pages rows in leaf order."""
    from mdataframe_spark.operators.clustering import ward_dendrogram
    from mdataframe_spark.operators.plots import heatmap_data

    rows = [("a", 1.0, 1.1), ("b", 9.0, 9.2), ("c", 1.05, 1.0),
            ("d", 9.1, 9.0), ("e", 5.0, 5.0)]
    df = spark.createDataFrame(rows, ["__row_id", "v1", "v2"])
    _Z, ordered = ward_dendrogram(df, ["v1", "v2"])
    pages = heatmap_data(df, ["v1", "v2"], rank_by="dendrogram")
    got = [r for p in pages for r in p["__row_id"].tolist()]
    assert got == ordered
    # the two tight pairs are adjacent in the drawn order
    assert abs(got.index("a") - got.index("c")) == 1
    assert abs(got.index("b") - got.index("d")) == 1


def test_ward_dendrogram_empty_frame(spark):
    """0-row frames return an empty linkage and no leaf order instead
    of an opaque IndexError."""
    import numpy as np

    from mdataframe_spark.operators.clustering import ward_dendrogram

    df = spark.createDataFrame([], "__row_id string, v1 double, v2 double")
    Z, ordered = ward_dendrogram(df, ["v1", "v2"])
    assert Z.shape == (0, 4)
    assert ordered == []


def test_heatmap_dendrogram_over_cap_truncates(spark):
    """rank_by='dendrogram' degrades to top-variance truncation above
    max_rows (matching the other modes) instead of raising."""
    from pyspark.sql import functions as F

    from mdataframe_spark.operators.plots import heatmap_data

    df = spark.range(50).select(
        F.col("id").cast("string").alias("__row_id"),
        (F.col("id") * 1.0).alias("v1"),
        (F.col("id") % 7 * 3.0).alias("v2"),
    )
    pages = heatmap_data(df, ["v1", "v2"], max_rows=20, rank_by="dendrogram")
    assert sum(len(p) for p in pages) == 20


def test_embedding_near_dup_recall(spark):
    """Embedding-cosine near-dup: every emitted pair is a true pair
    (cosine >= threshold, verified against numpy brute force) and the
    6x6 SRP banding recovers the large majority of true pairs."""
    import numpy as np

    from mdataframe_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = dedup.feature_hash_embed(docs)
    rows = emb.collect()
    ids = [r["doc_id"] for r in rows]
    X = np.array([r["vec"] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = Xn @ Xn.T
    iu = np.triu_indices(len(ids), 1)
    true_pairs = {
        tuple(sorted((ids[i], ids[j])))
        for i, j in zip(*iu)
        if C[i, j] >= 0.9
    }
    got = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    dedup.release_caches()
    assert got <= true_pairs  # no false positives ever
    assert len(true_pairs) > 0
    assert len(got) / len(true_pairs) >= 0.7, (len(got), len(true_pairs))


def test_srp_auto_sizing():
    """The 'auto' SRP banding follows standard LSH sizing: planes grow
    logarithmically with the corpus (constant expected bucket
    population — the r5 SCALE finding was r=6's fixed 64 buckets going
    quadratic), bands keep banded recall >= the target."""
    import math

    from mdataframe_spark.operators.dedup import srp_auto_sizing

    # small corpora resolve to the legacy 6x6
    assert srp_auto_sizing(2_000, 0.9) == (6, 6)
    # each ~2x of corpus adds a plane; bands grow to hold recall
    b10, r10 = srp_auto_sizing(1_000_000, 0.9)
    b12, r12 = srp_auto_sizing(100_000_000, 0.9)
    assert r10 == math.ceil(math.log2(1_000_000 / 64)) == 14
    assert r12 == math.ceil(math.log2(100_000_000 / 64)) == 21
    p = 1.0 - math.acos(0.9) / math.pi
    for b, r in ((b10, r10), (b12, r12)):
        assert 1 - (1 - p**r) ** b >= 0.95
    # bucket count grows with the corpus -> expected population stays
    # ~target: pair work ~ n * target * bands, sub-quadratic
    assert 2**r12 / 2**r10 == 2 ** (r12 - r10) >= 64
    # plane clamp (bigint bucket accumulator) + band cap (past ~10^10
    # docs recall degrades gracefully rather than bands exploding)
    b_huge, r_huge = srp_auto_sizing(10**30, 0.9)
    assert r_huge == 60 and b_huge == 256


def test_multimodal_resize_and_frame_sample(spark):
    """Resize / frame-sample plumbing: binary-in binary-out with
    deterministic stub transforms, meta provenance recorded, byte
    counts exactly as the stride math predicts."""
    from mdataframe_spark.operators.multimodal import (
        attach_binary_payload,
        resize_media,
        sample_frames,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = attach_binary_payload(docs.limit(50))
    orig = {r["media_id"]: r for r in media.collect()}

    resized = {r["media_id"]: r for r in resize_media(media, factor=3).collect()}
    for mid, r in resized.items():
        expect = bytes(bytes(orig[mid]["payload"])[::3])
        assert bytes(r["payload"]) == expect
        assert r["meta"]["resize_factor"] == "3"

    sampled = {
        r["media_id"]: r
        for r in sample_frames(media, frame_size=16, every_k=2).collect()
    }
    for mid, r in sampled.items():
        p = bytes(orig[mid]["payload"])
        frames = [p[i:i + 16] for i in range(0, len(p), 16)]
        assert bytes(r["payload"]) == b"".join(frames[::2])
        assert r["meta"]["frame_stride"] == "2"


def test_winnow_partial_overlap(spark):
    """Winnowing fingerprints detect PARTIAL overlap: two documents
    sharing a long substring have common selected hashes; unrelated
    documents of similar length share none."""
    from mdataframe_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, "INTRO aaa. " + shared + " OUTRO bbb."),
        (2, "Completely different preamble! " + shared + " And a different ending."),
        (3, "unrelated text about spark catalyst optimizer and shuffle partitions"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(df, k=8, window=8)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert len(by_doc[1] & by_doc[2]) >= 5, len(by_doc[1] & by_doc[2])
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_df_cap_bounds_pathological_boilerplate(spark, caplog):
    """A corpus where every document is identical boilerplate: without a
    document-frequency cap the bucket pairing would generate all
    N(N-1)/2 pairs from one bucket. With the cap below N, every capped
    candidate generator returns ZERO pairs (the hot buckets are
    dropped, logged once per call); with the cap at N it returns them
    all — no silent truncation in either direction."""
    import logging

    from mdataframe_spark.operators import dedup
    from mdataframe_spark.operators.baskets import co_occurrence_pairs

    n = 30
    boiler = "all work and no play makes jack a dull boy " * 4
    df = spark.createDataFrame([(i, boiler) for i in range(n)], ["doc_id", "text"])
    sigs = dedup.minhash_signatures(df)
    ssigs = dedup.simhash_signatures(df)
    emb = dedup.feature_hash_embed(df)
    names = spark.createDataFrame([(i, "jack dull boy") for i in range(n)], ["id", "name"])
    basket = spark.createDataFrame([(0, i) for i in range(n)], ["b", "i"])
    generators = {
        "lsh": lambda cap: dedup.lsh_candidate_pairs(sigs, df_cap=cap),
        "simhash": lambda cap: dedup.simhash_candidate_pairs(ssigs, df_cap=cap),
        "fuzzy": lambda cap: dedup.fuzzy_string_pairs(names, "id", "name", df_cap=cap),
        "srp": lambda cap: dedup.embedding_near_dup_pairs(
            emb, n_bands=6, n_planes=6, df_cap=cap
        ),
        "co_occurrence": lambda cap: co_occurrence_pairs(
            basket, "b", "i", min_count=1, basket_cap=cap
        ),
    }
    for name, pairs in generators.items():
        for cap, want_pairs, want_warnings in ((n - 1, 0, 1), (n, n * (n - 1) // 2, 0)):
            caplog.clear()
            with caplog.at_level(logging.WARNING, logger=dedup.__name__):
                got = pairs(cap).count()
            warnings = [m for m in caplog.messages if m.startswith("cap_hot_keys:")]
            assert got == want_pairs, (name, cap, got)
            assert len(warnings) == want_warnings, (name, cap, warnings)
    dedup.release_caches()

    # the generic utility: multi-row keys survive up to the cap exactly
    kv = spark.createDataFrame(
        [(k, i) for k in ("hot", "warm") for i in range({"hot": 5, "warm": 2}[k])],
        ["k", "i"],
    )
    kept = dedup.cap_hot_keys(kv, "k", 2, "test key")
    assert sorted(r["k"] for r in kept.collect()) == ["warm", "warm"]


def test_lsh_rejects_malformed_bands(spark):
    """A band count that does not divide the signature length used to
    leave zero rows per band, so every document keyed to md5('') and
    paired with every other; now it is rejected up front."""
    from mdataframe_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"document number {i} about topic {i * 7}") for i in range(12)],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(df, num_hashes=16)
    for bands in (0, 3, 32):
        with pytest.raises(ValueError):
            dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=bands)
        with pytest.raises(ValueError):
            dedup.band_table(sigs, num_hashes=16, bands=bands)
    assert dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=4).count() == 0


def test_asof_join_semantics(spark):
    """asof_join: backward inclusive match, per-key isolation, null on
    no-prior-row, tolerance nulling, largest-tiebreak at equal ts."""
    from pyspark.sql import functions as F

    from mdataframe_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", 100, "p1"), ("u1", 205, "p2"), ("u2", 50, "p3"),
         ("u3", 10, "p4")],
        ["k", "ts", "pid"],
    )
    right = spark.createDataFrame(
        [("u1", 100, "r_eq_a", 1.0), ("u1", 100, "r_eq_b", 2.0),
         ("u1", 200, "r_mid", 3.0), ("u2", 60, "r_late", 4.0)],
        ["k", "ts", "rid", "w"],
    )
    out = {
        r["pid"]: r
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["rid", "ts", "w"], tiebreak_col="w",
        ).collect()
    }
    # inclusive equality + largest tie-break wins
    assert out["p1"]["rid_asof"] == "r_eq_b"
    # latest at-or-before, not just any earlier
    assert out["p2"]["rid_asof"] == "r_mid"
    # right row AFTER the left ts never matches
    assert out["p3"]["rid_asof"] is None
    # key with no right rows at all
    assert out["p4"]["rid_asof"] is None

    # tolerance: p2's match (ts 200 vs 205) survives a tolerance of 10
    # but is nulled at 3
    tol = {
        r["pid"]: r["rid_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["rid"], tolerance=F.lit(3), tiebreak_col=None,
        ).collect()
    }
    assert tol["p2"] is None
    assert tol["p1"] is not None  # gap 0 within tolerance


def test_range_join_semantics(spark):
    """range_join: exact containment (inclusive both ends), per-key
    isolation, multi-interval overlap yields one row per containing
    interval, and the bin replication never duplicates matches."""
    from mdataframe_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [("u1", 5, "p1"), ("u1", 10, "p2"), ("u1", 99, "p3"),
         ("u2", 5, "p4")],
        ["k", "t", "pid"],
    )
    iv = spark.createDataFrame(
        # i1 spans many bins (0-50 at bin_width 7); i2 overlaps i1;
        # u2 has no intervals covering t=5
        [("u1", 0, 50, "i1"), ("u1", 10, 12, "i2"), ("u2", 6, 9, "i3")],
        ["k", "s", "e", "iid"],
    )
    out = range_join(pts, iv, on="k", point_col="t", start_col="s",
                     end_col="e", bin_width=7)
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    assert got == [("p1", "i1"), ("p2", "i1"), ("p2", "i2")]

    # inclusive endpoints
    edge = spark.createDataFrame([("u1", 0, "lo"), ("u1", 50, "hi")],
                                 ["k", "t", "pid"])
    got2 = sorted(r["pid"] for r in range_join(
        edge, iv.filter("iid = 'i1'"), on="k", point_col="t",
        start_col="s", end_col="e", bin_width=7).collect())
    assert got2 == ["hi", "lo"]

    # validate guard
    import pytest as _pytest

    wide = spark.createDataFrame([("u1", 0, 10_000_000, "w")],
                                 ["k", "s", "e", "iid"])
    with _pytest.raises(ValueError, match="bins"):
        range_join(pts, wide, on="k", point_col="t", start_col="s",
                   end_col="e", bin_width=1, validate=True)


def test_simhash_blocked_tables_lossless_recall(spark):
    """The Manku multi-table generator finds EXACTLY the pairs within
    Hamming distance k — candidate generation is pigeonhole-lossless
    and the verify filter is exact, so the result equals a brute-force
    scan: for m=6 at k=3 and k=4, and for the default m=4 (the 4-chunk
    banding scheme) at k=3. k >= m would lose pairs silently, so it is
    rejected: (0,0,0,0) and (1,1,1,1) are at distance 4 and share no
    16-bit chunk."""
    from itertools import combinations

    from mdataframe_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_signatures,
    )

    words = "spark shuffle catalyst codegen parquet arrow broadcast join".split()
    rows = []
    for i in range(40):
        # overlapping word subsets -> a spread of Hamming distances
        rows.append((i, " ".join(words[j % len(words)] for j in range(i, i + 5))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = simhash_signatures(df).unionByName(
        spark.createDataFrame(
            [(1000, 0, 0, 0, 0), (1001, 1, 1, 1, 1)],
            "doc_id long, simhash_c0 int, simhash_c1 int, simhash_c2 int, simhash_c3 int",
        )
    )

    sig_map = {
        r["doc_id"]: (r["simhash_c0"], r["simhash_c1"], r["simhash_c2"], r["simhash_c3"])
        for r in sigs.collect()
    }
    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    def brute(k):
        return {
            (a, b)
            for a, b in combinations(sorted(sig_map), 2)
            if hamming(sig_map[a], sig_map[b]) <= k
        }
    def got(**kw):
        return {
            (r["id_a"], r["id_b"])
            for r in simhash_candidate_pairs(sigs, **kw).collect()
        }
    assert brute(3), "fixture must contain near pairs"
    assert (1000, 1001) in brute(4) - brute(3)

    assert got(max_hamming=3, n_blocks=6) == brute(3)
    assert got(max_hamming=4, n_blocks=6) == brute(4)
    assert got(max_hamming=3) == brute(3)
    with pytest.raises(ValueError):
        simhash_candidate_pairs(sigs, max_hamming=4)


def test_connected_components_vs_union_find(spark):
    """CC labels equal a driver-side union-find on random-ish pair
    graphs, including a long path (deep diameter exercises the
    pointer-jumping acceleration) and singleton-free handling."""
    from mdataframe_spark.operators.dedup import connected_components

    def union_find(pairs):
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # normalize to min-id representative
        comps = {}
        for v in list(parent):
            comps[v] = find(v)
        # find() path-compresses to the root, which by construction is
        # the min of the merged roots but not necessarily the global
        # min; recompute exact min per root
        groups = {}
        for v, r in comps.items():
            groups.setdefault(r, []).append(v)
        out = {}
        for members in groups.values():
            m = min(members)
            for v in members:
                out[v] = m
        return out

    cases = [
        # two triangles + a bridge doc + a separate pair
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)],
        # a 30-long path: diameter 30 needs pointer jumping to finish
        [(i, i + 1) for i in range(100, 130)],
        # duplicate and reversed edges
        [(5, 6), (6, 5), (5, 6), (7, 5)],
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        # the driver arm; tests/test_graph.py holds the loop arms to it
        got_driver = {
            r["v"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got_driver == union_find(pairs), pairs


@pytest.mark.parametrize(
    "op", ["connected_components", "pagerank", "k_core", "label_propagation"]
)
def test_connected_components_releases_per_round_persists(spark, op):
    """Each graph loop must release every round's predecessor state as
    soon as its successor materializes: on a long-path graph (many
    rounds) the cache may hold the edge table + the final state — NOT
    one frame per round (at 10^9 vertices x 8 rounds the accumulated
    pins would evict exactly when the loop needs memory). Also: early
    release must not change the answer."""
    from mdataframe_spark import cache as _cache
    from mdataframe_spark.operators import baskets, dedup

    fn = getattr(dedup if op == "connected_components" else baskets, op)
    _cache.release_caches()
    jvm = spark.sparkContext._jsc.getPersistentRDDs()
    base = jvm.size()
    pairs = [(i, i + 1) for i in range(200, 240)]  # 40-long path, >3 rounds
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    # small_graph_max=0 forces the distributed loop — the arm this
    # release discipline exists for
    rows = fn(df, small_graph_max=0).collect()
    if op == "connected_components":
        got = {r["v"]: r["component"] for r in rows}
        assert got == {v: 200 for v in range(200, 241)}
    held = spark.sparkContext._jsc.getPersistentRDDs().size() - base
    # edge table + final state only (the rounds' predecessors are gone)
    assert held <= 2, f"{held} persisted frames held after {op} (expected <=2)"
    _cache.release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base


def test_connected_components_string_ids(spark):
    """String doc ids work unchanged (min-label needs only an ordering):
    components are labeled by their lexicographic-min member. Guards the
    regression where a bigint cast nulled string ids out silently."""
    from mdataframe_spark.operators.dedup import connected_components

    pairs = [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y")]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["v"]: r["component"] for r in connected_components(df).collect()}
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "doc-x": "doc-x", "doc-y": "doc-x",
    }


def test_connected_components_type_mismatch_raises(spark):
    import pytest

    from mdataframe_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(1, "a")], ["id_a", "id_b"])
    with pytest.raises(TypeError, match="share one id type"):
        connected_components(df)


def test_connected_components_integral_widening(spark):
    """Mixed integral widths (int vs bigint) widen losslessly instead
    of raising — Spark's equi-join has no null-miss for numerics."""
    from pyspark.sql import functions as F

    from mdataframe_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"]).select(
        F.col("id_a").cast("int"), F.col("id_b").cast("bigint")
    )
    got = {r["v"]: r["component"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_connected_components_empty(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from mdataframe_spark.operators.dedup import connected_components

    empty = spark.createDataFrame(
        [], StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])
    )
    assert connected_components(empty).count() == 0


def test_semantic_dedup_seed_and_kmeans(spark):
    """SemDeDup: exact duplicates in the same cluster collapse to one
    exemplar (lowest id kept); orthogonal vectors all survive. The
    seed and kmeans assignment variants agree on which rows are kept
    for this separable fixture."""
    import numpy as np

    from mdataframe_spark.operators.dedup import semantic_dedup

    rng = np.random.RandomState(7)
    base = rng.randn(3, 8)
    rows = []
    # 3 well-separated directions; ids 0-2 are the "seeds"
    for i, b in enumerate(base):
        rows.append((i, [float(x) for x in b]))
    # near-duplicates of direction 0 (scaled copies -> cosine 1.0)
    rows.append((10, [float(x) for x in 2.0 * base[0]]))
    rows.append((11, [float(x) for x in 0.5 * base[0]]))
    # a genuinely distinct extra vector near direction 1 but below tau
    mix = 0.6 * base[1] / np.linalg.norm(base[1]) + 0.8 * base[2] / np.linalg.norm(base[2])
    rows.append((12, [float(x) for x in mix]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    for assign in ("seed", "kmeans"):
        out = semantic_dedup(
            df, tau=0.95, n_clusters=3, assign=assign
        ).collect()
        kept = {r["vec_id"] for r in out if r["kept"]}
        dropped = {r["vec_id"]: r["n_neardup_lower"] for r in out if not r["kept"]}
        assert kept == {0, 1, 2, 12}, (assign, kept)
        # both copies of direction 0 see at least the exemplar below them
        assert set(dropped) == {10, 11} and all(v >= 1 for v in dropped.values())


def test_unigram_lm_scores_exact_small(spark):
    """Hand-computable fixture: vocabulary, OOV split and Lidstone
    log-probs match the closed form."""
    import math

    from mdataframe_spark.operators.text import unigram_lm_scores

    df = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "aa cc")], ["doc_id", "text"]
    )
    # counts: aa=3, bb=1, cc=1; total=5
    out = {r["doc_id"]: r for r in unigram_lm_scores(df, vocab_cap=2).collect()}
    # vocab_cap=2 keeps aa (3) and bb (1; tie with cc broken by token
    # string: bb < cc) -> cc is OOV
    denom = 5 + 0.5 * (2 + 1)
    lp = {
        "aa": round(math.log(3.5 / denom), 9),
        "bb": round(math.log(1.5 / denom), 9),
        "oov": round(math.log(0.5 / denom), 9),
    }
    assert out[1]["n_tokens"] == 3 and out[1]["n_oov"] == 0
    assert abs(out[1]["mean_logp"] - (2 * lp["aa"] + lp["bb"]) / 3) < 1e-9
    assert out[2]["n_tokens"] == 2 and out[2]["n_oov"] == 1
    assert abs(out[2]["mean_logp"] - (lp["aa"] + lp["oov"]) / 2) < 1e-9
    assert abs(out[2]["oov_ratio"] - 0.5) < 1e-12


def test_kn_bigram_lm_matches_independent_python(spark):
    """Interpolated KN bigram scores match an independent pure-Python
    recomputation (counts, continuation counts and the Chen & Goodman
    interpolation re-derived from scratch), including the <unk>
    collapse and docs with no bigrams being absent."""
    import math
    from collections import Counter

    from mdataframe_spark.operators.text import kn_bigram_lm_scores

    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on the log",
        3: "cat and dog and bird",
        4: "zzz",  # single token -> no bigrams -> absent from output
    }
    df = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    cap, d = 6, 0.75
    out = {
        r["doc_id"]: r
        for r in kn_bigram_lm_scores(df, vocab_cap=cap, discount=d).collect()
    }

    # independent recomputation
    toks = {i: t.split() for i, t in corpus.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    vocab = set(
        w for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:cap]
    )
    mapped = {
        i: [(w if w in vocab else "<unk>") for w in ws] for i, ws in toks.items()
    }
    big = Counter(
        (ws[j], ws[j + 1])
        for ws in mapped.values()
        for j in range(len(ws) - 1)
    )
    c1 = Counter()
    n1f = Counter()
    n1b = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    nb = float(len(big))

    def logp(w1, w2):
        return round(
            math.log(
                (max(big[(w1, w2)] - d, 0.0) + d * n1f[w1] * (n1b[w2] / nb))
                / c1[w1]
            ),
            9,
        )

    assert 4 not in out
    for i, ws in mapped.items():
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            continue
        exp = sum(logp(a, b) for a, b in pairs) / len(pairs)
        assert out[i]["n_bigrams"] == len(pairs)
        assert abs(out[i]["mean_logp"] - exp) < 1e-9, i

    # sanity: total probability mass over a context sums to 1
    some_ctx = "the"
    mass = sum(
        (max(big[(some_ctx, w2)] - d, 0.0) + d * n1f[some_ctx] * (n1b[w2] / nb))
        / c1[some_ctx]
        for w2 in n1b
    )
    assert abs(mass - 1.0) < 1e-12


def test_bm25_scores_closed_form(spark):
    """BM25 on a 3-doc fixture matches the hand-computed formula."""
    import math

    from mdataframe_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "cat dog cat"),
            (2, "dog dog dog dog"),
            (3, "bird"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bm25_scores(df, ["cat", "dog"]).collect()}
    n, avgdl = 3, (3 + 4 + 1) / 3
    k1, b = 1.2, 0.75

    def contrib(tf, dfreq, dl):
        if tf == 0:
            return 0.0
        idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        return round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 9)

    exp1 = contrib(2, 1, 3) + contrib(1, 2, 3)
    exp2 = contrib(0, 1, 4) + contrib(4, 2, 4)
    assert abs(out[1]["score"] - exp1) < 1e-9
    assert abs(out[2]["score"] - exp2) < 1e-9
    assert out[3]["score"] == 0.0 and out[3]["dl"] == 1


def test_salted_join_matches_plain_join(spark):
    """salted_join == plain join for inner/left, including a hot key
    carrying most of the rows; right/full are rejected."""
    import pytest as _pytest

    from mdataframe_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", 1), ("orphan", 2)],
        ["k", "v"],
    )
    right = spark.createDataFrame(
        [("hot", "H1"), ("hot", "H2"), ("cold", "C")], ["k", "name"]
    )
    for how in ("inner", "left"):
        got = sorted(
            map(tuple, salted_join(left, right, "k", n_salts=8, how=how).collect())
        )
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        assert got == want, how
    with _pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")


def test_incremental_lsh_probe_against_corpus_store(spark):
    """Ingestion-time dedup: a new batch probes the existing banded
    signature store; near-dups of corpus docs are caught, fresh docs
    come back clean. With the store written as a table bucketed on the
    join key, the probe plan shuffles ONLY the new-batch side (exactly
    one Exchange)."""
    import shutil
    import tempfile

    from mdataframe_spark.operators.dedup import (
        band_table,
        lsh_pairs_against,
        minhash_signatures,
    )
    from mdataframe_spark.sources.writers import write_bucketed_table

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark shuffles and joins here")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(100, base + " ok"), (101, "entirely novel content never seen before in any shard at all")],
        ["doc_id", "text"],
    )
    store = band_table(minhash_signatures(corpus))
    pairs = lsh_pairs_against(minhash_signatures(new), store).collect()
    assert {(r["new_id"], r["corpus_id"]) for r in pairs} == {(100, 1)}

    warehouse = tempfile.mkdtemp()
    spark.sql(f"CREATE DATABASE IF NOT EXISTS lshtest LOCATION '{warehouse}'")
    try:
        write_bucketed_table(store, "lshtest.bands", ["band", "key"], n_buckets=4)
        stored = spark.table("lshtest.bands").hint("merge")
        probe = lsh_pairs_against(minhash_signatures(new), stored)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # the invariant bucketing buys: the corpus store NEVER feeds an
        # exchange on (band, key) — the hot-key count aggregates and
        # the cap join all consume the bucketed scan's partitioning
        # directly (and the small probe batch broadcasts)
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange hashpartitioning(band") == 0, plan
        assert {(r["new_id"], r["corpus_id"]) for r in probe.collect()} == {(100, 1)}
    finally:
        spark.sql("DROP DATABASE IF EXISTS lshtest CASCADE")
        shutil.rmtree(warehouse, ignore_errors=True)


def test_choose_lsh_bands():
    from mdataframe_spark.operators.dedup import choose_lsh_bands

    import pytest as _pytest

    # 16 hashes: known S-curve thresholds — 4x4 -> (1/4)^(1/4) ~ 0.707,
    # 8x2 -> (1/8)^(1/2) ~ 0.354, 2x8 -> (1/2)^(1/8) ~ 0.917
    assert choose_lsh_bands(16, 0.7)["bands"] == 4
    assert choose_lsh_bands(16, 0.35)["bands"] == 8
    assert choose_lsh_bands(16, 0.92)["bands"] == 2
    lo = choose_lsh_bands(16, 0.1)
    assert lo["bands"] == 16 and lo["rows_per_band"] == 1
    with _pytest.raises(ValueError):
        choose_lsh_bands(16, 1.5)


def test_semantic_dedup_triangle_pairs_equal_flat(spark):
    """pair_buckets > 1 (triangle-decomposed pair stage) returns the
    identical result to the flat within-cluster join."""
    import numpy as np

    from mdataframe_spark.operators.dedup import semantic_dedup

    rng = np.random.RandomState(3)
    base = rng.randn(4, 16)
    rows = []
    vid = 0
    for b in base:
        for scale in (1.0, 2.0, 0.5, -1.0):  # -1: opposite direction, not a dup
            rows.append((vid, [float(x) for x in scale * b])); vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    flat = sorted(map(tuple, semantic_dedup(
        df, tau=0.9, n_clusters=4, assign="seed", pair_buckets=1).collect()))
    tri = sorted(map(tuple, semantic_dedup(
        df, tau=0.9, n_clusters=4, assign="seed", pair_buckets=5).collect()))
    assert flat == tri
    assert any(not r[3] for r in flat)  # fixture does contain dups
    # "auto" must return the same decisions whichever branch it picks
    auto = sorted(map(tuple, semantic_dedup(
        df, tau=0.9, n_clusters=4, assign="seed", pair_buckets="auto").collect()))
    assert flat == auto


def test_semantic_dedup_auto_bucket_selection(spark):
    """The 'auto' pair stage picks flat on a balanced corpus (the
    decomposition's B(B+1)/2 task overhead buys nothing — the r5 +11%
    regression) and the bucketed join when one hot cluster dominates
    the quadratic work."""
    import numpy as np

    from mdataframe_spark.operators import dedup as dd

    picked = {}
    orig = dd.semantic_dedup

    rng = np.random.RandomState(7)
    # ids interleave directions so the 4 lowest ids (the seed
    # centroids) span all 4 directions
    base = rng.randn(4, 16) * 10
    # balanced: 8 vectors per direction
    bal_rows = [
        (j * 4 + i, [float(x) for x in base[i] + rng.randn(16) * 0.01])
        for j in range(8)
        for i in range(4)
    ]
    # skewed: ids 0-3 span the directions, ids 4..62 all pile onto
    # direction 0 — one hot cluster of 60, three singletons
    skew_rows = [
        (i, [float(x) for x in base[i]]) for i in range(4)
    ] + [
        (4 + j, [float(x) for x in base[0] + rng.randn(16) * 0.01])
        for j in range(59)
    ]

    def chosen_b(rows, n_clusters):
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = orig(
            df, tau=0.9, n_clusters=n_clusters, assign="seed",
            pair_buckets="auto",
        )
        # the chosen branch is observable in the plan: the triangle
        # decomposition explodes a sequence for the bucket grid
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return "sequence" in plan

    assert chosen_b(bal_rows, 4) is False, "balanced corpus must go flat"
    assert chosen_b(skew_rows, 4) is True, "hot cluster must be decomposed"
    """PQ: codes are valid codebook indices; the ADC+rerank top-k
    recovers exact neighbors on a clustered fixture (recall 1.0 —
    clusters are far apart, so the shortlist always contains the true
    neighbors)."""
    import numpy as np

    from mdataframe_spark.operators.similarity import (
        cosine_topk,
        pq_cosine_topk,
        pq_encode,
        pq_train_codebooks,
    )

    rng = np.random.RandomState(5)
    centers = rng.randn(3, 16) * 5
    rows = []
    vid = 0
    for c in centers:
        for _ in range(20):
            rows.append((vid, [float(x) for x in c + rng.randn(16) * 0.05]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = pq_train_codebooks(df, m=4, k=8, sample=60)
    assert books.shape == (4, 8, 4)
    codes = pq_encode(df, books).collect()
    assert len(codes) == 60
    assert all(0 <= c < 8 for r in codes for c in r["codes"])
    assert all(len(r["codes"]) == 4 for r in codes)

    q = df.filter("vec_id IN (0, 20, 40)")
    # shortlist >= cluster size: same-cluster members share identical
    # codes, so their ADC scores tie exactly — a shorter shortlist
    # would truncate the tie group arbitrarily (by id), which is a
    # fixture artifact, not an accuracy property
    pq = pq_cosine_topk(df, q, k=3, m=4, n_codes=8, shortlist=20)
    ex = cosine_topk(df, q, k=3)
    pq_set = {(r["query_id"], r["neighbor_id"]) for r in pq.collect()}
    ex_set = {(r["query_id"], r["neighbor_id"]) for r in ex.collect()}
    assert len(pq_set & ex_set) / len(ex_set) == 1.0


def test_duplicate_substring_spans(spark):
    """ExactSubstr (Lee et al. 2022): the shared 12-token sentence is
    recovered at its exact positions in both docs, a within-doc
    repetition is caught, unique/short docs yield nothing."""
    from mdataframe_spark.operators.dedup import (
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta " + boiler + " tail one"),
            (2, "x y z " + boiler + " other stuff here"),
            (3, "unique words only nothing shared with anyone else at all"),
            (4, "repeat me repeat me repeat me repeat me repeat me repeat me"),
            (5, "short doc"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_substring_spans(docs, min_tokens=10, k=8).collect()
    }
    assert spans == {(1, 4, 15, 12), (2, 3, 14, 12), (4, 0, 11, 12)}

    clean = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_substrings(docs, min_tokens=10, k=8).collect()
    }
    assert clean[1] == "alpha beta gamma delta tail one"
    assert clean[2] == "x y z other stuff here"
    assert clean[3].startswith("unique words")
    assert clean[4] == ""  # the whole doc was one duplicated run
    assert clean[5] == "short doc"


def test_remove_duplicate_substrings_preserves_caller_id_column(spark):
    """A docs frame whose OWN schema has an `id` column (distinct from
    id_col) must keep it: the operator's internal join key is
    dunder-prefixed, so drop() cannot collide with user columns."""
    from mdataframe_spark.operators.dedup import remove_duplicate_substrings

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "legacy-1", "alpha beta gamma delta " + boiler + " tail one"),
            (2, "legacy-2", "x y z " + boiler + " other stuff here"),
        ],
        ["doc_id", "id", "text"],
    )
    out = remove_duplicate_substrings(docs, min_tokens=10, k=8)
    assert "id" in out.columns
    got = {r["doc_id"]: (r["id"], r["text"]) for r in out.collect()}
    assert got[1] == ("legacy-1", "alpha beta gamma delta tail one")
    assert got[2] == ("legacy-2", "x y z other stuff here")


def test_duplicate_substring_spans_min_tokens_guard(spark):
    from mdataframe_spark.operators.dedup import duplicate_substring_spans

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="min_tokens"):
        duplicate_substring_spans(docs, min_tokens=4, k=8)


def test_duplicate_substring_spans_hot_boilerplate(spark):
    """Pathological corpus: ONE boilerplate sentence shared by every
    doc. The plan has no doc-pair join, so the hot 8-grams cost one
    count row each (not n^2 pairs) and every doc still gets its exact
    span — no cap, no recall loss, bounded state."""
    from mdataframe_spark.operators.dedup import duplicate_substring_spans

    boiler = "one two three four five six seven eight nine ten eleven twelve"
    n = 500
    docs = spark.range(n).selectExpr(
        "id as doc_id",
        f"concat('prefix', id, ' filler', id, ' ', '{boiler}') as text",
    )
    spans = duplicate_substring_spans(docs, min_tokens=10, k=8)
    rows = spans.collect()
    assert len(rows) == n
    # every span is the injected sentence: tokens 2..13 (after the two
    # unique prefix tokens), 12 tokens long
    assert {(r["span_start"], r["span_end"], r["span_tokens"]) for r in rows} == {
        (2, 13, 12)
    }


def test_orc_roundtrip_pushdown(spark, tmp_path):
    """ORC source/sink: value-exact roundtrip, partition pruning, and
    filter pushdown into the ORC scan (PushedFilters in the plan)."""
    from mdataframe_spark.sources import read_orc, write_orc

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "li_orc")
    write_orc(li, path, partition_by="l_returnflag")
    back = read_orc(spark, path)
    assert back.count() == li.count()
    a = sorted(map(tuple, li.collect()))
    b = sorted(
        map(tuple, back.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag").collect())
    )
    assert a == b
    # partition pruning: only the matching hive dir is read
    plan = back.filter(F.col("l_returnflag") == "A")._jdf.queryExecution().executedPlan().toString()
    assert "l_returnflag" in plan
    # predicate pushdown on a data column reaches the ORC scan
    plan2 = (
        back.filter(F.col("l_quantity") > 40.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan2 and "l_quantity" in plan2.split("PushedFilters")[1][:120]


def test_duplicate_substring_spans_verification_property(spark):
    """Exactness on a messy deterministic corpus: the reported spans
    equal an independent python recomputation — duplicated k-gram
    cover intervals, merged when overlapping or token-adjacent,
    filtered to >= min_tokens. Covers overlap merging, adjacency
    fusing, and span maximality in one set equality."""
    from collections import Counter

    from mdataframe_spark.operators.dedup import duplicate_substring_spans

    k, min_tokens = 4, 5
    # deterministic corpus with overlapping repeats and noise
    vocab = ["red", "blue", "green", "gold", "iron", "clay", "moss", "salt"]
    texts = {}
    for i in range(30):
        toks = [vocab[(i * 3 + j * 5) % len(vocab)] for j in range(12)]
        if i % 4 == 0:
            toks[3:3] = ["one", "two", "three", "four", "five", "six"]
        if i % 6 == 0:
            toks += ["alpha", "beta", "gamma", "delta", "epsilon"]
        texts[i] = toks
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in texts.items()], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_substring_spans(docs, min_tokens=min_tokens, k=k).collect()
    }
    assert got, "fixture must produce at least one span"

    # independent recomputation: corpus k-gram counts -> seed intervals
    # -> merge overlapping/adjacent -> length filter
    kc = Counter()
    for toks in texts.values():
        for j in range(len(toks) - k + 1):
            kc[tuple(toks[j : j + k])] += 1
    expected = set()
    for i, toks in texts.items():
        seeds = [
            (j, j + k - 1)
            for j in range(len(toks) - k + 1)
            if kc[tuple(toks[j : j + k])] >= 2
        ]
        merged = []
        for s, e in seeds:
            if merged and s <= merged[-1][1] + 1:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        for s, e in merged:
            if e - s + 1 >= min_tokens:
                expected.add((i, s, e, e - s + 1))
    assert got == expected


def test_duplicate_spans_against_incremental(spark):
    """Incremental ExactSubstr: a new batch probed against a stored
    corpus k-gram index finds (a) spans shared with the corpus,
    (b) within-batch duplicates — and agrees exactly with the batch
    pass run over corpus+batch together."""
    from mdataframe_spark.operators.dedup import (
        duplicate_spans_against,
        duplicate_substring_spans,
        kgram_index,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, "stored doc alpha " + boiler),
            (2, "stored doc beta entirely unique words here today"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, "fresh prefix " + boiler + " fresh tail"),   # dup vs corpus
            (101, "clean doc nothing shared with anything at all"),
            (102, "z " + "only in batch shared sentence one two three four five" + " q"),
            (103, "y " + "only in batch shared sentence one two three four five" + " r"),
        ],
        ["doc_id", "text"],
    )
    idx = kgram_index(corpus, k=8)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans_against(batch, idx, min_tokens=10, k=8).collect()
    }
    # equivalence: batch pass over corpus+batch, restricted to batch ids
    full = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_substring_spans(
            corpus.unionByName(batch), min_tokens=10, k=8
        ).collect()
        if r["doc_id"] >= 100
    }
    assert got == full
    assert any(d == 100 for d, *_ in got)          # corpus-shared span found
    assert any(d == 102 for d, *_ in got) and any(d == 103 for d, *_ in got)
    assert not any(d == 101 for d, *_ in got)      # clean doc stays clean


def test_semantic_dedup_argmax_paths_agree(spark):
    """The broadcast-table argmax (small K) and the Arrow-batched BLAS
    argmax (K scaled with the corpus) assign IDENTICAL clusters and
    keep decisions — same rounding convention, same (cos DESC, cid ASC)
    tie-break."""
    from mdataframe_spark.operators.dedup import semantic_dedup

    # deterministic vectors with duplicate rows (forces tau decisions)
    rows = []
    for i in range(120):
        base = [((i % 17) * 7 + d * 3) % 13 - 6.0 for d in range(8)]
        rows.append((i, [float(x) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = semantic_dedup(
        df, tau=0.9, n_clusters=16, assign="seed", argmax_arrow_threshold=64
    )
    b = semantic_dedup(
        df, tau=0.9, n_clusters=16, assign="seed", argmax_arrow_threshold=0
    )
    ra = sorted(tuple(r) for r in a.select("vec_id", "cluster", "kept").collect())
    rb = sorted(tuple(r) for r in b.select("vec_id", "cluster", "kept").collect())
    assert ra == rb


def test_c4_clean_line_and_page_rules(spark):
    """Raffel et al. 2020 §2.2 rules on a hand-built fixture: terminal
    punctuation, >=5 words, javascript lines, sentence minimum, curly
    braces, lorem ipsum."""
    from mdataframe_spark.operators.text import c4_clean

    good = "this is a perfectly fine sentence."
    pages = [
        # 3 good sentences -> kept page
        (1, f"{good}\n{good}\n{good}"),
        # line without terminal punctuation dropped; only 2 sentences -> drop page
        (2, f"{good}\nno terminal punctuation here at all\n{good}"),
        # short line dropped even with punctuation
        (3, f"{good}\ntoo short.\n{good}\n{good}"),
        # javascript line dropped
        (4, f"{good}\nplease enable javascript to view this page.\n{good}\n{good}"),
        # curly brace in a KEPT line kills the page
        (5, f"{good}\nthis kept line has braces {{x}} in it ok.\n{good}"),
        # lorem ipsum kills the page
        (6, f"{good}\nlorem ipsum dolor sit amet consectetur adipiscing.\n{good}"),
        # question marks / quotes count as terminal
        (7, 'is this a question with words?\n"a quoted sentence with five words."\n' + good),
    ]
    df = spark.createDataFrame(pages, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in c4_clean(df).collect()}

    assert out[1]["n_lines_kept"] == 3 and out[1]["keep_doc"]
    assert out[2]["n_lines_kept"] == 2 and not out[2]["keep_doc"]
    assert out[3]["n_lines_kept"] == 3 and out[3]["n_lines_dropped"] == 1
    assert out[4]["n_lines_kept"] == 3 and "javascript" not in out[4]["clean_text"]
    assert out[5]["n_lines_kept"] == 3 and not out[5]["keep_doc"]
    assert not out[6]["keep_doc"]
    assert out[7]["n_lines_kept"] == 3 and out[7]["keep_doc"]
    # kept text is the trimmed kept lines, newline-joined
    assert out[1]["clean_text"] == "\n".join([good] * 3)


def test_heavy_hitters_exact_vs_groupby(spark):
    """Output equals the exact GROUP BY ... HAVING result on a skewed
    corpus regardless of partitioning, and the per-batch candidate
    stage never emits a key it shouldn't keep (verification prunes)."""
    import random

    from mdataframe_spark.operators.sketches import heavy_hitters

    rng = random.Random(3)
    # zipf-ish: a few hot keys + a long uniform tail
    rows = (
        [("hot_a",)] * 400
        + [("hot_b",)] * 250
        + [("warm",)] * 60
        + [(f"tail_{rng.randint(0, 2000)}",) for _ in range(1300)]
    )
    rng.shuffle(rows)
    k = 20  # threshold = 2010/20 = 100.5
    exact = {}
    for (w,) in rows:
        exact[w] = exact.get(w, 0) + 1
    expected = {w: c for w, c in exact.items() if c > len(rows) / k}

    for parts in (1, 7, 32):
        df = spark.createDataFrame(rows, ["word"]).repartition(parts)
        got = {
            r["word"]: r["count"]
            for r in heavy_hitters(df, "word", k=k).collect()
        }
        assert got == expected, parts


def test_heavy_hitters_degenerate_and_nulls(spark):
    from mdataframe_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame(
        [("x",)] * 50 + [(None,)] * 10, ["word"]
    ).repartition(5)
    got = {r["word"]: r["count"] for r in heavy_hitters(df, "word", k=2).collect()}
    assert got == {"x": 50}

    import pytest as _pt

    with _pt.raises(ValueError):
        heavy_hitters(df, "word", k=1)


# ---------------------------------------------------------------------------
# round 6: char entropy / corpus profile / cross-source overlap /
# centroid outliers
# ---------------------------------------------------------------------------
def test_char_entropy_exact_and_edges(spark):
    import math

    from mdataframe_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "aabb"), (4, ""), (5, None)],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["char_entropy"] for r in char_entropy(df).collect()}
    assert out[1] == 0.0            # single symbol: zero entropy
    assert out[2] == 1.0            # two equiprobable symbols: 1 bit
    assert out[3] == 1.0
    assert out[4] is None and out[5] is None
    # pin against the direct definition on a mixed string
    s = "mississippi river"
    df2 = spark.createDataFrame([(1, s)], "doc_id int, text string")
    got = char_entropy(df2).collect()[0]["char_entropy"]
    from collections import Counter

    n = len(s)
    expect = round(
        math.log2(n)
        - sum(round(c * math.log2(c), 9) for c in Counter(s).values()) / n,
        6,
    )
    assert abs(got - expect) < 1e-9


def test_corpus_profile_stats(spark):
    from mdataframe_spark.operators.datasets import corpus_profile

    rows = [
        (1, "a b c", "s1", "en", 5),
        (2, "a b", "s1", "en", 3),
        (3, "x", "s1", "de", 1),
        (4, "p q r s", "s2", "en", 7),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string, lang string, n_chars long")
    out = {(r["source"], r["lang"]): r for r in corpus_profile(df).collect()}
    r = out[("s1", "en")]
    assert r["n_docs"] == 2 and r["total_tokens"] == 5 and r["total_chars"] == 8
    assert r["avg_chars"] == 4.0 and r["p50_chars"] == 4.0
    # p95 linear interpolation between 3 and 5 at fraction 0.95
    assert abs(r["p95_chars"] - (3 + 0.95 * 2)) < 1e-9
    assert out[("s2", "en")]["n_docs"] == 1
    # approximate path returns the same shape
    ap = corpus_profile(df, approximate=True)
    assert set(ap.columns) == set(r.asDict())


def test_cross_source_ngram_overlap_exact(spark):
    from mdataframe_spark.operators.dedup import cross_source_ngram_overlap

    # s1 and s2 share exactly one distinct 2-gram ("b c"); s3 disjoint
    df = spark.createDataFrame(
        [
            (1, "a b c", "s1"),
            (2, "b c d", "s2"),
            (3, "x y z", "s3"),
        ],
        "doc_id int, text string, source string",
    )
    out = {
        (r["src_a"], r["src_b"]): r
        for r in cross_source_ngram_overlap(df, shingle_n=2).collect()
    }
    r = out[("s1", "s2")]
    # vocabularies: s1 {a b, b c}, s2 {b c, c d} -> shared 1, union 3
    assert r["shared_grams"] == 1
    assert abs(r["jaccard"] - round(1 / 3, 6)) < 1e-9
    assert abs(r["containment"] - 0.5) < 1e-9
    # disjoint pairs produce no row (inner join on shared grams)
    assert ("s1", "s3") not in out and ("s2", "s3") not in out


def test_centroid_outliers_flags_far_vector(spark):
    from mdataframe_spark.operators.similarity import centroid_outliers

    # label 0: three near-identical vectors + one anti-aligned outlier
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0, 0.0], 0),
        (3, [1.0, 0.05, 0.0, 0.0], 0),
        (4, [-1.0, 0.0, 0.0, 0.0], 0),
        (5, [0.0, 0.0, 1.0, 0.0], 1),
        (6, [0.0, 0.0, 0.9, 0.1], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>, label int")
    out = {r["vec_id"]: r for r in centroid_outliers(df, threshold=0.5).collect()}
    assert len(out) == 6
    assert not out[1]["is_outlier"] and not out[2]["is_outlier"]
    assert out[4]["is_outlier"] and out[4]["cos_centroid"] < 0
    assert not out[5]["is_outlier"] and not out[6]["is_outlier"]
    # cosine of an aligned member is high
    assert out[1]["cos_centroid"] > 0.9


def test_zipf_fit_recovers_powerlaw(spark):
    import math

    from mdataframe_spark.operators.text import zipf_fit

    # construct a corpus whose token counts follow count = 64 / rank
    # exactly: token t_r appears round(64/r) times, r = 1..8
    words = []
    for r in range(1, 9):
        words += [f"tok{r:02d}"] * round(64 / r)
    df = spark.createDataFrame([(1, " ".join(words), "s1")],
                               "doc_id int, text string, source string")
    out = zipf_fit(df, top_k=8).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_ranks"] == 8
    # slope should be near -1 (rounding of 64/r makes it inexact)
    assert -1.1 < row["zipf_slope"] < -0.9
    assert row["zipf_r2"] > 0.99
    # intercept near log2(64) = 6
    assert abs(row["zipf_intercept"] - 6.0) < 0.2
    # rank ties break by token: equal-count tokens get deterministic ranks
    df2 = spark.createDataFrame(
        [(1, "b b a a c c", "s1")], "doc_id int, text string, source string"
    )
    twice = [zipf_fit(df2, top_k=3).collect()[0]["zipf_slope"] for _ in range(2)]
    assert twice[0] == twice[1]


def test_corpus_diff_statuses(spark):
    from mdataframe_spark.operators.datasets import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "Delta  ")],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta CHANGED"), (4, "delta"), (9, "new doc")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",  # fingerprint is lower(trim(...)): whitespace/case-insensitive
        9: "added",
    }


def test_quality_gate_rules_compose(spark):
    from mdataframe_spark.operators.text import quality_gate

    rows = [
        # healthy english prose: passes everything
        (1, "the history of science is that it covers the motion of the "
            "planets and the nature of light in a way that is clear to all"),
        # too few tokens -> gopher fails
        (2, "the short one"),
        # repeated single char -> entropy floor fails
        (3, "aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa"),
        # empty -> everything coalesces to False, never null
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in quality_gate(
            df, entropy_band=(2.0, 6.0), min_tokens=10, min_stopwords=1
        ).collect()
    }
    assert out[1]["keep_quality"] is True and out[1]["predicted_lang"] == "en"
    assert out[2]["keep_quality"] is False and out[2]["r_entropy"] is True
    assert out[3]["keep_quality"] is False and out[3]["r_entropy"] is False
    assert out[4]["keep_quality"] is False  # coalesced, not null
    assert all(isinstance(r["keep_quality"], bool) for r in out.values())


def test_read_xlsx_rows_handles_shared_strings_and_gaps(tmp_path):
    """The stdlib xlsx reader's branches that the native-writer
    roundtrip can't reach: sharedStrings indirection (openpyxl-style
    files), missing cells inside a row, booleans and floats."""
    import zipfile

    from mdataframe_spark.sources.readers import read_xlsx_rows

    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c></row>'
        # A2 missing, B2 bool, C2 float
        '<row r="2"><c r="B2" t="b"><v>1</v></c><c r="C2"><v>2.5</v></c></row>'
        '<row r="3"><c r="A3"><v>7</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<si><t>ca</t></si><si><t>cb</t></si><si><t>cc</t></si></sst>"
    )
    path = tmp_path / "t.xlsx"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", shared)
    header, rows = read_xlsx_rows(str(path))
    assert header == ["ca", "cb", "cc"]
    assert rows == [[None, True, 2.5], [7, None, None]]


# ---------------------------------------------------------------------------
# round 7: REAL stdlib PNG decoder (multimodal decode is no longer a
# stub for PNG payloads)
# ---------------------------------------------------------------------------
def _filter_scanlines(pixels, width, height, ch, ftype):
    """INDEPENDENT forward PNG filtering (spec §9) written in the test,
    so decode_png's unfilter is checked against a second
    implementation, not itself."""
    stride = width * ch
    out = b""
    prev = bytes(stride)
    for r in range(height):
        line = pixels[r * stride:(r + 1) * stride]
        f = bytearray([ftype])
        for i in range(stride):
            x = line[i]
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                v = x
            elif ftype == 1:
                v = (x - a) & 0xFF
            elif ftype == 2:
                v = (x - b) & 0xFF
            elif ftype == 3:
                v = (x - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (x - pr) & 0xFF
            f.append(v)
        out += bytes(f)
        prev = line
    return out


def test_png_roundtrip_all_color_types():
    from mdataframe_spark.operators.multimodal import decode_png, encode_png

    for ctype, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        w, h = 7, 5
        px = bytes((i * 37 + ctype * 11) % 256 for i in range(w * h * ch))
        img = decode_png(encode_png(w, h, px, color_type=ctype))
        assert (img["width"], img["height"], img["channels"]) == (w, h, ch)
        assert img["bit_depth"] == 8
        assert bytes(img["pixels"]) == px


def test_png_unfilter_against_independent_forward_filter():
    """Hand-assemble PNGs whose IDAT uses each filter type (the stdlib
    encoder only emits filter 0, so this is the only way the
    Sub/Up/Average/Paeth branches get real coverage)."""
    import struct
    import zlib

    from mdataframe_spark.operators.multimodal import PNG_MAGIC, decode_png

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    w, h, ch, ctype = 6, 4, 3, 2
    px = bytes((i * 113 + 29) % 256 for i in range(w * h * ch))
    for ftype in (0, 1, 2, 3, 4):
        raw = _filter_scanlines(px, w, h, ch, ftype)
        payload = (
            PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        img = decode_png(payload)
        assert bytes(img["pixels"]) == px, f"filter {ftype}"


def test_png_rejects_corruption_and_unsupported():
    import struct

    import pytest as _pytest

    from mdataframe_spark.operators.multimodal import decode_png, encode_png

    good = encode_png(4, 3, bytes(range(12)), color_type=0)
    # flip one IDAT byte -> CRC must catch it
    bad = bytearray(good)
    idat_at = good.index(b"IDAT") + 4
    bad[idat_at] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a" + good)
    with _pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-6])
    # 16-bit depth is honestly unsupported
    deep = bytearray(good)
    ihdr_at = good.index(b"IHDR")
    deep[ihdr_at + 12] = 16
    data = bytes(deep[ihdr_at : ihdr_at + 17])
    import zlib as _zlib
    crc = _zlib.crc32(data) & 0xFFFFFFFF
    deep[ihdr_at + 17 : ihdr_at + 21] = struct.pack(">I", crc)
    with _pytest.raises(ValueError, match="unsupported"):
        decode_png(bytes(deep))


def test_extract_features_real_png_and_text_mixed(spark):
    """extract_features dispatches per payload: real PNG decode for
    PNG bytes (width/height/channel means from unfiltered pixels),
    byte-sum fallback for text — in ONE Arrow-batched pass."""
    from mdataframe_spark.operators.multimodal import (
        _byte_sum_features,
        encode_png,
        extract_features,
    )

    w, h = 8, 4
    gray = bytes((i * 5) % 256 for i in range(w * h))
    png = encode_png(w, h, gray, color_type=0)
    txt = b"hello multimodal world"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(txt)), (3, None)],
        "media_id bigint, payload binary",
    )
    got = {r["media_id"]: r for r in extract_features(df, dim=8).collect()}
    f1 = got[1]["feature"]
    assert f1[0] == float(w) and f1[1] == float(h) and f1[2] == 1.0
    expect_mean = round(sum(gray) / 255.0 / (w * h), 9)
    assert f1[3] == expect_mean and f1[4] == expect_mean
    assert got[1]["n_bytes"] == len(png)
    assert list(got[2]["feature"]) == _byte_sum_features(txt, 8)
    assert got[3]["feature"] is None and got[3]["n_bytes"] is None


# ---------------------------------------------------------------------------
# round 7: Z-order layout clustering
# ---------------------------------------------------------------------------
def test_zorder_value_matches_python_morton(spark):
    from mdataframe_spark.operators.layout import zorder_value

    def morton(x, y, bits=21):
        m = (1 << bits) - 1
        x, y = max(0, min(x, m)), max(0, min(y, m))
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    rows = [(0, 0), (1, 0), (0, 1), (1, 1), (5, 9), (2**21 - 1, 3),
            (-7, 4), (2**30, 2)]  # clamp arms: negative and overflow
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    got = [
        r["z"]
        for r in df.select(zorder_value(["x", "y"]).alias("z"))
        .collect()
    ]
    assert got == [morton(x, y) for x, y in rows]
    # interleave order: bit b of col0 at 2b, col1 at 2b+1
    assert got[1] == 1 and got[2] == 2 and got[3] == 3


def test_zorder_repartition_improves_multicolumn_locality(spark):
    """The measurable point of Z-ordering: per-partition min/max spans
    shrink on BOTH interleaved columns vs a single-column ordering —
    i.e. zone maps would prune on either filter column."""
    from pyspark.sql import functions as F

    from mdataframe_spark.operators.layout import zorder_repartition

    n = 4096
    side = 64
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("bigint").alias("y"),
    )

    def total_span(frame, col):
        spans = (
            frame.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg((F.max(col) - F.min(col)).alias("s"))
        )
        return spans.agg(F.sum("s")).first()[0]

    z = zorder_repartition(df, ["x", "y"], n_files=16, bits=6)
    base = df.repartitionByRange(16, "x").sortWithinPartitions("x")
    # the x-sorted baseline is perfect on x but unpruned on y; z-order
    # must beat it decisively on y while staying bounded on x
    zy, by = total_span(z, "y"), total_span(base, "y")
    assert zy < by / 2, (zy, by)
    zx = total_span(z, "x")
    assert zx <= 16 * (side - 1)  # each file covers a bounded x window


# ---------------------------------------------------------------------------
# round 7: dedup retention policies
# ---------------------------------------------------------------------------
def test_soft_dedup_weights_hand_computed(spark):
    from mdataframe_spark.operators.dedup import soft_dedup_weights

    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id bigint")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    got = {r["doc_id"]: r for r in soft_dedup_weights(docs, pairs).collect()}
    assert got[1]["group_size"] == 3 and got[1]["weight"] == round(1 / 3, 9)
    assert got[1]["grp"] == got[2]["grp"] == got[3]["grp"] == 1
    for s in (4, 5):  # singletons: own group, full weight
        assert got[s]["group_size"] == 1 and got[s]["weight"] == 1.0
        assert got[s]["grp"] == s
    # training mass conservation: sum of weights == number of groups
    # (up to the 9-dp weight rounding: 3 * round(1/3, 9))
    import pytest as _p
    assert sum(r["weight"] for r in got.values()) == _p.approx(3.0, abs=1e-8)


def test_select_representatives_keeps_best_scorer(spark):
    from mdataframe_spark.operators.dedup import select_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 7)], "doc_id bigint, n_chars bigint"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    got = {
        r["doc_id"]: r["is_representative"]
        for r in select_representatives(docs, pairs).collect()
    }
    # group {1,2,3}: max score 99 tied between 2 and 3 -> min id 2 wins
    assert got == {1: False, 2: True, 3: False, 4: True}
    # keep="min": lowest scorer wins (doc 1, score 10 < 99)
    got_min = {
        r["doc_id"]: r["is_representative"]
        for r in select_representatives(docs, pairs, keep="min").collect()
    }
    assert got_min[1] is True and got_min[2] is False
    import pytest as _p
    with _p.raises(ValueError):
        select_representatives(docs, pairs, keep="median")


def test_tfidf_topk_hand_computed(spark):
    import math

    from mdataframe_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "banana cherry cherry date"),
        ],
        "doc_id bigint, text string",
    )
    out = [
        (r["doc_id"], r["term"], r["tf"], r["df"], r["tfidf"], r["rank"])
        for r in tfidf_topk(docs, k=2, min_df=2).collect()
    ]
    got = {(d, t): (tf, df, s) for d, t, tf, df, s, _ in out}
    # df: apple 2, banana 2, cherry 2; date df=1 -> dropped by min_df
    assert all(t != "date" for _, t in got)
    idf = round(math.log(3 / 2), 9)
    assert got[(1, "apple")] == (2, 2, round(2 * idf, 6))
    assert got[(3, "cherry")] == (2, 2, round(2 * idf, 6))
    # rank 1 per doc is the highest-tfidf term (ties -> lexicographic)
    rank1 = {d: t for d, t, _, _, _, r in out if r == 1}
    assert rank1 == {1: "apple", 2: "apple", 3: "cherry"}


def test_decode_features_falls_back_on_bad_png(spark):
    """A payload that LOOKS like a PNG but fails to decode must
    degrade to byte-sum features, never raise (one bad blob must not
    kill the whole mapInPandas task)."""
    from mdataframe_spark.operators.multimodal import (
        PNG_MAGIC,
        _byte_sum_features,
        decode_features,
        encode_png,
    )

    bad = PNG_MAGIC + b"garbage-after-the-magic"
    assert decode_features(bad) == _byte_sum_features(bad)
    # CRC-corrupt real PNG also falls back
    good = encode_png(4, 3, bytes(range(12)), color_type=0)
    corrupt = bytearray(good)
    corrupt[good.index(b"IDAT") + 4] ^= 0xFF
    corrupt = bytes(corrupt)
    assert decode_features(corrupt) == _byte_sum_features(corrupt)


def test_quantile_normalize_rejects_equal_null_counts(spark):
    """Equal per-sample null counts pass the per-rank width check but
    still misalign ranks — the total-cell guard must catch them."""
    import pytest as _p

    from mdataframe_spark.functions.norm import quantile_normalize

    df = spark.createDataFrame(
        [(0, None, 1.0), (1, 2.0, None), (2, 3.0, 4.0)],
        "gid bigint, s1 double, s2 double",
    )
    with _p.raises(ValueError, match="misalign"):
        quantile_normalize(df, ["s1", "s2"], index_column="gid")
