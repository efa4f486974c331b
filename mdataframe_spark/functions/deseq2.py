"""Native DESeq2 Wald pipeline (reference: differential.py:153-270).

Reproduces DESeq2's published algorithm (Love, Huber & Anders 2014)
natively: median-of-ratios size factors → gene-wise dispersion MLE
(Cox-Reid adjusted) → parametric dispersion-mean trend (gamma IRLS of
disp ~ a1/mu + a0) → log-normal empirical-Bayes shrinkage to MAP
dispersions (with outlier escape: genes far above the trend keep their
gene-wise estimate) → one-way NB GLM Wald test.

Output-column contract matches the reference (differential.py:184-206):
``baseMean/log2FC/lfcSE/stat/p/FDR (name)``.

Execution shape mirrors EdgeR_Unpaired (differential.py): gene-wise
dispersions in mapInPandas; the trend and prior width are fitted on
the driver from one collect of (gene_disp, base_mean), two float64 per
gene (``fit_dispersion_trend_and_prior``); MAP + Wald run per gene in
a second pass.

Parity: size factors, baseMean and the Wald math are exact; the
dispersion layer follows DESeq2's estimators but cannot be
cross-checked against R internals here — golden tolerances are
documented in tests/test_deseq2_golden.py.
"""

from __future__ import annotations

from typing import Collection, Dict, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import persist_tracked
from ..transformer import Transformer
from . import edger
from .numerics import pnorm
from .stats import bh_adjust

# LRT general-design grid: coarser (each point is a full GLM fit)
LRT_GRID_LENGTH = 17
LRT_GRID_RANGE = (-10.0, 6.0)


def size_factors(y: np.ndarray) -> np.ndarray:
    """Median-of-ratios size factors (DESeq2 estimateSizeFactors)."""
    y = np.asarray(y, dtype=float)
    pos = (y > 0).all(axis=1)
    logs = np.log(y[pos])
    log_geo = logs.mean(axis=1, keepdims=True)
    return np.exp(np.median(logs - log_geo, axis=0))


def size_factors_distributed(df, cols) -> np.ndarray:
    """Exact median-of-ratios size factors, distributed (DESeq2
    estimateSizeFactors): per-sample median of (log y - rowmean log y)
    via ``percentile`` on the genes with all counts positive. One
    aggregation job; #samples scalars reach the driver. Shared by the
    Wald, LRT and VST pipelines and the ``stat_deseq2_base`` oracle
    query."""
    cols = list(cols)
    n = len(cols)
    all_pos = None
    for c in cols:
        cond = F.col(c) > 0
        all_pos = cond if all_pos is None else (all_pos & cond)
    logmean = sum(F.log(F.col(c)) for c in cols) / n
    med = (
        df.filter(all_pos)
        .select(*[(F.log(F.col(c)) - logmean).alias(f"r_{c}") for c in cols])
        .agg(*[F.expr(f"percentile(`r_{c}`, 0.5)").alias(c) for c in cols])
        .collect()[0]
    )
    return np.array([np.exp(float(med[c])) for c in cols])


def wald_one_way(y, group, sf, dispersion, minmu: float = 0.5):
    """One-way NB GLM Wald test at given dispersions.

    Returns (log2FC a-vs-b, lfcSE, stat, pvalue). Group means are the
    per-group NB MLEs with offsets log(sf); the covariance is the
    standard (XᵀWX)⁻¹ with W = μ/(1+φμ), which for the one-way design
    gives Var(effect) = 1/Σ_A w + 1/Σ_B w.
    """
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    disp = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    offs = np.log(sf)[None, :]
    sw = {}
    beta = {}
    for grp in ("a", "b"):
        j = group == grp
        b = edger.mglm_one_group(y[:, j], disp, np.broadcast_to(offs, (g, n))[:, j])
        # zero-count groups: mglm returns -inf; floor mu at minmu
        mu = np.exp(b[:, None] + offs[:, j]) if offs.shape[0] > 1 else np.exp(
            b[:, None] + np.log(sf[j])[None, :]
        )
        mu = np.maximum(mu, minmu)
        w = mu / (1.0 + disp[:, None] * mu)
        sw[grp] = w.sum(axis=1)
        beta[grp] = np.log(np.maximum(np.exp(b), minmu / sf[j].max()))
    lfc = (beta["a"] - beta["b"]) / np.log(2.0)
    se = np.sqrt(1.0 / sw["a"] + 1.0 / sw["b"]) / np.log(2.0)
    stat = lfc / se
    pval = 2.0 * pnorm(-np.abs(stat))
    return lfc, se, stat, pval


MIN_DISP = 1e-8
MIN_MU = 0.5


def rough_moments_init(y, group, sf, df_resid):
    """DESeq2 initial dispersion: min(roughDispEstimate, momentsDisp).

    rough: normalized-count linear-model residual moments; moments:
    (var − ξ̄·mean)/mean² with ξ̄ the mean reciprocal size factor."""
    y = np.asarray(y, dtype=float)
    norm = y / np.asarray(sf, dtype=float)[None, :]
    mu_lin = np.empty_like(norm)
    for grp in np.unique(group):
        j = group == grp
        mu_lin[:, j] = norm[:, j].mean(axis=1, keepdims=True)
    mu_lin = np.maximum(mu_lin, 1.0)
    rough = np.maximum(
        (((norm - mu_lin) ** 2 - mu_lin) / mu_lin ** 2).sum(axis=1)
        / max(df_resid, 1),
        0.0,
    )
    xim = float(np.mean(1.0 / np.asarray(sf, dtype=float)))
    bv = norm.var(axis=1, ddof=1)
    bm = norm.mean(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        moments = np.where(bm > 0, (bv - xim * bm) / np.maximum(bm, 1e-300) ** 2, 0.0)
    max_disp = float(max(10, y.shape[1]))
    return np.clip(np.minimum(rough, moments), MIN_DISP, max_disp)


def fit_mu_oneway(y, group, sf, alpha, minmu: float = MIN_MU):
    """One-way NB GLM fitted means at the given dispersions, floored at
    minmu (DESeq2 fitNbinomGLMs for the gene-est stage)."""
    y = np.asarray(y, dtype=float)
    offs = np.log(np.asarray(sf, dtype=float))
    mu = np.empty_like(y)
    for grp in np.unique(group):
        j = group == grp
        b = edger.mglm_one_group(y[:, j], alpha, offs[None, j])
        mu[:, j] = np.exp(b[:, None] + offs[None, j])
    return np.maximum(mu, minmu)


def _cr_logpost_grad(y, mu, group, log_alpha, prior_mean=None, prior_var=None):
    """Cox-Reid adjusted log posterior and its d/d(log alpha), with mu
    FIXED (DESeq2 C++ log_posterior/dlog_posterior). One-way design:
    det(XᵀWX) factorizes into the product of group weight sums."""
    from .numerics import gammaln

    a = np.exp(log_alpha)
    r = 1.0 / a
    ll = (
        gammaln(y + r[:, None]) - gammaln(r)[:, None]
        - (y + r[:, None]) * np.log(mu + r[:, None])
        + (r * np.log(r))[:, None]
        + y * np.log(mu)
    ).sum(axis=1)
    w = 1.0 / (1.0 / mu + a[:, None])
    dw = -a[:, None] * w ** 2
    cr = np.zeros(len(a))
    dcr = np.zeros(len(a))
    for grp in np.unique(group):
        j = group == grp
        sw = np.maximum(w[:, j].sum(axis=1), 1e-300)
        cr += 0.5 * np.log(sw)
        dcr += 0.5 * dw[:, j].sum(axis=1) / sw
    dll_dr = (
        edger.digamma(y + r[:, None])
        - edger.digamma(np.broadcast_to(r[:, None], y.shape))
        - np.log(mu + r[:, None])
        - (y + r[:, None]) / (mu + r[:, None])
        + (np.log(r) + 1.0)[:, None]
    ).sum(axis=1)
    lp = ll - cr
    g = -r * dll_dr - dcr
    if prior_mean is not None:
        lp = lp - 0.5 * (log_alpha - prior_mean) ** 2 / prior_var
        g = g - (log_alpha - prior_mean) / prior_var
    return lp, g


def fit_disp_steepest(
    y, mu, group, log_alpha_init,
    prior_mean=None, prior_var=None,
    kappa_0: float = 1.0, tol: float = 1e-6, maxit: int = 100,
    epsilon: float = 1e-4,
):
    """DESeq2 C++ fitDisp: steepest ascent on log alpha with Armijo
    backtracking and adaptive step kappa; stops when the step
    kappa·|grad| drops below tol.

    The stall at a minDisp start is LOAD-BEARING for R parity: for
    genes whose rough/moments init is ~0 the gradient in log-alpha
    scales with alpha itself, so the ascent 'converges' immediately at
    the boundary — those genes get dispGeneEst = minDisp, fall below
    the 100·minDisp trend filter, and are later pulled to the trend by
    the MAP prior, exactly as DESeq2 does."""
    y = np.asarray(y, dtype=float)
    g = len(log_alpha_init)
    min_log_alpha = np.log(MIN_DISP / 10.0)
    max_log_alpha = np.log(float(max(10, y.shape[1])) * 4.0)
    a = np.asarray(log_alpha_init, dtype=float).copy()
    lp, grad = _cr_logpost_grad(y, mu, group, a, prior_mean, prior_var)
    kappa = np.full(g, kappa_0)
    # most genes converge in a handful of steps; evaluating the special
    # functions only on the ACTIVE subset makes total work proportional
    # to the sum of per-gene iterations, not genes x maxit
    idx = np.nonzero(np.abs(kappa * grad) >= tol)[0]
    for _ in range(maxit):
        if len(idx) == 0:
            break
        ai = a[idx]
        ki = kappa[idx]
        gi = grad[idx]
        prop = np.clip(ai + ki * gi, min_log_alpha, max_log_alpha)
        pm = prior_mean[idx] if prior_mean is not None else None
        lp_prop, grad_prop = _cr_logpost_grad(
            y[idx], mu[idx], group, prop, pm, prior_var
        )
        accept = lp_prop >= lp[idx] + epsilon * ki * gi * gi
        a[idx] = np.where(accept, prop, ai)
        lp[idx] = np.where(accept, lp_prop, lp[idx])
        grad[idx] = np.where(accept, grad_prop, gi)
        kappa[idx] = np.where(accept, np.minimum(ki * 1.1, 10.0), ki / 2.0)
        still = np.abs(kappa[idx] * grad[idx]) >= tol
        idx = idx[still]
    converged = np.ones(g, dtype=bool)
    converged[idx] = False
    return a, converged


def fit_disp_grid(y, mu, group, prior_mean=None, prior_var=None, grid_n: int = 20):
    """DESeq2 fitDispGrid: coarse log-alpha grid argmax + one fine grid
    around the winner — the fallback for non-converged ascents."""
    y = np.asarray(y, dtype=float)
    g = y.shape[0]
    max_disp = float(max(10, y.shape[1]))
    grid = np.linspace(np.log(MIN_DISP), np.log(max_disp), grid_n)
    vals = np.stack(
        [
            _cr_logpost_grad(y, mu, group, np.full(g, x), prior_mean, prior_var)[0]
            for x in grid
        ],
        axis=1,
    )
    best = grid[np.argmax(vals, axis=1)]
    delta = grid[1] - grid[0]
    offsets = np.linspace(-delta, delta, grid_n)
    fine_vals = np.stack(
        [
            _cr_logpost_grad(y, mu, group, best + o, prior_mean, prior_var)[0]
            for o in offsets
        ],
        axis=1,
    )
    return best + offsets[np.argmax(fine_vals, axis=1)]


def gene_dispersions(y, group, sf, niter: int = 7):
    """DESeq2 estimateDispersionsGeneEst: alternate the one-way GLM mu
    fit and the mu-fixed CR dispersion ascent until each gene's log
    estimate moves < 0.05, grid-refitting non-converged genes.

    Returns (gene_est, mu, base_mean)."""
    y = np.asarray(y, dtype=float)
    n_groups = len(np.unique(group))
    df_resid = y.shape[1] - n_groups
    max_disp = float(max(10, y.shape[1]))
    sf = np.asarray(sf, dtype=float)
    alpha = rough_moments_init(y, group, sf, df_resid)
    mu_store = np.empty_like(y)
    fitidx = np.ones(len(y), dtype=bool)
    for _ in range(niter):
        if not fitidx.any():
            break
        sub = np.nonzero(fitidx)[0]
        mu = fit_mu_oneway(y[sub], group, sf, alpha[sub])
        mu_store[sub] = mu
        la, conv = fit_disp_steepest(y[sub], mu, group, np.log(alpha[sub]))
        new = np.minimum(np.exp(la), max_disp)
        if (~conv).any():
            gr = fit_disp_grid(y[sub][~conv], mu[~conv], group)
            new[~conv] = np.minimum(np.exp(gr), max_disp)
        delta = np.abs(np.log(np.maximum(new, MIN_DISP)) - np.log(alpha[sub]))
        alpha[sub] = new
        fitidx[sub] = delta > 0.05
    gene_est = np.maximum(alpha, MIN_DISP)
    base_mean = (y / sf[None, :]).mean(axis=1)
    return gene_est, mu_store, base_mean


def map_dispersions_mu_fixed(
    y, mu, group, gene_est, base_mean, a0, a1, prior_var, outlier_sd
):
    """DESeq2 estimateDispersionsMAP: maximize the mu-fixed CR
    posterior with the log-normal trend prior, starting from the gene
    estimate; dispersion outliers (log est > log trend + 2·sd(logs))
    keep their gene-wise estimate."""
    y = np.asarray(y, dtype=float)
    trend = a0 + a1 / np.maximum(base_mean, 1e-8)
    pm = np.log(np.maximum(trend, 1e-10))
    la, conv = fit_disp_steepest(
        y, mu, group, np.log(np.maximum(gene_est, MIN_DISP)),
        prior_mean=pm, prior_var=prior_var,
    )
    dmap = np.exp(la)
    if (~conv).any():
        gr = fit_disp_grid(
            y[~conv], mu[~conv], group,
            prior_mean=pm[~conv], prior_var=prior_var,
        )
        dmap[~conv] = np.exp(gr)
    outlier = np.log(gene_est) > np.log(trend) + outlier_sd
    final = np.where(outlier, gene_est, dmap)
    return np.clip(final, MIN_DISP, float(max(10, y.shape[1])))


def _parametric_trend_numpy(gd: np.ndarray, bm: np.ndarray):
    """DESeq2 parametricDispersionFit on collected pairs: outer loop
    re-selects genes whose ratio to the fit is within (1e-4, 15), inner
    gamma-GLM IRLS (identity link) to convergence."""
    coefs = np.array([0.1, 1.0])
    if len(gd) == 0:
        return float(coefs[0]), float(coefs[1])
    for _outer in range(10):
        resid = gd / (coefs[0] + coefs[1] / bm)
        good = (resid > 1e-4) & (resid < 15.0)
        if not good.any():
            break
        mg, dg = bm[good], gd[good]
        c = coefs.copy()
        for _inner in range(50):
            mu_fit = c[0] + c[1] / mg
            w = 1.0 / mu_fit ** 2
            x = 1.0 / mg
            sw, swx = w.sum(), (w * x).sum()
            swxx = (w * x * x).sum()
            swy, swxy = (w * dg).sum(), (w * x * dg).sum()
            det = sw * swxx - swx ** 2
            if det == 0:
                break
            new = np.array(
                [
                    (swxx * swy - swx * swxy) / det,
                    (sw * swxy - swx * swy) / det,
                ]
            )
            moved = np.abs(new - c).sum()
            c = np.array([max(new[0], 1e-8), max(new[1], 0.0)])
            if moved < 1e-10:
                break
        prev = coefs
        coefs = c
        if (
            np.log(max(coefs[0], 1e-12) / max(prev[0], 1e-12)) ** 2
            + np.log(max(coefs[1], 1e-12) / max(prev[1], 1e-12)) ** 2
        ) < 1e-6:
            break
    return float(coefs[0]), float(coefs[1])


def fit_dispersion_trend_and_prior(curves: DataFrame, df_resid: int, index_column: str):
    """Parametric dispersion-mean trend + empirical-Bayes prior width
    from a DataFrame of per-gene (gene_disp, base_mean) columns.

    One Arrow collect brings the usable genes' (index, gene_disp,
    base_mean) to the driver: two float64 plus the index per gene,
    about 16 MB at 10^6 genes. Rows are sorted by the index, so the
    IRLS sums do not depend on the partition order. Trend: DESeq2
    parametricDispersionFit (``_parametric_trend_numpy``). Prior
    variance: MAD of log residuals around the trend, minus the expected
    sampling variance trigamma(df_resid/2), floored at 0.25 (DESeq2
    estimateDispersionsMAP). Returns (a0, a1, prior_var, outlier_sd);
    shared by the Wald and LRT pipelines.
    """
    # DESeq2 estimateDispersionsFit: only genes with a real gene-wise
    # estimate (above 100*minDisp — minDisp-stalled genes carry no
    # dispersion information) feed the trend and the prior width
    pairs = (
        curves.filter((F.col("gene_disp") > 100 * MIN_DISP) & (F.col("base_mean") > 0))
        .select(index_column, "gene_disp", "base_mean")
        .toPandas()
        .sort_values(index_column, kind="stable")
    )
    gd = pairs["gene_disp"].to_numpy(dtype=float)
    bm = pairs["base_mean"].to_numpy(dtype=float)
    a0, a1 = _parametric_trend_numpy(gd, bm)
    resid = np.log(gd) - np.log(a0 + a1 / bm)
    med = float(np.median(resid)) if len(resid) else 0.0
    mad = float(np.median(np.abs(resid - med))) if len(resid) else 0.0
    var_log_disp = (1.4826 * mad) ** 2
    prior_var = max(
        var_log_disp - float(edger.trigamma(np.array([max(df_resid, 1) / 2.0]))[0]),
        0.25,
    )
    outlier_sd = 2.0 * np.sqrt(max(var_log_disp, 1e-8))
    return a0, a1, prior_var, outlier_sd


def map_dispersions(l0, spline_pts, gene_disp, base_mean, a0, a1, prior_var, outlier_sd):
    """MAP dispersion per gene: log-normal prior centered on the trend
    added to the APL curve, spline argmax, with DESeq2's outlier escape
    (genes far above the trend keep the gene-wise MLE). Vectorized over
    the batch; shared by the Wald and LRT pipelines."""
    trend = a0 + a1 / np.maximum(base_mean, 1e-8)
    log_prior_mean = np.log(np.maximum(trend, 1e-10))
    prior = -0.5 * (
        (np.log(0.1) + np.log(2.0) * spline_pts)[None, :] - log_prior_mean[:, None]
    ) ** 2 / prior_var
    pts = edger.maximize_interpolant(spline_pts, l0 + prior)
    map_disp = np.maximum(0.1 * 2.0 ** pts, 1e-8)
    outlier = np.log(gene_disp) > np.log(trend) + outlier_sd
    return np.where(outlier, gene_disp, map_disp)


class DESeq2UnpairedAB(Transformer):
    """Two-group DESeq2-style Wald test (native)."""

    _name = "DESeq2UnpairedAB"

    def __init__(
        self,
        condition_a: str,
        condition_b: str,
        condition_to_columns: Dict[str, Collection[str]],
        comparison_name: Optional[str] = None,
        index_column: str = "__row_id",
        dispersion: Optional[float] = None,
        include_other_columns_for_variance: bool = False,
    ):
        super().__init__(
            self._name, condition_a, condition_b, condition_to_columns,
            comparison_name,
        )
        self.name = self._name
        self.condition_a = condition_a
        self.condition_b = condition_b
        self.condition_to_columns = condition_to_columns
        self.columns_a = list(condition_to_columns[condition_a])
        self.columns_b = list(condition_to_columns[condition_b])
        self.include_other_columns_for_variance = include_other_columns_for_variance
        # extra conditions contribute replicates to the dispersion fit
        # (reference: differential.py:333-348) but not to the contrast
        self.other_columns = []
        self.other_groups = []
        if include_other_columns_for_variance:
            for cond, cc in condition_to_columns.items():
                if cond not in (condition_a, condition_b):
                    self.other_columns.extend(list(cc))
                    self.other_groups.extend([f"o_{cond}"] * len(list(cc)))
        self.index_column = index_column
        self.dispersion = dispersion
        self.suffix = f" ({comparison_name})" if comparison_name else f" ({self.name})"

    # reference column contract (differential.py:184-206)
    @property
    def logFC_column(self):
        return "log2FC" + self.suffix

    @property
    def p_column(self):
        return "p" + self.suffix

    @property
    def fdr_column(self):
        return "FDR" + self.suffix

    @property
    def baseMean_column(self):
        return "baseMean" + self.suffix

    @property
    def lfcSE_column(self):
        return "lfcSE" + self.suffix

    @property
    def stat_column(self):
        return "stat" + self.suffix

    @property
    def columns(self):
        return [
            self.logFC_column, self.p_column, self.fdr_column,
            self.baseMean_column, self.lfcSE_column, self.stat_column,
        ]

    def _transform(self, df: DataFrame) -> DataFrame:
        cols = self.columns_a + self.columns_b + self.other_columns
        n_a = len(self.columns_a)
        n_b = len(self.columns_b)
        idx = self.index_column
        # pin the (often shuffle-produced) input: size factors, phase A
        # and the final join all re-read it
        counts = persist_tracked(df.select(idx, *cols))
        group = np.array(["a"] * n_a + ["b"] * n_b + self.other_groups)
        n_groups = len(np.unique(group))
        df_resid = len(cols) - n_groups

        # --- size factors: exact median-of-ratios, distributed ---
        sf = size_factors_distributed(counts, cols)

        schema = T.StructType(
            [
                counts.schema[idx],
                T.StructField("base_mean", T.DoubleType()),
                T.StructField("log2fc", T.DoubleType()),
                T.StructField("lfc_se", T.DoubleType()),
                T.StructField("stat", T.DoubleType()),
                T.StructField("p_raw", T.DoubleType()),
            ]
        )

        if self.dispersion is not None:
            fixed = float(self.dispersion)

            def run_fixed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    y = pdf[cols].to_numpy(dtype=float)
                    disp = np.full(len(y), fixed)
                    lfc, se, stat, pval = wald_one_way(y, group, sf, disp)
                    yield pd.DataFrame(
                        {
                            idx: pdf[idx],
                            "base_mean": (y / sf[None, :]).mean(axis=1),
                            "log2fc": lfc, "lfc_se": se, "stat": stat, "p_raw": pval,
                        }
                    )

            result = counts.mapInPandas(run_fixed, schema)
        else:
            # --- phase A: DESeq2 gene-wise dispersion (mu-fixed CR
            # steepest ascent alternated with the GLM mean fit) ---
            mu_cols = [f"mu_{i}" for i in range(len(cols))]
            schema_a = T.StructType(
                list(counts.schema.fields)
                + [T.StructField(c, T.DoubleType()) for c in mu_cols]
                + [
                    T.StructField("gene_disp", T.DoubleType()),
                    T.StructField("base_mean", T.DoubleType()),
                ]
            )

            def phase_a(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    y = pdf[cols].to_numpy(dtype=float)
                    out = pdf.copy()
                    gene_est, mu, bm = gene_dispersions(y, group, sf)
                    for i, c in enumerate(mu_cols):
                        out[c] = mu[:, i]
                    out["gene_disp"] = gene_est
                    out["base_mean"] = bm
                    yield out

            curves = persist_tracked(counts.mapInPandas(phase_a, schema_a))

            # --- trend + prior (shared helper: one collect, gamma-IRLS
            # trend and MAD prior on the driver) ---
            a0, a1, prior_var, outlier_sd = fit_dispersion_trend_and_prior(
                curves, df_resid, idx
            )

            # --- phase B: MAP dispersion (same fixed mu) + Wald ---
            def phase_b(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    y = pdf[cols].to_numpy(dtype=float)
                    mu = pdf[mu_cols].to_numpy(dtype=float)
                    bm = pdf["base_mean"].to_numpy(dtype=float)
                    gene_disp = pdf["gene_disp"].to_numpy(dtype=float)
                    final_disp = map_dispersions_mu_fixed(
                        y, mu, group, gene_disp, bm, a0, a1, prior_var, outlier_sd
                    )
                    lfc, se, stat, pval = wald_one_way(y, group, sf, final_disp)
                    yield pd.DataFrame(
                        {
                            idx: pdf[idx],
                            "base_mean": bm,
                            "log2fc": lfc, "lfc_se": se, "stat": stat, "p_raw": pval,
                        }
                    )

            result = curves.mapInPandas(phase_b, schema)

        joined = counts.join(result, idx)
        # allow_global: per-gene frame (see EdgeR_Unpaired._transform)
        out = bh_adjust(
            joined, "p_raw", "fdr_raw", tiebreak_cols=[idx], allow_global=True
        )
        return out.select(
            idx,
            *cols,
            F.col("base_mean").alias(self.baseMean_column),
            F.col("log2fc").alias(self.logFC_column),
            F.col("lfc_se").alias(self.lfcSE_column),
            F.col("stat").alias(self.stat_column),
            F.col("p_raw").alias(self.p_column),
            F.col("fdr_raw").alias(self.fdr_column),
        )


class DESeq2Unpaired(DESeq2UnpairedAB):
    """A-vs-B Wald contrast with optional extra conditions contributing
    replicates to the dispersion fit (reference: differential.py:273-404,
    ``include_other_columns_for_variance``)."""

    _name = "DESeq2Unpaired"


# ---------------------------------------------------------------------------
# general-design NB GLM + likelihood-ratio test (M5, reference
# differential.py:407-523 wraps DESeq(test="LRT"))
# ---------------------------------------------------------------------------
def _linear_predictor(beta, X):
    """Per-gene ``beta @ X.T`` as an elementwise product summed over the
    p coefficients: BLAS gemm may round a row differently depending on
    how many rows share the call, this does not."""
    return (beta[:, None, :] * X[None, :, :]).sum(axis=2)


def nb_glm_fit(y, X, offset, dispersion, max_iter=50, tol=1e-10):
    """Vectorized NB GLM IRLS over genes for a shared design matrix.

    y: (g, n); X: (n, p); offset: (n,) or (g, n); dispersion: (g,).
    Returns (beta (g, p), mu (g, n), ok (g,)). Solves all genes'
    weighted-least-squares updates in one batched np.linalg.solve.
    """
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    X = np.asarray(X, dtype=float)
    p = X.shape[1]
    disp = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    offs = np.broadcast_to(np.asarray(offset, dtype=float), (g, n))
    # start: intercept-ish fit from log mean rate
    rate = np.maximum(y / np.exp(offs), 1e-8).mean(axis=1)
    beta = np.zeros((g, p))
    beta[:, 0] = np.log(rate)
    ridge = 1e-8 * np.eye(p)
    # IRLS on the unconverged genes only: each gene stops at its own
    # convergence, so its fit does not depend on the rest of the batch
    live = np.arange(g)
    for _ in range(max_iter):
        if len(live) == 0:
            break
        bl, ol = beta[live], offs[live]
        eta = _linear_predictor(bl, X) + ol
        mu = np.exp(np.clip(eta, -300, 300))
        w = mu / (1.0 + disp[live, None] * mu)
        z = eta - ol + (y[live] - mu) / np.maximum(mu, 1e-300)
        xtw = X.T[None, :, :] * w[:, None, :]          # (g, p, n)
        xtwx = xtw @ X[None, :, :] + ridge             # (g, p, p)
        xtwz = (xtw @ z[:, :, None])[:, :, 0]          # (g, p)
        new_beta = np.linalg.solve(xtwx, xtwz)
        step = np.max(np.abs(new_beta - bl), axis=1)
        beta[live] = np.clip(new_beta, -50, 50)
        live = live[step >= tol]
    eta = _linear_predictor(beta, X) + offs
    mu = np.exp(np.clip(eta, -300, 300))
    ok = np.isfinite(beta).all(axis=1)
    return beta, mu, ok


def nb_loglik_mu(y, mu, dispersion):
    """NB log likelihood at given means (per gene)."""
    from .numerics import gammaln

    y = np.asarray(y, dtype=float)
    r = 1.0 / np.maximum(np.asarray(dispersion, dtype=float), 1e-300)[:, None]
    mu = np.maximum(mu, 1e-300)
    return (
        gammaln(y + r) - gammaln(r) - gammaln(y + 1.0)
        + r * np.log(r / (r + mu)) + y * np.log(mu / (r + mu))
    ).sum(axis=1)


class DESeq2LRT(Transformer):
    """Likelihood-ratio test between nested designs (DESeq2
    test="LRT"; the reference's DESeq2Timeseries shape). Factors are
    given per sample column; ``full``/``reduced`` name the factor sets
    of the two designs (dummy-coded, first level = reference).

    stat = 2·(loglik_full − loglik_reduced) ~ χ²(df_full − df_reduced);
    log2FC/lfcSE report the last full-model coefficient (DESeq2
    results() default). Dispersions: APL on the full design, MAP
    shrinkage to the parametric trend — same estimators as the Wald
    pipeline, generalized to arbitrary designs.
    """

    def __init__(
        self,
        sample_factors: Dict[str, Dict[str, str]],
        full,
        reduced,
        comparison_name: Optional[str] = None,
        index_column: str = "__row_id",
        dispersion: Optional[float] = None,
    ):
        super().__init__(
            "DESeq2TimeSeries", sorted(sample_factors.items()), full, reduced,
            comparison_name,
        )
        self.sample_factors = dict(sample_factors)
        self.full = list(full)
        self.reduced = list(reduced)
        self.index_column = index_column
        self.dispersion = dispersion
        self.suffix = f" ({comparison_name})" if comparison_name else f" ({self.name})"
        cols = sorted(self.sample_factors)
        if self._design(cols, self.full).shape[1] <= self._design(cols, self.reduced).shape[1]:
            raise ValueError("full design must have more coefficients than reduced")

    logFC_column = property(lambda self: "log2FC" + self.suffix)
    p_column = property(lambda self: "p" + self.suffix)
    fdr_column = property(lambda self: "FDR" + self.suffix)
    baseMean_column = property(lambda self: "baseMean" + self.suffix)
    lfcSE_column = property(lambda self: "lfcSE" + self.suffix)
    stat_column = property(lambda self: "stat" + self.suffix)

    @property
    def columns(self):
        return [self.logFC_column, self.p_column, self.fdr_column,
                self.baseMean_column, self.lfcSE_column, self.stat_column]

    def _design(self, cols, factors):
        """Dummy-coded design matrix with intercept."""
        X = [np.ones(len(cols))]
        for f in factors:
            levels = sorted({self.sample_factors[c][f] for c in cols})
            for lev in levels[1:]:
                X.append(np.array([1.0 if self.sample_factors[c][f] == lev else 0.0
                                   for c in cols]))
        return np.column_stack(X)

    def _transform(self, df: DataFrame) -> DataFrame:
        from .numerics import gammainc_q

        idx = self.index_column
        cols = sorted(self.sample_factors)
        counts = df.select(idx, *cols)
        n = len(cols)
        X_full = self._design(cols, self.full)
        X_red = self._design(cols, self.reduced)
        df_lrt = X_full.shape[1] - X_red.shape[1]

        # size factors (shared helper with the Wald path)
        sf = size_factors_distributed(counts, cols)
        offs = np.log(sf)
        fixed = self.dispersion

        schema = T.StructType(
            [
                counts.schema[idx],
                T.StructField("base_mean", T.DoubleType()),
                T.StructField("log2fc", T.DoubleType()),
                T.StructField("lfc_se", T.DoubleType()),
                T.StructField("stat", T.DoubleType()),
                T.StructField("p_raw", T.DoubleType()),
            ]
        )

        def lrt_at_dispersion(pdf: pd.DataFrame, disp: np.ndarray) -> pd.DataFrame:
            """Full/reduced GLM fits + χ² LRT at the given per-gene
            dispersions (the test stage, common to both paths)."""
            y = pdf[cols].to_numpy(dtype=float)
            beta_f, mu_f, _ = nb_glm_fit(y, X_full, offs[None, :], disp)
            beta_r, mu_r, _ = nb_glm_fit(y, X_red, offs[None, :], disp)
            ll_f = nb_loglik_mu(y, mu_f, disp)
            ll_r = nb_loglik_mu(y, mu_r, disp)
            stat = np.maximum(2.0 * (ll_f - ll_r), 0.0)
            pval = gammainc_q(df_lrt / 2.0, stat / 2.0)
            # last full coefficient: log2FC + SE (DESeq2 results() default)
            w = mu_f / (1.0 + disp[:, None] * mu_f)
            xtwx = (X_full.T[None, :, :] * w[:, None, :]) @ X_full[None, :, :]
            cov = np.linalg.inv(xtwx + 1e-8 * np.eye(X_full.shape[1]))
            se_last = np.sqrt(np.maximum(cov[:, -1, -1], 0.0)) / np.log(2.0)
            lfc_last = beta_f[:, -1] / np.log(2.0)
            return pd.DataFrame(
                {
                    idx: pdf[idx],
                    "base_mean": (y / sf[None, :]).mean(axis=1),
                    "log2fc": lfc_last,
                    "lfc_se": se_last,
                    "stat": stat,
                    "p_raw": pval,
                }
            )

        if fixed is not None:

            def run_fixed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    yield lrt_at_dispersion(pdf, np.full(len(pdf), float(fixed)))

            result = counts.mapInPandas(run_fixed, schema)
        else:
            # --- phase A: per-gene APL curve on the FULL design +
            # gene-wise MLE — the curve is kept so phase B can add the
            # prior without refitting (same two-phase shape as Wald) ---
            lrt_pts = np.linspace(LRT_GRID_RANGE[0], LRT_GRID_RANGE[1], LRT_GRID_LENGTH)
            schema_a = T.StructType(
                list(counts.schema.fields)
                + [T.StructField(f"l0_{i}", T.DoubleType()) for i in range(LRT_GRID_LENGTH)]
                + [
                    T.StructField("gene_disp", T.DoubleType()),
                    T.StructField("base_mean", T.DoubleType()),
                ]
            )

            def phase_a(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    y = pdf[cols].to_numpy(dtype=float)
                    out = pdf.copy()
                    apl = _apl_curve_general(y, X_full, offs, lrt_pts)
                    for i in range(LRT_GRID_LENGTH):
                        out[f"l0_{i}"] = apl[:, i]
                    best = edger.maximize_interpolant(lrt_pts, apl)
                    out["gene_disp"] = np.maximum(0.1 * 2.0 ** best, 1e-8)
                    out["base_mean"] = (y / sf[None, :]).mean(axis=1)
                    yield out

            curves = persist_tracked(counts.mapInPandas(phase_a, schema_a))

            # --- trend + EB prior, shared with the Wald pipeline ---
            a0, a1, prior_var, outlier_sd = fit_dispersion_trend_and_prior(
                curves, n - X_full.shape[1], idx
            )
            l0_cols = [f"l0_{i}" for i in range(LRT_GRID_LENGTH)]

            def phase_b(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    l0 = pdf[l0_cols].to_numpy(dtype=float)
                    final_disp = map_dispersions(
                        l0,
                        lrt_pts,
                        pdf["gene_disp"].to_numpy(dtype=float),
                        pdf["base_mean"].to_numpy(dtype=float),
                        a0, a1, prior_var, outlier_sd,
                    )
                    yield lrt_at_dispersion(pdf, final_disp)

            result = curves.mapInPandas(phase_b, schema)
        joined = counts.join(result, idx)
        # allow_global: per-gene frame (see EdgeR_Unpaired._transform)
        out = bh_adjust(
            joined, "p_raw", "fdr_raw", tiebreak_cols=[idx], allow_global=True
        )
        return out.select(
            idx, *cols,
            F.col("base_mean").alias(self.baseMean_column),
            F.col("log2fc").alias(self.logFC_column),
            F.col("lfc_se").alias(self.lfcSE_column),
            F.col("stat").alias(self.stat_column),
            F.col("p_raw").alias(self.p_column),
            F.col("fdr_raw").alias(self.fdr_column),
        )


def _apl_curve_general(y, X, offs, pts):
    """Per-gene Cox-Reid adjusted profile likelihood curve over a
    dispersion grid for an arbitrary design: NB GLM fit at each grid
    dispersion + 0.5·logdet(XᵀWX) adjustment. Returns (g, len(pts))."""
    g = len(y)
    disps = 0.1 * 2.0 ** np.asarray(pts, dtype=float)
    apl = np.empty((g, len(disps)))
    for i, d in enumerate(disps):
        dd = np.full(g, d)
        _, mu, _ = nb_glm_fit(y, X, offs[None, :], dd)
        ll = nb_loglik_mu(y, mu, dd)
        w = mu / (1.0 + d * mu)
        xtwx = (X.T[None, :, :] * w[:, None, :]) @ X[None, :, :]
        sign, logdet = np.linalg.slogdet(xtwx + 1e-12 * np.eye(X.shape[1]))
        apl[:, i] = ll - 0.5 * logdet
    return apl
