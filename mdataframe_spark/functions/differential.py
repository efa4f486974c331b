"""Differential-expression transformers (reference: differential.py).

EdgeR_Unpaired reproduces the reference's edgeR exact-test pipeline
(reference: differential.py:51-150 — DGEList → calcNormFactors →
estimateDisp → exactTest → topTags) natively on Spark, with the same
output-column contract: ``log2FC (name)``, ``logCPM (name)``,
``p (name)``, ``FDR (name)`` (reference: differential.py:26-48, 84-90).

Execution shape (phases distributed over genes, bounded samples):

1. library sizes + TMM factors — distributed aggregations (norm.py),
   driver receives one scalar per sample;
2. phase A (``mapInPandas`` over gene partitions): per-gene APL
   curve over the 21-point dispersion grid + aveLogCPM — each gene
   independent, Arrow-batched numpy kernels (edger.py);
3. empirical-Bayes reduction on the driver — one Arrow collect of the
   phase-A output, sorted by the index: summed APL curve (common
   dispersion), quantile-binned trend curves and the fitFDist prior df
   in numpy. (22 + #samples) float64 per gene, about 0.25 GB at 10^6
   genes with 6 samples; the trend bins and scalars go back to phase B
   in its closure;
4. phase B (``mapInPandas``): per-gene tagwise dispersion
   (weighted-likelihood maximize), pseudo-counts, exact NB test,
   logFC;
5. BH/FDR — the W1 window (stats.py).

Numerical parity: given a KNOWN dispersion the exact test matches NB
enumeration exactly; the estimateDisp EB layer approximates R's
locfit/robust machinery (see edger.py docstring) — golden parity is
asserted with documented tolerances in tests/test_edger_golden.py.
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
from .norm import tmm_norm_factors
from .stats import bh_adjust

GRID_LENGTH = 21
GRID_RANGE = (-10.0, 10.0)


class EdgeR_Unpaired(Transformer):
    """Two-group unpaired exact NB test with TMM normalization."""

    def __init__(
        self,
        condition_a: str,
        condition_b: str,
        condition_to_columns: Dict[str, Collection[str]],
        comparison_name: Optional[str] = None,
        index_column: str = "__row_id",
        dispersion: Optional[float] = None,
        prior_df: Optional[float] = None,
        **parameters,
    ):
        library_sizes = parameters.get("library_sizes", None)
        self.manual_dispersion_value = parameters.get("manual_dispersion_value", 0.4)
        super().__init__(
            "EdgeR_Unpaired",
            condition_a,
            condition_b,
            condition_to_columns,
            comparison_name,
            library_sizes,
        )
        self.condition_a = condition_a
        self.condition_b = condition_b
        self.columns_a = list(condition_to_columns[condition_a])
        self.columns_b = list(condition_to_columns[condition_b])
        self.index_column = index_column
        self.library_sizes = library_sizes
        self.dispersion = dispersion
        self.prior_df = prior_df
        self.suffix = f" ({comparison_name})" if comparison_name else f" ({self.name})"

    # reference column contract (differential.py:26-48, 84-90)
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
    def logCPM_column(self):
        return "logCPM" + self.suffix

    @property
    def columns(self):
        return [self.logFC_column, self.p_column, self.fdr_column, self.logCPM_column]

    def _transform(self, df: DataFrame) -> DataFrame:
        cols = self.columns_a + self.columns_b
        n_a = len(self.columns_a)
        idx = self.index_column
        # the input is often a shuffle product (e.g. a pivot); every
        # stage below (TMM, library sizes, phase A, the final join)
        # re-reads it, so pin it once — released via cache.release_caches
        counts = persist_tracked(df.select(idx, *cols))

        # --- stage 1: library sizes + TMM factors (distributed aggs) ---
        # one fused agg job: lib-size sums + the 75th percentiles TMM's
        # reference selection needs (was two separate scans)
        if self.library_sizes is not None:
            lib = {c: float(v) for c, v in zip(cols, self.library_sizes)}
            factors = tmm_norm_factors(counts, cols, idx)
        else:
            aggs = [F.sum(c).alias(f"lib_{c}") for c in cols] + [
                F.expr(f"percentile(`{c}`, 0.75)").alias(f"q75_{c}") for c in cols
            ]
            row = counts.agg(*aggs).collect()[0]
            lib = {c: float(row[f"lib_{c}"]) for c in cols}
            f75 = {c: float(row[f"q75_{c}"]) / lib[c] for c in cols}
            factors = tmm_norm_factors(counts, cols, idx, lib=lib, f75=f75)
        eff_lib = np.array([lib[c] * factors[c] for c in cols])
        group = np.array(["a"] * n_a + ["b"] * (len(cols) - n_a))
        spline_pts = np.linspace(GRID_RANGE[0], GRID_RANGE[1], GRID_LENGTH)
        spline_disp = 0.1 * 2.0 ** spline_pts
        df_resid = len(cols) - 2

        dispersion = self.dispersion
        if dispersion is None and df_resid <= 0:
            # no replicates: dispersion cannot be estimated. Follow the
            # reference (differential.py:128-135): fall back to a manual
            # "from experience" value, squared as the reference does.
            dispersion = self.manual_dispersion_value ** 2

        if dispersion is None:
            # --- phase A: per-gene APL curves + aveLogCPM ---
            schema_a = T.StructType(
                list(counts.schema.fields)
                + [T.StructField(f"l0_{i}", T.DoubleType()) for i in range(GRID_LENGTH)]
                + [
                    T.StructField("alc05", T.DoubleType()),
                    T.StructField("sel", T.BooleanType()),
                ]
            )

            def phase_a(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    y = pdf[cols].to_numpy(dtype=float)
                    out = pdf.copy()
                    l0 = np.empty((len(y), GRID_LENGTH))
                    for i, d in enumerate(spline_disp):
                        l0[:, i] = edger.adjusted_profile_lik(
                            d, y, group, np.log(eff_lib)[None, :]
                        )
                        out[f"l0_{i}"] = l0[:, i]
                    out["alc05"] = edger.ave_log_cpm(y, eff_lib)
                    # estimateDisp's min.row.sum gene filter for the EB
                    # moment estimation (low-count genes get the trend)
                    out["sel"] = y.sum(axis=1) >= MIN_ROW_SUM
                    yield out

            # the counts columns ride along (bounded width: #samples), so
            # phase B has both the APL grid and the raw counts
            curves = persist_tracked(counts.mapInPandas(phase_a, schema_a))
            l0_cols = [f"l0_{i}" for i in range(GRID_LENGTH)]

            # --- between-phase EB reduction on the driver ---
            # ONE Arrow collect of the phase-A output materializes the
            # persist and feeds every between-phase statistic (common
            # dispersion, trend bins, prior df) as vectorized numpy.
            # Driver bytes per gene: (22 + #samples) float64 plus the
            # sel flag and the index, about 0.25 GB at 10^6 genes with
            # 6 samples. Rows are sorted by the index so the sums do
            # not depend on the partition order of the collected rows.
            pdf = (
                curves.select(idx, "sel", "alc05", *l0_cols, *cols)
                .toPandas()
                .sort_values(idx, kind="stable")
            )
            sel_m = pdf["sel"].to_numpy(dtype=bool)
            alc_s = pdf["alc05"].to_numpy(dtype=float)[sel_m]
            l0_s = pdf[l0_cols].to_numpy(dtype=float)[sel_m]
            y_s = pdf[cols].to_numpy(dtype=float)[sel_m]
            n_genes = int(sel_m.sum())
            # common dispersion: argmax of the summed APL curve. Also the
            # dispersion at which exactTest's logCPM column is evaluated
            # (edgeR computes aveLogCPM at the common dispersion).
            common_pt = edger._spline_argmax(spline_pts, l0_s.sum(axis=0))
            common_disp = 0.1 * 2.0 ** common_pt

            # dispersion-trend support: quantile-bin the aveLogCPM
            # covariate and average the APL curves per bin (the stand-in
            # for locfit's local regression). Phase B tricube-weights the
            # bin curves around each gene's abundance — with #bins ==
            # #genes this IS a per-gene tricube smoother.
            n_bins = int(min(max(n_genes, 1), 64))
            cuts = (
                np.quantile(
                    alc_s, [i / n_bins for i in range(1, n_bins)], method="lower"
                )
                if n_bins > 1
                else np.array([])
            )
            # bin = #cuts strictly below the covariate
            bins = np.searchsorted(np.sort(cuts), alc_s, side="left")
            nb = int(bins.max()) + 1 if n_genes else 1
            bin_counts = np.bincount(bins, minlength=nb).astype(float)
            occ = bin_counts > 0
            bin_centers = (
                np.bincount(bins, weights=alc_s, minlength=nb)[occ] / bin_counts[occ]
            )
            bin_curves = np.stack(
                [
                    np.bincount(bins, weights=l0_s[:, i], minlength=nb)[occ]
                    / bin_counts[occ]
                    for i in range(GRID_LENGTH)
                ],
                axis=1,
            )
            span = 1.0 if n_genes <= 50 else 0.25 + 0.75 * (50.0 / n_genes) ** 0.5
            trend = _TrendMixer(bin_centers, bin_counts[occ], bin_curves, span)

            if self.prior_df is not None:
                prior_df = self.prior_df
            else:
                # prior df: residual deviance at the TRENDED dispersion
                # with zero-adjusted residual df (edgeR glmFit +
                # .residDF), then limma's fitFDist moment match with the
                # abundance covariate
                trended = 0.1 * 2.0 ** edger.maximize_interpolant(
                    np.asarray(spline_pts), trend.mix(alc_s)
                )
                s2, dfres = edger.deviance_s2(
                    y_s, group, np.log(eff_lib)[None, :], trended
                )
                ok = (dfres > 0) & (s2 > 0)
                d1 = dfres[ok].astype(float)
                e = np.log(s2[ok]) - edger.digamma(d1 / 2.0) + np.log(d1 / 2.0)
                prior_df = _prior_df_from_arrays(
                    alc_s[ok], e, edger.trigamma(d1 / 2.0)
                )
            prior_n = prior_df / df_resid if np.isfinite(prior_df) else 1e8

            # --- phase B: tagwise + exact test per gene ---
            # the count columns ride through phase B (they are already
            # in `curves`), so no join back to `counts` is needed — one
            # less shuffle on the output path
            result = curves.mapInPandas(
                _phase_b_builder(
                    idx, cols, n_a, eff_lib, spline_pts, trend,
                    prior_n, common_disp,
                ),
                _phase_b_schema(idx, counts.schema[idx].dataType, counts, cols),
            )
            # curves stays persisted: the EB collect already
            # materialized it, and phase B reads it again lazily
            joined = result
        else:
            # fixed dispersion: single distributed pass, exact math
            joined = counts.mapInPandas(
                _fixed_disp_builder(idx, cols, n_a, eff_lib, float(dispersion)),
                _phase_b_schema(idx, counts.schema[idx].dataType, counts, cols),
            )

        # allow_global: one row per gene here (the caller built a
        # per-gene count matrix), far under the single-reducer ceiling;
        # skipping the guard probe avoids re-executing the exact-test
        # lineage just to count it
        out = bh_adjust(
            joined, "p_raw", "fdr_raw", tiebreak_cols=[idx], allow_global=True
        )
        return out.select(
            idx,
            *cols,
            F.col("logfc_raw").alias(self.logFC_column),
            F.col("logcpm_raw").alias(self.logCPM_column),
            F.col("p_raw").alias(self.p_column),
            F.col("fdr_raw").alias(self.fdr_column),
        )


MIN_ROW_SUM = 5.0


class _TrendMixer:
    """Trend curves from quantile bins: a serializable stand-in for
    locfit's local-constant smoother. For each abundance, tricube-
    weight the bin APL curves with a nearest-neighbor-fraction
    bandwidth — the distance at which the cumulative bin gene count
    reaches span * total (with per-gene bins this IS the per-gene
    tricube smoother used by the driver-side estimate_disp)."""

    def __init__(self, centers, counts, curves, span):
        self.centers = np.asarray(centers, dtype=float)
        self.counts = np.asarray(counts, dtype=float)
        self.curves = np.asarray(curves, dtype=float)
        self.span = float(span)
        self.total = float(self.counts.sum())

    def mix(self, alc):
        d = np.abs(self.centers[None, :] - alc[:, None])
        order = np.argsort(d, axis=1)
        cum = np.cumsum(np.take_along_axis(
            np.broadcast_to(self.counts[None, :], d.shape), order, axis=1
        ), axis=1)
        kidx = np.argmax(cum >= self.span * self.total, axis=1)
        h = np.take_along_axis(d, order, axis=1)[np.arange(len(alc)), kidx]
        h = np.maximum(h, 1e-10)[:, None]
        w = np.clip(1.0 - (d / h) ** 3, 0.0, None) ** 3
        w = np.maximum(w, 1e-8) * self.counts[None, :]
        w = w / w.sum(axis=1, keepdims=True)
        # elementwise, not ``w @ curves``: a BLAS gemm may round a row
        # differently depending on how many rows share the call
        return (w[:, :, None] * self.curves[None, :, :]).sum(axis=1)


def _prior_df_from_arrays(alc, e, trig):
    """limma fitFDist moment match with the abundance covariate, on
    driver-side arrays. Rows are SORTED by (alc05, e) first so the
    regression is bit-reproducible regardless of the partitioning that
    produced the arrays (np.argsort on the collected order would leak
    partition order through FP summation in X.T @ e)."""
    order = np.lexsort((e, alc))
    alc, e, trig = alc[order], e[order], trig[order]
    n_ok = len(e)
    if n_ok < 2:
        return np.inf
    mean_trig = float(trig.mean())
    df_spline = edger.spline_basis_df(n_ok)
    X = edger.natural_spline_basis(alc, df_spline)
    rank = np.linalg.matrix_rank(X.T @ X)
    coef = np.linalg.pinv(X.T @ X) @ (X.T @ e)
    rss = max(float(e @ e - coef @ (X.T @ e)), 0.0)
    if n_ok - rank <= 0:
        return np.inf
    evar = rss / (n_ok - rank) - mean_trig
    if evar <= 0:
        return np.inf
    return 2.0 * float(edger.trigamma_inverse(np.array([evar]))[0])


def _phase_b_schema(idx, idx_type, counts, cols):
    return T.StructType(
        [
            T.StructField(idx, idx_type),
            *[T.StructField(c, counts.schema[c].dataType) for c in cols],
            T.StructField("logfc_raw", T.DoubleType()),
            T.StructField("logcpm_raw", T.DoubleType()),
            T.StructField("p_raw", T.DoubleType()),
            T.StructField("tagwise_disp", T.DoubleType()),
        ]
    )


def _phase_b_builder(idx, cols, n_a, eff_lib, spline_pts, trend,
                     prior_n, common_disp):
    l0_cols = [f"l0_{i}" for i in range(len(spline_pts))]

    def phase_b(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            y = pdf[cols].to_numpy(dtype=float)
            l0 = pdf[l0_cols].to_numpy(dtype=float)
            sel = pdf["sel"].to_numpy(dtype=bool)
            m0 = trend.mix(pdf["alc05"].to_numpy(dtype=float))
            pts = np.asarray(spline_pts)
            # selected genes: weighted-likelihood EB; low-count genes:
            # the trend value at their abundance (edgeR's sel logic)
            shrunk = np.where(
                sel[:, None], l0 + prior_n * m0, m0
            )
            tagwise = 0.1 * 2.0 ** edger.maximize_interpolant(pts, shrunk)
            # exactTest internals: pooled-abundance equalization,
            # doubled-tail exact test, prior-augmented abundance logFC
            pseudo, _ = edger.equalize_pooled(y, tagwise, eff_lib)
            pv = edger.exact_test_doubletail(
                pseudo[:, :n_a], pseudo[:, n_a:], tagwise
            )
            lfc = edger.exact_test_logfc(y, tagwise, eff_lib, n_a)
            alc = edger.ave_log_cpm(y, eff_lib, dispersion=common_disp)
            out = pdf[[idx] + cols].copy()
            out["logfc_raw"] = lfc
            out["logcpm_raw"] = alc
            out["p_raw"] = pv
            out["tagwise_disp"] = tagwise
            yield out

    return phase_b


def _fixed_disp_builder(idx, cols, n_a, eff_lib, dispersion):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            y = pdf[cols].to_numpy(dtype=float)
            disp = np.full(len(y), dispersion)
            pseudo, _ = edger.equalize_pooled(y, disp, eff_lib)
            pv = edger.exact_test_doubletail(
                pseudo[:, :n_a], pseudo[:, n_a:], disp
            )
            lfc = edger.exact_test_logfc(y, disp, eff_lib, n_a)
            alc = edger.ave_log_cpm(y, eff_lib)
            out = pdf[[idx] + cols].copy()
            out["logfc_raw"] = lfc
            out["logcpm_raw"] = alc
            out["p_raw"] = pv
            out["tagwise_disp"] = disp
            yield out

    return run
