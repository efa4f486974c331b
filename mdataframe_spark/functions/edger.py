"""Native reimplementation of the edgeR exact-test pipeline (numpy).

The reference calls edgeR in an embedded R session (reference:
differential.py:51-150: DGEList → calcNormFactors → estimateDisp →
exactTest → topTags). This module implements the same published
algorithms (Robinson & Smyth 2008 — exact NB test & qCML; McCarthy,
Chen & Smyth 2012 — APL dispersion estimation; Chen, Lun & Smyth 2014
— empirical Bayes shrinkage) as vectorized numpy kernels over a
(genes × samples) block, so they can run either driver-side for small
frames or inside ``applyInPandas`` per gene-partition at scale (the
cross-gene pieces — common/trended dispersion, prior df — are global
aggregates computed in a first pass and broadcast into the second).

Deviations from R (documented; no R exists in this environment to
cross-check intermediates):
- the dispersion-trend smoother approximates edgeR's locfit local
  regression with a tricube-weighted local-constant smoother;
- `maximizeInterpolant` uses a natural cubic spline (R's splinefun
  default is FMM; boundary segments differ slightly);
- robust=TRUE's winsorized prior-df estimation follows limma's
  fitFDist moment matching without the robust outlier re-weighting.
Golden tests assert logCPM at the reference's decimal=5 and
p-values/logFC within a relaxed documented tolerance
(tests/test_edger_golden.py).
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

import numpy as np

from .numerics import dnbinom_log, gammaln, pgamma, pnorm, qgamma, qnorm

# ---------------------------------------------------------------------------
# one-group NB GLM (log link) — edgeR mglmOneGroup equivalent
# ---------------------------------------------------------------------------
def mglm_one_group(
    y: np.ndarray,
    dispersion,
    offset: np.ndarray,
    max_iter: int = 50,
    tol: float = 1e-10,
) -> np.ndarray:
    """Per-gene MLE of beta in  mu_ij = exp(beta_i + offset_j).

    Newton iterations on the NB score equation
    sum_j (y_ij - mu_ij) / (1 + phi_i * mu_ij) = 0.
    """
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,)).copy()
    offset = np.broadcast_to(np.asarray(offset, dtype=float), (g, n))
    # start from the Poisson solution
    tot = y.sum(axis=1)
    beta = np.where(
        tot > 0, np.log(np.maximum(tot, 1e-300)) - np.log(np.exp(offset).sum(axis=1)), -np.inf
    )
    # Newton on the active subset only: converged genes drop out, so
    # total work tracks the sum of per-gene iterations (most converge
    # in < 10), not genes x max_iter
    idx = np.nonzero(tot > 0)[0]
    for _ in range(max_iter):
        if len(idx) == 0:
            break
        mu = np.exp(beta[idx, None] + offset[idx])
        denom = 1.0 + phi[idx, None] * mu
        score = ((y[idx] - mu) / denom).sum(axis=1)
        info = (mu / denom).sum(axis=1)
        step = np.where(info > 0, score / np.maximum(info, 1e-300), 0.0)
        step = np.clip(step, -10.0, 10.0)
        beta[idx] = beta[idx] + step
        idx = idx[np.abs(step) > tol]
    return beta


def ave_log_cpm(
    y: np.ndarray,
    lib_size: np.ndarray,
    prior_count: float = 2.0,
    dispersion: float = 0.05,
) -> np.ndarray:
    """edgeR aveLogCPM: average log2 CPM with a scaled prior, fitted as
    a one-group NB GLM at a nominal dispersion."""
    y = np.asarray(y, dtype=float)
    lib = np.asarray(lib_size, dtype=float)
    adj_prior = prior_count * lib / lib.mean()
    adj_lib = lib + 2.0 * adj_prior
    beta = mglm_one_group(y + adj_prior[None, :], dispersion, np.log(adj_lib)[None, :])
    return (beta + np.log(1e6)) / np.log(2.0)


# ---------------------------------------------------------------------------
# adjusted profile likelihood over a dispersion grid (one-way design)
# ---------------------------------------------------------------------------
def nb_loglik(y, mu, phi):
    """NB log likelihood, phi may be 0 (Poisson limit)."""
    y = np.asarray(y, dtype=float)
    mu = np.maximum(mu, 1e-300)
    if np.all(phi == 0):
        return (y * np.log(mu) - mu - gammaln(y + 1.0)).sum(axis=-1)
    r = 1.0 / np.maximum(phi, 1e-300)
    if np.ndim(r) > 0:
        r = np.asarray(r)[..., None] if np.ndim(r) == 1 else r
    ll = (
        gammaln(y + r)
        - gammaln(r)
        - gammaln(y + 1.0)
        + r * np.log(r / (r + mu))
        + y * np.log(mu / (r + mu))
    )
    return ll.sum(axis=-1)


def adjusted_profile_lik(
    dispersion: float,
    y: np.ndarray,
    group: np.ndarray,
    offset: np.ndarray,
) -> np.ndarray:
    """APL(gene) at a single dispersion for a one-way layout:
    max loglik over group means minus the Cox-Reid adjustment
    ½·log det(XᵀWX) — which for one-way designs factorizes into
    ½·Σ_groups log Σ_j w_ij."""
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    offset = np.broadcast_to(np.asarray(offset, dtype=float), (g, n))
    groups = np.unique(group)
    mu = np.zeros_like(y)
    cr = np.zeros(g)
    for grp in groups:
        j = group == grp
        beta = mglm_one_group(y[:, j], dispersion, offset[:, j])
        mu_j = np.exp(beta[:, None] + offset[:, j])
        mu[:, j] = mu_j
        w = mu_j / (1.0 + dispersion * mu_j)
        sw = np.maximum(w.sum(axis=1), 1e-300)
        cr += 0.5 * np.log(sw)
    ll = nb_loglik(y, mu, dispersion)
    return ll - cr


def maximize_interpolant(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Argmax of a natural-cubic-spline interpolant through (x, row of
    y), fully vectorized over rows (edgeR maximizeInterpolant shape):
    one batched tridiagonal solve for all rows' spline coefficients,
    then closed-form derivative roots per segment."""
    x = np.asarray(x, dtype=float)
    y = np.atleast_2d(np.asarray(y, dtype=float))
    nrow, n = y.shape
    h = np.diff(x)
    # batched Thomas algorithm (natural BC) — loops over the ~21 knots,
    # vector ops over rows
    rhs = np.zeros((nrow, n))
    rhs[:, 1:-1] = 3.0 * (
        (y[:, 2:] - y[:, 1:-1]) / h[1:] - (y[:, 1:-1] - y[:, :-2]) / h[:-1]
    )
    a = np.zeros(n)
    b = np.ones(n)
    c = np.zeros(n)
    a[1:-1] = h[:-1]
    b[1:-1] = 2.0 * (h[:-1] + h[1:])
    c[1:-1] = h[1:]
    cp = np.zeros(n)
    dp = np.zeros((nrow, n))
    cp[0] = c[0] / b[0]
    dp[:, 0] = rhs[:, 0] / b[0]
    for i in range(1, n):
        m = b[i] - a[i] * cp[i - 1]
        cp[i] = c[i] / m
        dp[:, i] = (rhs[:, i] - a[i] * dp[:, i - 1]) / m
    cc = np.zeros((nrow, n))
    cc[:, -1] = dp[:, -1]
    for i in range(n - 2, -1, -1):
        cc[:, i] = dp[:, i] - cp[i] * cc[:, i + 1]
    bb = (y[:, 1:] - y[:, :-1]) / h - h * (2.0 * cc[:, :-1] + cc[:, 1:]) / 3.0
    dd = (cc[:, 1:] - cc[:, :-1]) / (3.0 * h)
    cm = cc[:, :-1]

    best_idx = np.argmax(y, axis=1)
    best_x = x[best_idx]
    best_val = y[np.arange(nrow), best_idx]
    # derivative roots t of b + 2c t + 3d t^2 per segment, both branches
    with np.errstate(invalid="ignore", divide="ignore"):
        disc = cm * cm - 3.0 * dd * bb
        sq = np.sqrt(np.where(disc >= 0, disc, np.nan))
        for sign in (1.0, -1.0):
            t = np.where(
                np.abs(dd) > 1e-300,
                (-cm + sign * sq) / (3.0 * dd),
                np.where(np.abs(cm) > 1e-300, -bb / (2.0 * cm), np.nan),
            )
            inside = (t >= 0) & (t <= h[None, :]) & np.isfinite(t)
            val = y[:, :-1] + bb * t + cm * t * t + dd * t ** 3
            val = np.where(inside, val, -np.inf)
            seg_best = np.argmax(val, axis=1)
            seg_val = val[np.arange(nrow), seg_best]
            better = seg_val > best_val
            best_val = np.where(better, seg_val, best_val)
            best_x = np.where(
                better,
                x[seg_best] + t[np.arange(nrow), seg_best],
                best_x,
            )
    return best_x


def _natural_spline_coeffs(x, y):
    n = len(x)
    h = np.diff(x)
    rhs = np.zeros(n)
    rhs[1:-1] = 3.0 * ((y[2:] - y[1:-1]) / h[1:] - (y[1:-1] - y[:-2]) / h[:-1])
    # tridiagonal solve (natural BC: c0 = cn-1 = 0)
    a = np.zeros(n)
    b = np.ones(n)
    c = np.zeros(n)
    a[1:-1] = h[:-1]
    b[1:-1] = 2.0 * (h[:-1] + h[1:])
    c[1:-1] = h[1:]
    # Thomas algorithm
    cp = np.zeros(n)
    dp = np.zeros(n)
    cp[0] = c[0] / b[0]
    dp[0] = rhs[0] / b[0]
    for i in range(1, n):
        m = b[i] - a[i] * cp[i - 1]
        cp[i] = c[i] / m
        dp[i] = (rhs[i] - a[i] * dp[i - 1]) / m
    cc = np.zeros(n)
    cc[-1] = dp[-1]
    for i in range(n - 2, -1, -1):
        cc[i] = dp[i] - cp[i] * cc[i + 1]
    bb = (y[1:] - y[:-1]) / h - h * (2.0 * cc[:-1] + cc[1:]) / 3.0
    dd = (cc[1:] - cc[:-1]) / (3.0 * h)
    return bb, cc[:-1], dd


def _spline_argmax(x, y):
    i_best = int(np.argmax(y))
    best_x, best_val = x[i_best], y[i_best]
    bb, cc, dd = _natural_spline_coeffs(x, y)
    for seg in range(len(x) - 1):
        b, c, d = bb[seg], cc[seg], dd[seg]
        # derivative roots of the cubic on this segment
        if abs(d) > 1e-300:
            disc = c * c - 3.0 * d * b
            if disc < 0:
                continue
            roots = [(-c + s * np.sqrt(disc)) / (3.0 * d) for s in (1.0, -1.0)]
        elif abs(c) > 1e-300:
            roots = [-b / (2.0 * c)]
        else:
            continue
        for t in roots:
            if 0 <= t <= x[seg + 1] - x[seg]:
                val = y[seg] + b * t + c * t * t + d * t ** 3
                if val > best_val:
                    best_val, best_x = val, x[seg] + t
    return best_x


def _tricube_smooth(loglik: np.ndarray, covariate: np.ndarray, span: float = 1.0) -> np.ndarray:
    """Local-constant smoother of each APL column over the covariate
    (approximates edgeR's locfitByCol, degree 0)."""
    g = len(covariate)
    k = max(int(np.ceil(span * g)), 2)
    order = np.argsort(covariate)
    sm = np.empty_like(loglik)
    for gi in range(g):
        d = np.abs(covariate - covariate[gi])
        h = np.sort(d)[min(k - 1, g - 1)]
        h = max(h, 1e-10)
        w = np.clip(1.0 - (d / h) ** 3, 0.0, None) ** 3
        w[d <= h * (1 + 1e-12)] = np.maximum(w[d <= h * (1 + 1e-12)], 1e-8)
        sm[gi] = (w[:, None] * loglik).sum(axis=0) / w.sum()
    _ = order
    return sm


# digamma / trigamma (needed for prior-df moment matching)
def digamma(x):
    x = np.asarray(x, dtype=float).copy()
    res = np.zeros_like(x)
    while np.any(x < 6):
        small = x < 6
        res[small] -= 1.0 / x[small]
        x[small] += 1.0
    inv = 1.0 / x
    inv2 = inv * inv
    return res + np.log(x) - 0.5 * inv - inv2 * (
        1.0 / 12 - inv2 * (1.0 / 120 - inv2 / 252)
    )


def trigamma(x):
    x = np.asarray(x, dtype=float).copy()
    res = np.zeros_like(x)
    while np.any(x < 6):
        small = x < 6
        res[small] += 1.0 / (x[small] * x[small])
        x[small] += 1.0
    inv = 1.0 / x
    inv2 = inv * inv
    return res + inv * (1.0 + 0.5 * inv + inv2 * (1.0 / 6 - inv2 * (1.0 / 30 - inv2 / 42)))


def trigamma_inverse(y):
    """Solve trigamma(x) = y (limma trigammaInverse, Newton)."""
    y = np.asarray(y, dtype=float)
    x = 0.5 + 1.0 / y
    for _ in range(50):
        tri = trigamma(x)
        dif = tri * (1.0 - tri / y) / _tetragamma(x)
        x = x + dif
        if np.all(np.abs(dif / x) < 1e-10):
            break
    return x


def _tetragamma(x):
    eps = 1e-5
    return (trigamma(x + eps) - trigamma(x - eps)) / (2 * eps)


def spline_basis_df(n: int) -> int:
    """limma fitFDist's covariate spline df: 1+(n>=3)+(n>=6)+(n>=30)."""
    return 1 + (n >= 3) + (n >= 6) + (n >= 30)


def natural_spline_basis(x: np.ndarray, df: int) -> np.ndarray:
    """Design matrix spanning the natural-cubic-spline space with
    ``df`` total columns (intercept included), interior knots at
    quantiles — the same SPACE as R's splines::ns(df=df,
    intercept=TRUE), so least-squares residuals match even though the
    basis parameterization differs. df=2 degenerates to {1, x}."""
    x = np.asarray(x, dtype=float)
    cols = [np.ones_like(x), x]
    if df <= 2:
        return np.column_stack(cols[:df]) if df >= 1 else np.ones((len(x), 1))
    n_interior = df - 2
    probs = np.linspace(0, 1, n_interior + 2)[1:-1]
    interior = np.quantile(x, probs)
    boundary = np.array([x.min(), x.max()])
    knots = np.sort(np.concatenate([interior, boundary]))
    k_last = knots[-1]
    k_prev = knots[-2]

    def d(k, xx):
        return (
            np.maximum(xx - k, 0.0) ** 3 - np.maximum(xx - k_last, 0.0) ** 3
        ) / (k_last - k)

    d_prev = d(k_prev, x)
    for k in knots[:-2]:
        cols.append(d(k, x) - d_prev)
    return np.column_stack(cols)


def fit_f_dist(s2: np.ndarray, df1, covariate: Optional[np.ndarray] = None) -> float:
    """limma fitFDist: estimate df2 (the prior df) of the scaled
    F-distribution by moment matching of the log residual variances,
    optionally detrended over a covariate with a low-df natural-spline
    regression (linear for n<6, matching ns(df=2)). This is also what
    fitFDistRobustly reduces to whenever n*winsor.tail.p < 1 — e.g. on
    the reference's 4-gene golden fixture, where robust winsorization
    cannot engage.
    """
    s2 = np.asarray(s2, dtype=float)
    df1 = np.broadcast_to(np.asarray(df1, dtype=float), s2.shape)
    ok = np.isfinite(s2) & (s2 > 0) & np.isfinite(df1) & (df1 > 1e-15)
    if ok.sum() < 2:
        return np.inf
    x = s2[ok]
    d1 = df1[ok]
    n = len(x)
    z = np.log(x)
    e = z - digamma(d1 / 2.0) + np.log(d1 / 2.0)
    if covariate is None or len(np.unique(covariate[ok])) < 2:
        evar = np.var(e, ddof=1)
    else:
        df_spline = min(spline_basis_df(n), len(np.unique(covariate[ok])))
        X = natural_spline_basis(covariate[ok], max(df_spline, 1))
        coef, _, rank, _ = np.linalg.lstsq(X, e, rcond=None)
        resid = e - X @ coef
        if n - rank <= 0:
            return np.inf
        evar = float((resid ** 2).sum() / (n - rank))
    evar = evar - float(np.mean(trigamma(d1 / 2.0)))
    if evar <= 0:
        return np.inf
    return 2.0 * float(trigamma_inverse(np.array([evar]))[0])


def residual_df_zero_adjusted(
    y: np.ndarray, mu: np.ndarray, group: np.ndarray
) -> np.ndarray:
    """Per-gene residual df, reduced for samples whose fit AND count
    are both ~zero (edgeR .residDF): such samples carry no information
    about dispersion. For the one-way layout the restricted design
    rank is the number of groups retaining any live sample."""
    zerofit = (mu < 1e-4) & (y < 1e-4)
    live = ~zerofit
    n_live = live.sum(axis=1)
    groups = np.unique(group)
    rank = np.zeros(y.shape[0], dtype=int)
    for grp in groups:
        j = group == grp
        rank += live[:, j].any(axis=1).astype(int)
    return np.maximum(n_live - rank, 0)


def deviance_s2(
    y: np.ndarray, group: np.ndarray, offset: np.ndarray, dispersion: np.ndarray
) -> Tuple[np.ndarray, np.ndarray]:
    """Residual NB deviance / zero-adjusted df at the given (usually
    trended) dispersions — the squeezeVar input in estimateDisp.
    Returns (s2, df_resid) with s2 = 0 where df_resid = 0."""
    g, n = y.shape
    offset = np.broadcast_to(np.asarray(offset, dtype=float), (g, n))
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    mu = np.zeros_like(y, dtype=float)
    for grp in np.unique(group):
        j = group == grp
        beta = mglm_one_group(y[:, j], phi, offset[:, j])
        mu[:, j] = np.exp(beta[:, None] + offset[:, j])
    r = 1.0 / np.maximum(phi, 1e-300)
    yy = np.maximum(y, 1e-300)
    dev = 2.0 * (
        y * np.log(yy / np.maximum(mu, 1e-300))
        - (y + r[:, None]) * np.log((yy + r[:, None]) / (mu + r[:, None]))
    ).sum(axis=1)
    df_resid = residual_df_zero_adjusted(y, mu, group)
    with np.errstate(invalid="ignore", divide="ignore"):
        s2 = np.where(df_resid > 0, dev / np.maximum(df_resid, 1), 0.0)
    return np.maximum(s2, 0.0), df_resid


def estimate_prior_df(
    y: np.ndarray,
    group: np.ndarray,
    offset: np.ndarray,
    trended_disp: np.ndarray,
    covariate: Optional[np.ndarray] = None,
) -> float:
    """Prior degrees of freedom: residual deviances at the trended
    dispersion, zero-adjusted df, then fitFDist moment matching with
    the abundance covariate (limma squeezeVar's estimation path)."""
    s2, df_resid = deviance_s2(y, group, offset, trended_disp)
    return fit_f_dist(s2, df_resid.astype(float), covariate)


def estimate_disp(
    y: np.ndarray,
    group: np.ndarray,
    lib_size: np.ndarray,
    prior_df: Optional[float] = None,
    grid_length: int = 21,
    grid_range: Tuple[float, float] = (-10.0, 10.0),
    span: Optional[float] = None,
    min_row_sum: float = 5.0,
) -> Dict[str, np.ndarray]:
    """APL-grid dispersion estimation (edgeR estimateDisp shape):
    common, trended (smoothed over aveLogCPM), and tagwise empirical
    Bayes dispersions. Prior df follows the squeezeVar path: residual
    deviances at the trended dispersion, zero-adjusted residual df,
    fitFDist moment matching with the abundance covariate. Genes below
    ``min_row_sum`` total counts are excluded from the common/trend/
    prior estimation and get tagwise = trended (edgeR's sel logic)."""
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    offset = np.log(np.asarray(lib_size, dtype=float))
    spline_pts = np.linspace(grid_range[0], grid_range[1], grid_length)
    spline_disp = 0.1 * 2.0 ** spline_pts
    l0 = np.empty((g, grid_length))
    for i, disp in enumerate(spline_disp):
        l0[:, i] = adjusted_profile_lik(disp, y, group, offset[None, :])
    sel = y.sum(axis=1) >= min_row_sum
    if not sel.any():
        sel = np.ones(g, dtype=bool)
    n_sel = int(sel.sum())
    # common: argmax of the summed APL over selected genes
    common_pt = _spline_argmax(spline_pts, l0[sel].sum(axis=0))
    common = 0.1 * 2.0 ** common_pt
    # trended over aveLogCPM (selected genes drive the smoother)
    alc = ave_log_cpm(y, np.asarray(lib_size, dtype=float))
    if span is None:
        span = 1.0 if n_sel <= 50 else 0.25 + 0.75 * (50.0 / n_sel) ** 0.5
    m0_sel = _tricube_smooth(l0[sel], alc[sel], span)
    trend_pts_sel = maximize_interpolant(spline_pts, m0_sel)
    trended = np.empty(g)
    trended[sel] = 0.1 * 2.0 ** trend_pts_sel
    if (~sel).any():
        # nearest-selected trend value by abundance (approx rule=2)
        order = np.argsort(alc[sel])
        xs = alc[sel][order]
        ys = trended[sel][order]
        trended[~sel] = np.interp(alc[~sel], xs, ys)
    # prior df: deviances at the trended dispersion, fitFDist vs alc
    if prior_df is None:
        prior_df = estimate_prior_df(
            y[sel], group, offset[None, :], trended[sel], covariate=alc[sel]
        )
    df_resid = n - len(np.unique(group))
    prior_n = prior_df / df_resid if np.isfinite(prior_df) else 1e8
    # tagwise: maximize l0 + prior.n * m0 for selected; trended otherwise
    tagwise = trended.copy()
    tag_pts = maximize_interpolant(spline_pts, l0[sel] + prior_n * m0_sel)
    tagwise[sel] = 0.1 * 2.0 ** tag_pts
    return {
        "common": common,
        "trended": trended,
        "tagwise": tagwise,
        "prior_df": prior_df,
        "ave_log_cpm": alc,
    }


# ---------------------------------------------------------------------------
# library-size equalization (pseudo counts)
# ---------------------------------------------------------------------------
def q2qnbinom(x, input_mean, output_mean, dispersion):
    """edgeR q2qnbinom: map counts between NB distributions with
    different means by averaging the normal- and gamma-approximation
    quantile transforms."""
    x = np.asarray(x, dtype=float)
    input_mean = np.asarray(input_mean, dtype=float).copy()
    output_mean = np.asarray(output_mean, dtype=float).copy()
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), x.shape)
    eps = 1e-14
    zero = (input_mean < eps) | (output_mean < eps)
    input_mean[zero] += 0.25
    output_mean[zero] += 0.25
    ri = 1.0 + phi * input_mean
    vi = input_mean * ri
    ro = 1.0 + phi * output_mean
    vo = output_mean * ro
    out = np.empty_like(x)
    up = x >= input_mean
    # upper tail
    if up.any():
        p1 = pnorm(x[up], input_mean[up], np.sqrt(vi[up]), lower_tail=False)
        q1 = qnorm(p1, output_mean[up], np.sqrt(vo[up]), lower_tail=False)
        p2 = pgamma(x[up], shape=input_mean[up] / ri[up], scale=ri[up], lower_tail=False)
        q2 = qgamma(p2, shape=output_mean[up] / ro[up], scale=ro[up], lower_tail=False)
        out[up] = 0.5 * (q1 + q2)
    lo = ~up
    if lo.any():
        p1 = pnorm(x[lo], input_mean[lo], np.sqrt(vi[lo]), lower_tail=True)
        q1 = qnorm(p1, output_mean[lo], np.sqrt(vo[lo]), lower_tail=True)
        p2 = pgamma(x[lo], shape=input_mean[lo] / ri[lo], scale=ri[lo], lower_tail=True)
        q2 = qgamma(p2, shape=output_mean[lo] / ro[lo], scale=ro[lo], lower_tail=True)
        out[lo] = 0.5 * (q1 + q2)
    return np.maximum(out, 0.0)


def equalize_lib_sizes(
    y: np.ndarray, group: np.ndarray, dispersion: np.ndarray, lib_size: np.ndarray
) -> Tuple[np.ndarray, float]:
    """Quantile-adjust counts to a common library size (geometric mean
    of the effective sizes), per group (edgeR equalizeLibSizes)."""
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    lib = np.asarray(lib_size, dtype=float)
    common_lib = np.exp(np.mean(np.log(lib)))
    disp = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    pseudo = np.zeros_like(y)
    for grp in np.unique(group):
        j = group == grp
        beta = mglm_one_group(y[:, j], disp, np.log(lib[j])[None, :])
        lam = np.exp(beta)  # per-gene rate
        input_mean = lam[:, None] * lib[j][None, :]
        output_mean = np.broadcast_to((lam * common_lib)[:, None], input_mean.shape).copy()
        pseudo[:, j] = q2qnbinom(
            y[:, j], input_mean, output_mean, disp[:, None]
        )
    return pseudo, common_lib


# ---------------------------------------------------------------------------
# exact NB test (double tail) — edgeR exactTestDoubleTail, faithful
# ---------------------------------------------------------------------------
BINOM_BIG_TOTAL = 10_000


def _padded_row_sums(m: np.ndarray) -> np.ndarray:
    """Row sums of a zero-padded chunk, added left to right. The padded
    width is the chunk's longest row, so numpy's pairwise ``sum`` would
    group a row's terms by which genes share its chunk; the running sum
    gives each gene the same value in any batch."""
    return np.cumsum(m, axis=1)[:, -1]


def binom_test(s1: np.ndarray, s2: np.ndarray, p: float) -> np.ndarray:
    """Exact two-sided binomial split test (edgeR binomTest shape):
    given the total n = s1+s2 split with success prob p, sum the
    probabilities of all outcomes at most as likely as the observed.

    Totals above BINOM_BIG_TOTAL take a doubled-tail normal
    approximation with continuity correction instead — the dense
    enumeration matrix is (chunk × max_total+1); a zero-dispersion gene
    with a multi-million total would otherwise allocate gigabytes for a
    p-value the normal limit already gives to ~1e-4 (same regime where
    edgeR's binomTest leaves exactness behind)."""
    from .numerics import pnorm

    s1 = np.asarray(s1, dtype=float)
    s2 = np.asarray(s2, dtype=float)
    n = s1 + s2
    out = np.ones(len(s1))

    big = n > BINOM_BIG_TOTAL
    if big.any():
        nb, s1b = n[big], s1[big]
        mu = nb * p
        sd = np.sqrt(nb * p * (1.0 - p))
        # continuity-corrected doubled smaller tail
        lo = pnorm((s1b + 0.5 - mu) / sd)
        hi = pnorm(-(s1b - 0.5 - mu) / sd)
        out[big] = np.minimum(2.0 * np.minimum(lo, hi), 1.0)

    small_idx = np.nonzero(~big)[0]
    order = small_idx[np.argsort(n[small_idx])]
    for lo in range(0, len(order), 256):
        ii = order[lo:lo + 256]
        nmax = int(n[ii].max())
        j = np.arange(nmax + 1)[None, :]
        valid = j <= n[ii][:, None]
        jj = np.where(valid, j, 0)
        ni = n[ii][:, None]
        logp = (
            gammaln(ni + 1.0)
            - gammaln(jj + 1.0)
            - gammaln(ni - jj + 1.0)
            + jj * np.log(p)
            + (ni - jj) * np.log1p(-p)
        )
        logp = np.where(valid, logp, -np.inf)
        logp -= logp.max(axis=1, keepdims=True)
        d = np.exp(logp)
        obs = d[np.arange(len(ii)), s1[ii].astype(int)]
        dominated = np.where(d <= obs[:, None] * (1 + 1e-8), d, 0.0)
        out[ii] = np.minimum(
            _padded_row_sums(dominated) / _padded_row_sums(d), 1.0
        )
    return out


def exact_test_beta_approx(y1: np.ndarray, y2: np.ndarray, dispersion) -> np.ndarray:
    """edgeR exactTestBetaApprox: for large counts the conditional split
    S1/(S1+S2) is asymptotically Beta(n1/phi, n2/phi) (gamma limit of
    the NB); doubled smaller tail with a half-count continuity
    correction."""
    from .numerics import pbeta, qbeta

    y1 = np.atleast_2d(np.asarray(y1, dtype=float))
    y2 = np.atleast_2d(np.asarray(y2, dtype=float))
    g = y1.shape[0]
    n1, n2 = y1.shape[1], y2.shape[1]
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    s1 = np.round(y1.sum(axis=1))
    s2 = np.round(y2.sum(axis=1))
    s = s1 + s2
    a1 = n1 / phi
    a2 = n2 / phi
    med = qbeta(np.full(g, 0.5), a1, a2)
    pv = np.ones(g)
    left = (s1 + 0.5) / s < med
    if left.any():
        pv[left] = 2.0 * pbeta(((s1 + 0.5) / s)[left], a1[left], a2[left])
    right = (s1 - 0.5) / s > med
    if right.any():
        pv[right] = 2.0 * pbeta(
            ((s1 - 0.5) / s)[right], a1[right], a2[right], lower_tail=False
        )
    return np.minimum(pv, 1.0)


def exact_test_doubletail(
    y1: np.ndarray, y2: np.ndarray, dispersion, big_count: int = 900
) -> np.ndarray:
    """Exact NB test p-values, faithful to edgeR exactTestDoubleTail:
    conditional on the total s, double the SMALLER tail of the split
    distribution P(S1 = j | S1+S2 = s) — p.top/p.bot with
    p.bot = dnbinom(s; (n1+n2)/phi, mu=s) — rather than summing all
    splits less likely than the observed (that is exactTestBySmallP,
    a different rejection region; see :func:`exact_test_smallp`).
    Genes with both group sums above ``big_count`` use the beta
    approximation; non-positive dispersions use the binomial split.
    """
    y1 = np.atleast_2d(np.asarray(y1, dtype=float))
    y2 = np.atleast_2d(np.asarray(y2, dtype=float))
    g = y1.shape[0]
    n1, n2 = y1.shape[1], y2.shape[1]
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,)).copy()
    s1 = np.round(y1.sum(axis=1))
    s2 = np.round(y2.sum(axis=1))
    s = s1 + s2
    ntot = n1 + n2
    mu = s / ntot
    mu1 = n1 * mu
    pvals = np.ones(g)

    nonzero = s > 0
    pois = nonzero & (phi <= 0)
    if pois.any():
        pvals[pois] = binom_test(s1[pois], s2[pois], n1 / ntot)
    big = nonzero & (phi > 0) & (s1 > big_count) & (s2 > big_count)
    if big.any():
        pvals[big] = exact_test_beta_approx(y1[big], y2[big], phi[big])
    rest = nonzero & (phi > 0) & ~big

    left = np.nonzero(rest & (s1 < mu1))[0]
    right = np.nonzero(rest & (s1 > mu1))[0]
    # genes with s1 == mu1 exactly keep p = 1 (edgeR leaves them at 1)

    def tail_sums(idx, lengths, enum_left):
        """Doubled-tail sums, chunked and padded to the max tail length
        (sorted by length so padding waste stays bounded)."""
        order = idx[np.argsort(lengths[idx])]
        for lo in range(0, len(order), 256):
            ii = order[lo:lo + 256]
            lmax = int(lengths[ii].max())
            t = np.arange(lmax)[None, :]
            valid = t < lengths[ii][:, None]
            tt = np.where(valid, t, 0)
            r1 = (n1 / phi[ii])[:, None]
            r2 = (n2 / phi[ii])[:, None]
            m1 = (n1 * mu[ii])[:, None]
            m2 = (n2 * mu[ii])[:, None]
            si = s[ii][:, None]
            if enum_left:  # j = 0..s1: left tail
                j = tt
            else:  # j = s1..s, enumerated from the right as j = s - t
                j = si - tt
            logp = dnbinom_log(j, r1, m1) + dnbinom_log(si - j, r2, m2)
            logpbot = dnbinom_log(s[ii], ntot / phi[ii], s[ii])[:, None]
            contrib = np.where(valid, np.exp(logp - logpbot), 0.0)
            pvals[ii] = np.minimum(2.0 * _padded_row_sums(contrib), 1.0)

    if len(left):
        tail_sums(left, (s1 + 1).astype(int), True)
    if len(right):
        tail_sums(right, (s2 + 1).astype(int), False)
    return pvals


def exact_test_smallp(
    y1: np.ndarray, y2: np.ndarray, dispersion
) -> np.ndarray:
    """edgeR exactTestBySmallP: sum the probabilities of all splits at
    most as likely as the observed one (kept for the alternative
    rejection region; the pipeline default is doubletail)."""
    y1 = np.atleast_2d(np.asarray(y1, dtype=float))
    y2 = np.atleast_2d(np.asarray(y2, dtype=float))
    g = y1.shape[0]
    n1, n2 = y1.shape[1], y2.shape[1]
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    s1 = np.round(y1.sum(axis=1))
    s2 = np.round(y2.sum(axis=1))
    s = s1 + s2
    mu = s / (n1 + n2)
    mu1, mu2 = n1 * mu, n2 * mu
    pvals = np.ones(g)
    idx = np.nonzero(s > 0)[0]
    order = idx[np.argsort(s[idx])]
    for lo in range(0, len(order), 256):
        ii = order[lo:lo + 256]
        smax = int(s[ii].max())
        j = np.arange(smax + 1)[None, :]
        valid = j <= s[ii][:, None]
        jj = np.where(valid, j, 0)
        r1 = (n1 / phi[ii])[:, None]
        r2 = (n2 / phi[ii])[:, None]
        logp = dnbinom_log(jj, r1, mu1[ii][:, None]) + dnbinom_log(
            s[ii][:, None] - jj, r2, mu2[ii][:, None]
        )
        logp = np.where(valid, logp, -np.inf)
        logp -= logp.max(axis=1, keepdims=True)
        p = np.exp(logp)
        obs = p[np.arange(len(ii)), s1[ii].astype(int)]
        dominated = np.where(p <= obs[:, None] * (1 + 1e-12), p, 0.0)
        pvals[ii] = np.minimum(dominated.sum(axis=1) / p.sum(axis=1), 1.0)
    return pvals


def equalize_pooled(
    y: np.ndarray, dispersion, lib_size: np.ndarray
) -> Tuple[np.ndarray, float]:
    """Library-size equalization as done INSIDE edgeR's exactTest: one
    pooled one-group abundance over ALL samples (not per group — that
    is :func:`equalize_lib_sizes`, the standalone equalizeLibSizes),
    mapping each count from its own effective library to the geometric
    average library."""
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    lib = np.asarray(lib_size, dtype=float)
    offset = np.log(lib)
    lib_avg = float(np.exp(offset.mean()))
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    beta = mglm_one_group(y, phi, offset[None, :])
    e = np.exp(beta)
    input_mean = e[:, None] * lib[None, :]
    output_mean = np.broadcast_to((e * lib_avg)[:, None], input_mean.shape)
    pseudo = q2qnbinom(y, input_mean, output_mean, phi[:, None])
    return np.maximum(pseudo, 0.0), lib_avg


def exact_test_logfc(
    y: np.ndarray,
    dispersion,
    lib_size: np.ndarray,
    n1: int,
    prior_count: float = 0.125,
) -> np.ndarray:
    """logFC as reported by edgeR's exactTest: difference of one-group
    abundances fitted on counts augmented by a library-size-scaled
    prior, over prior-augmented offsets (first group minus second)."""
    y = np.asarray(y, dtype=float)
    g, n = y.shape
    lib = np.asarray(lib_size, dtype=float)
    phi = np.broadcast_to(np.asarray(dispersion, dtype=float), (g,))
    pc = prior_count * lib / lib.mean()
    off_aug = np.log(lib + 2.0 * pc)
    a1 = mglm_one_group(
        y[:, :n1] + pc[None, :n1], phi, off_aug[None, :n1]
    )
    a2 = mglm_one_group(
        y[:, n1:] + pc[None, n1:], phi, off_aug[None, n1:]
    )
    return (a1 - a2) / np.log(2.0)
