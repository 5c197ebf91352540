"""Whole-series tsfresh features (spectral / model-fit / entropy tier).

The base catalog (`operators/ts_features.py`, ~130 features per column) is
pure JVM aggregates — one shuffle, no Python. This module adds the tsfresh
default-set remainder that genuinely needs the ENTIRE ordered series in one
place: full-spectrum FFT statistics, Ricker-wavelet CWT coefficients,
autoregression / partial-autocorrelation model fits, sample / approximate /
permutation / Lempel-Ziv entropies, corridor change statistics
(``change_quantiles``), chunk-aggregated trends (``agg_linear_trend``), and
Friedrich drift-model coefficients.

Spark shape — still ONE shuffle:
  ``groupBy(id).agg(sort_array(collect_list(struct(order, value))))``
gathers each series sorted on its executor (the same keyed exchange the base
catalog rides), then ONE Arrow-batched ``mapInPandas`` stage computes every
feature per series with numpy. Nothing gathers to the driver; memory needs
one series per task at a time — the same per-series locality constraint
tsfresh itself has (it holds the whole series in pandas), but distributed
across executors instead of one process.

The reference escapes to the tsfresh library on a driver-collected pandas
table (reference ``clearbox_preprocessor/preprocessor.py:558-638``); the
feature formulas below re-express tsfresh's default ``ComprehensiveFCParameters``
entries (names follow tsfresh's ``{column}__{feature}`` convention with
parameters folded in, dots/quotes adapted to Spark-safe column names).
``augmented_dickey_fuller`` is implemented pure-numpy (autolag-AIC
regression + embedded MacKinnon response-surface p-values — see
``_adfuller``). The remaining tsfresh names — ``number_cwt_peaks``
(scipy's ridge-line peak finder) and ``matrix_profile`` /
``query_similarity_count`` (which tsfresh NaNs without optional native
dependencies) — are implemented in ``operators/matrix_profile.py``
(round 8), closing the catalog.

Grading: rows-only by design (libm/FFT float math is not DuckDB-replayable
bit-for-bit); `tests/test_ts_spectral.py` checks every family against
independent straight-line reference implementations (explicit DFT sums,
brute-force template counting, hand pacf recursions) plus degenerate-input
and repartition-determinism invariants.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.operators.ts_features import _NUMERIC_TYPES, _tag

# ---- tsfresh default parameter grids -----------------------------------
FFT_COEFFS = 100                       # fft_coefficient coeff 0..99
FFT_ATTRS = ("real", "imag", "abs", "angle")
FFT_AGG_ATTRS = ("centroid", "variance", "skew", "kurtosis")
FOURIER_ENTROPY_BINS = (2, 3, 5, 10, 100)
WELCH_COEFFS = (2, 5, 8)               # spkt_welch_density
CWT_WIDTHS = (2, 5, 10, 20)
CWT_COEFFS = tuple(range(15))          # coeff 0..14 per width
AR_K = 10                              # ar_coefficient k=10, coeff 0..10
PACF_LAGS = tuple(range(10))           # partial_autocorrelation lag 0..9
APEN_RS = (0.1, 0.3, 0.5, 0.7, 0.9)    # approximate_entropy r·std
PERMUTATION_DIMS = (3, 4, 5, 6, 7)     # permutation_entropy tau=1
LEMPEL_ZIV_BINS = (2, 3, 5, 10, 100)
CQ_QL = (0.0, 0.2, 0.4, 0.6, 0.8)      # change_quantiles grid (ql < qh)
CQ_QH = (0.2, 0.4, 0.6, 0.8, 1.0)
CQ_AGGS = ("mean", "var")
ALT_CHUNK_LENS = (5, 10, 50)           # agg_linear_trend
ALT_AGGS = ("max", "min", "mean", "var")
ALT_ATTRS = ("rvalue", "intercept", "slope", "stderr")
LT_ATTRS = ("pvalue", "rvalue", "intercept", "stderr")  # slope in base tier
MEAN_N_ABS_MAX = 7
FRIEDRICH_M, FRIEDRICH_R = 3, 30


def _catalog() -> list[str]:
    names: list[str] = []
    for a in FFT_ATTRS:
        names += [f"fft_coefficient_{a}_{k}" for k in range(FFT_COEFFS)]
    names += [f"fft_aggregated_{a}" for a in FFT_AGG_ATTRS]
    names += [f"fourier_entropy_bins_{b}" for b in FOURIER_ENTROPY_BINS]
    names += [f"spkt_welch_density_coeff_{k}" for k in WELCH_COEFFS]
    for w in CWT_WIDTHS:
        names += [f"cwt_coefficients_w_{w}_coeff_{k}" for k in CWT_COEFFS]
    names += [f"ar_coefficient_coeff_{j}_k_{AR_K}" for j in range(AR_K + 1)]
    names += [f"partial_autocorrelation_lag_{l}" for l in PACF_LAGS]
    names += ["sample_entropy"]
    names += [f"approximate_entropy_r_{_tag(r)}" for r in APEN_RS]
    names += [f"permutation_entropy_dimension_{d}" for d in PERMUTATION_DIMS]
    names += [f"lempel_ziv_complexity_bins_{b}" for b in LEMPEL_ZIV_BINS]
    for f_agg in CQ_AGGS:
        for isabs in (False, True):
            for ql in CQ_QL:
                for qh in CQ_QH:
                    if ql >= qh:
                        continue
                    names.append(
                        f"change_quantiles_{f_agg}_abs_{int(isabs)}"
                        f"_ql_{_tag(ql)}_qh_{_tag(qh)}"
                    )
    for attr in ALT_ATTRS:
        for cl in ALT_CHUNK_LENS:
            for f_agg in ALT_AGGS:
                names.append(f"agg_linear_trend_{attr}_chunk_{cl}_{f_agg}")
    names += [f"linear_trend_{a}" for a in LT_ATTRS]
    names += [f"mean_n_absolute_max_n_{MEAN_N_ABS_MAX}", "benford_correlation"]
    names += [
        f"friedrich_coefficients_coeff_{j}_m_{FRIEDRICH_M}_r_{FRIEDRICH_R}"
        for j in range(FRIEDRICH_M + 1)
    ]
    names += ["max_langevin_fixed_point"]
    names += [
        f"augmented_dickey_fuller_{a}_autolag_aic"
        for a in ("teststat", "pvalue", "usedlag")
    ]
    return names


SPECTRAL_FEATURES: tuple[str, ...] = tuple(_catalog())


# ---- numeric building blocks (pure numpy, scipy-free) -------------------

def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a,b) via Lentz continued fraction
    (the classic linregress-pvalue dependency; |err| < 1e-12 for the t-test
    arguments used here)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    front = math.exp(a * math.log(x) + b * math.log1p(-x) - lbeta) / a
    # continued fraction for I_x(a,b); converges fast when x < (a+1)/(a+b+2)
    if x >= (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        num = m * (b - m) * x / ((a + m2 - 1.0) * (a + m2))
        d = 1.0 + num * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + num / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        num = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))
        d = 1.0 + num * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + num / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    return front * h


def _linregress(y: np.ndarray) -> tuple[float, float, float, float, float]:
    """(slope, intercept, rvalue, pvalue, stderr) of y over 0..n-1 —
    scipy.stats.linregress semantics incl. the two-sided t-test p-value."""
    n = len(y)
    if n < 2:
        return (np.nan,) * 5
    x = np.arange(n, dtype=float)
    xm, ym = x.mean(), y.mean()
    ssxm = np.mean((x - xm) ** 2)
    ssym = np.mean((y - ym) ** 2)
    ssxym = np.mean((x - xm) * (y - ym))
    if ssxm == 0.0:
        return (np.nan,) * 5
    slope = ssxym / ssxm
    intercept = ym - slope * xm
    if ssym == 0.0:
        r = 1.0 if ssxym != 0 else 0.0
    else:
        r = ssxym / math.sqrt(ssxm * ssym)
        r = max(-1.0, min(1.0, r))
    if n == 2:
        return slope, intercept, r, 1.0, 0.0
    df = n - 2
    denom = max(1.0 - r * r, 0.0)
    if denom == 0.0:
        pvalue, stderr = 0.0, 0.0
    else:
        t = r * math.sqrt(df / denom)
        pvalue = _betainc(df / 2.0, 0.5, df / (df + t * t))
        stderr = math.sqrt((ssym / ssxm) * denom / df)
    return slope, intercept, r, pvalue, stderr


def _welch_psd(v: np.ndarray) -> np.ndarray:
    """Welch power spectral density: Hann window, nperseg=min(256,n), 50%
    overlap, constant detrend, fs=1, density scaling — scipy.signal.welch's
    defaults re-expressed in numpy."""
    n = len(v)
    nperseg = min(256, n)
    if nperseg < 2:
        return np.array([np.nan])
    noverlap = nperseg // 2
    step = nperseg - noverlap
    # periodic Hann (scipy get_window default, fftbins=True): denominator
    # nperseg, NOT the symmetric np.hanning (denominator nperseg-1) —
    # tsfresh's spkt_welch_density/fourier_entropy go through scipy.welch
    win = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(nperseg) / nperseg)
    scale = 1.0 / (win * win).sum()
    segs = []
    for start in range(0, n - nperseg + 1, step):
        seg = v[start : start + nperseg]
        seg = (seg - seg.mean()) * win
        fx = np.fft.rfft(seg)
        p = (fx.real**2 + fx.imag**2) * scale
        if nperseg % 2 == 0:
            p[1:-1] *= 2.0
        else:
            p[1:] *= 2.0
        segs.append(p)
    return np.mean(segs, axis=0)


# MacKinnon (1994; 2010 update) response-surface coefficients for the ADF
# tau distribution — regression="c", one I(1) variable. These are the
# published constants statsmodels embeds (tsfresh's augmented_dickey_fuller
# calls statsmodels.adfuller); validated in tests against the textbook
# Dickey-Fuller critical values p(-3.43)≈0.01, p(-2.86)≈0.05, p(-2.57)≈0.10.
_ADF_TAU_MAX = 2.74
_ADF_TAU_MIN = -18.83
_ADF_TAU_STAR = -1.61
_ADF_TAU_SMALLP = (2.1659, 1.4412, 0.038269)
_ADF_TAU_LARGEP = (1.7339, 0.93202, -0.12745, -0.010368)


def _adf_pvalue(stat: float) -> float:
    """MacKinnon approximate asymptotic p-value (statsmodels ``mackinnonp``
    semantics, regression='c', N=1): Φ(poly(stat)) with the response-
    surface polynomial, clamped to {0, 1} outside the tabulated range."""
    if stat > _ADF_TAU_MAX:
        return 1.0
    if stat < _ADF_TAU_MIN:
        return 0.0
    coef = _ADF_TAU_SMALLP if stat <= _ADF_TAU_STAR else _ADF_TAU_LARGEP
    z = 0.0
    for i, c in enumerate(coef):
        z += c * stat**i
    return 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))


def _adfuller(v: np.ndarray):
    """statsmodels ``adfuller(x, regression='c', autolag='AIC')``
    re-expressed in numpy: Δx_t on [x_{t-1}, Δx_{t-1..k}, const], k chosen
    by OLS-AIC over 0..maxlag (Schwert's 12·(n/100)^¼ rule, all candidates
    on the maxlag-trimmed common rows, ties → smallest k), then refit on
    the usedlag-trimmed rows; teststat is the t-ratio on x_{t-1}, p-value
    from the MacKinnon response surface. Returns (teststat, pvalue,
    usedlag) or None for series too short/degenerate (tsfresh NaNs those).
    """
    x = np.asarray(v, dtype=float)
    n = len(x)
    maxlag = min(int(np.ceil(12.0 * (n / 100.0) ** 0.25)), n // 2 - 2)
    if maxlag < 0:
        return None
    xdiff = np.diff(x)
    nobs = len(xdiff) - maxlag
    if nobs < maxlag + 3:  # every candidate fit needs dof > 0
        return None

    def _design(k: int, rows: int):
        level = x[-rows - 1 : -1]
        lags = [xdiff[k - j : len(xdiff) - j] for j in range(1, k + 1)]
        return level, lags, xdiff[-rows:]

    # AIC selection over the common maxlag-trimmed rows (statsmodels
    # _autolag slices one full design matrix, so rows are shared)
    level, lags, dep = _design(maxlag, nobs)
    fullX = np.column_stack([np.ones(nobs), level, *lags])
    best_aic, usedlag = math.inf, 0
    for k in range(maxlag + 1):
        X = fullX[:, : 2 + k]
        params, *_ = np.linalg.lstsq(X, dep, rcond=None)
        resid = dep - X @ params
        ssr = float(resid @ resid)
        if ssr <= 0.0:
            return None  # degenerate (e.g. constant series)
        llf = -nobs / 2.0 * (1.0 + math.log(2.0 * math.pi) + math.log(ssr / nobs))
        aic = -2.0 * llf + 2.0 * X.shape[1]
        if aic < best_aic:
            best_aic, usedlag = aic, k
    # final regression, re-trimmed at usedlag (more rows when usedlag<maxlag)
    rows = len(xdiff) - usedlag
    level, lags, dep = _design(usedlag, rows)
    X = np.column_stack([level, *lags, np.ones(rows)])  # const appended last
    XtX = X.T @ X
    try:
        XtX_inv = np.linalg.inv(XtX)
    except np.linalg.LinAlgError:
        return None
    params = XtX_inv @ (X.T @ dep)
    resid = dep - X @ params
    dof = rows - X.shape[1]
    if dof <= 0:
        return None
    s2 = float(resid @ resid) / dof
    var0 = s2 * XtX_inv[0, 0]
    if not var0 > 0.0:
        return None
    stat = float(params[0] / math.sqrt(var0))
    return stat, _adf_pvalue(stat), usedlag


def _ricker(points: int, a: float) -> np.ndarray:
    """scipy.signal.ricker: Mexican-hat wavelet of `points` samples."""
    A = 2.0 / (math.sqrt(3.0 * a) * (math.pi**0.25))
    x = np.arange(points, dtype=float) - (points - 1.0) / 2.0
    wsq = a * a
    return A * (1.0 - x * x / wsq) * np.exp(-(x * x) / (2.0 * wsq))


def _binned_entropy(x: np.ndarray, bins: int) -> float:
    if len(x) == 0 or not np.isfinite(x).all():
        return np.nan
    hist, _ = np.histogram(x, bins=bins)
    probs = hist / len(x)
    probs = probs[probs > 0]
    return float(-(probs * np.log(probs)).sum())


def _embed(v: np.ndarray, m: int) -> np.ndarray:
    n = len(v) - m + 1
    return np.lib.stride_tricks.sliding_window_view(v, m)[:n]


def _sample_entropy(v: np.ndarray) -> float:
    """SampEn(m=2, r=0.2·std, Chebyshev), self-matches excluded (tsfresh)."""
    n = len(v)
    m = 2
    if n <= m + 1:
        return np.nan
    tol = 0.2 * v.std()
    xm = _embed(v, m)          # (n-m+1, m) — tsfresh uses all n-m+1 m-templates
    xm1 = _embed(v, m + 1)
    dm = np.abs(xm[:, None, :] - xm[None, :, :]).max(axis=2)
    dm1 = np.abs(xm1[:, None, :] - xm1[None, :, :]).max(axis=2)
    b = (np.count_nonzero(dm <= tol) - dm.shape[0]) / 2
    a = (np.count_nonzero(dm1 <= tol) - dm1.shape[0]) / 2
    if a == 0 or b == 0:
        return np.nan
    return float(-math.log(a / b))


def _approximate_entropy(v: np.ndarray, r_mult: float) -> float:
    """ApEn(m=2, r·std) — tsfresh returns 0 for series shorter than m+2."""
    n = len(v)
    m = 2
    if n <= m + 2:
        return 0.0
    r = r_mult * v.std()

    def phi(mm: int) -> float:
        x = _embed(v, mm)
        d = np.abs(x[:, None, :] - x[None, :, :]).max(axis=2)
        c = (d <= r).sum(axis=1) / (n - mm + 1.0)
        return float(np.log(c).sum() / (n - mm + 1.0))

    return abs(phi(m) - phi(m + 1))


def _permutation_entropy(v: np.ndarray, dim: int) -> float:
    if len(v) < dim:
        return np.nan
    windows = _embed(v, dim)
    patterns = np.argsort(windows, kind="stable", axis=1)
    _, counts = np.unique(patterns, axis=0, return_counts=True)
    probs = counts / len(windows)
    return float(-(probs * np.log(probs)).sum())


def _lempel_ziv(v: np.ndarray, bins: int) -> float:
    edges = np.linspace(v.min(), v.max(), bins + 1)[1:]
    seq = np.searchsorted(edges, v, side="left")
    subs: set = set()
    n = len(seq)
    ind, inc = 0, 1
    while ind + inc <= n:
        piece = tuple(seq[ind : ind + inc])
        if piece in subs:
            inc += 1
        else:
            subs.add(piece)
            ind += inc
            inc = 1
    return len(subs) / n


_CQ_PAIRS = tuple(
    (ql, qh) for ql in CQ_QL for qh in CQ_QH if ql < qh
)
_CQ_GRID_QS = tuple(sorted(set(CQ_QL) | set(CQ_QH)))


def _change_quantiles_grid(v: np.ndarray) -> dict[str, float]:
    """The whole ql×qh×isabs×f_agg grid from ONE quantile call and one
    diff — 600 np.quantile calls per series profiled as the hot spot."""
    qv = dict(zip(_CQ_GRID_QS, np.quantile(v, _CQ_GRID_QS)))
    diffs = np.diff(v)
    out: dict[str, float] = {}
    for ql, qh in _CQ_PAIRS:
        lo, hi = qv[ql], qv[qh]
        if lo == hi:
            res = None
        else:
            inside = (v >= lo) & (v <= hi)
            res = diffs[inside[:-1] & inside[1:]]
            if len(res) == 0:
                res = None
        for f_agg in CQ_AGGS:
            for isabs in (False, True):
                name = (
                    f"change_quantiles_{f_agg}_abs_{int(isabs)}"
                    f"_ql_{_tag(ql)}_qh_{_tag(qh)}"
                )
                if res is None:
                    out[name] = 0.0
                else:
                    out[name] = float(
                        getattr(np, f_agg)(np.abs(res) if isabs else res)
                    )
    return out


def _chunk_aggregate(v: np.ndarray, chunk_len: int, f_agg: str) -> np.ndarray:
    out = []
    for i in range(0, len(v), chunk_len):
        out.append(getattr(np, f_agg)(v[i : i + chunk_len]))
    return np.asarray(out, dtype=float)


def _friedrich_polyfit(v: np.ndarray) -> np.ndarray | None:
    """Friedrich drift model: quantile-bin (x_t, Δx_t), mean per bin, degree-m
    polyfit of drift vs signal (tsfresh m=3, r=30; qcut-failure → None)."""
    if len(v) < 2:
        return None
    sig, delta = v[:-1], np.diff(v)
    edges = np.unique(np.quantile(sig, np.linspace(0, 1, FRIEDRICH_R + 1)))
    if len(edges) < 3:  # pandas.qcut with duplicate edges raises → NaN
        return None
    which = np.clip(np.searchsorted(edges, sig, side="right") - 1, 0, len(edges) - 2)
    xs, ys = [], []
    for b in range(len(edges) - 1):
        m = which == b
        if m.any():
            xs.append(sig[m].mean())
            ys.append(delta[m].mean())
    if len(xs) <= FRIEDRICH_M:
        return None
    try:
        return np.polyfit(np.asarray(xs), np.asarray(ys), deg=FRIEDRICH_M)
    except np.linalg.LinAlgError:
        return None


def _series_features_nan(v: np.ndarray) -> dict[str, float]:
    """All spectral-tier features for one ordered, null-free series
    (missing values as NaN — the hot-path form the Arrow stage consumes)."""
    out: dict[str, float] = {name: np.nan for name in SPECTRAL_FEATURES}
    n = len(v)
    if n == 0:
        return out

    fx = np.fft.rfft(v)
    attrs = {
        "real": fx.real,
        "imag": fx.imag,
        "abs": np.abs(fx),
        "angle": np.angle(fx, deg=True),
    }
    for a, vals in attrs.items():
        for k in range(min(FFT_COEFFS, len(vals))):
            out[f"fft_coefficient_{a}_{k}"] = float(vals[k])

    spectrum = np.abs(fx)
    if spectrum.sum() > 0:
        idx = np.arange(len(spectrum), dtype=float)

        def moment(p: int) -> float:
            return float((spectrum * idx**p).sum() / spectrum.sum())

        centroid = moment(1)
        m2, m3, m4 = moment(2), moment(3), moment(4)
        var = m2 - centroid**2
        out["fft_aggregated_centroid"] = centroid
        out["fft_aggregated_variance"] = var
        if var > 0.5:  # tsfresh's stability guard
            out["fft_aggregated_skew"] = (
                m3 - 3 * centroid * var - centroid**3
            ) / var**1.5
            out["fft_aggregated_kurtosis"] = (
                m4 - 4 * centroid * m3 + 6 * m2 * centroid**2 - 3 * centroid**4
            ) / var**2

    pxx = _welch_psd(v)
    if np.isfinite(pxx).all() and pxx.max() > 0:
        rel = pxx / pxx.max()
        for b in FOURIER_ENTROPY_BINS:
            out[f"fourier_entropy_bins_{b}"] = _binned_entropy(rel, b)
    for k in WELCH_COEFFS:
        if k < len(pxx) and np.isfinite(pxx[k]):
            out[f"spkt_welch_density_coeff_{k}"] = float(pxx[k])

    for w in CWT_WIDTHS:
        conv = np.convolve(v, _ricker(min(10 * w, n), w), mode="same")
        for k in CWT_COEFFS:
            if k < len(conv):
                out[f"cwt_coefficients_w_{w}_coeff_{k}"] = float(conv[k])

    if n > AR_K + 1:
        cols = [np.ones(n - AR_K)]
        cols += [v[AR_K - j : n - j] for j in range(1, AR_K + 1)]
        X = np.column_stack(cols)
        params, *_ = np.linalg.lstsq(X, v[AR_K:], rcond=None)
        for j in range(AR_K + 1):
            out[f"ar_coefficient_coeff_{j}_k_{AR_K}"] = float(params[j])

    try:
        adf = _adfuller(v)
    except (np.linalg.LinAlgError, ValueError):
        adf = None  # tsfresh NaNs short/degenerate series the same way
    if adf is not None:
        out["augmented_dickey_fuller_teststat_autolag_aic"] = adf[0]
        out["augmented_dickey_fuller_pvalue_autolag_aic"] = adf[1]
        out["augmented_dickey_fuller_usedlag_autolag_aic"] = float(adf[2])

    # partial autocorrelation via Levinson-Durbin on the biased acov
    # (statsmodels pacf(method="ld"), tsfresh's choice)
    max_lag = max(PACF_LAGS)
    out["partial_autocorrelation_lag_0"] = 1.0
    if n > max_lag and v.var() > 0:
        vc = v - v.mean()
        acov = np.array(
            [(vc[: n - l] * vc[l:]).sum() / n for l in range(max_lag + 1)]
        )
        rho = acov / acov[0]
        phi_prev = np.zeros(max_lag + 1)
        for k in range(1, max_lag + 1):
            if k == 1:
                phi_kk = rho[1]
                phi_cur = np.zeros(max_lag + 1)
                phi_cur[1] = phi_kk
            else:
                num = rho[k] - (phi_prev[1:k] * rho[k - 1 : 0 : -1]).sum()
                den = 1.0 - (phi_prev[1:k] * rho[1:k]).sum()
                phi_kk = num / den if den != 0 else np.nan
                phi_cur = np.zeros(max_lag + 1)
                phi_cur[k] = phi_kk
                for j in range(1, k):
                    phi_cur[j] = phi_prev[j] - phi_kk * phi_prev[k - j]
            if k in PACF_LAGS:
                out[f"partial_autocorrelation_lag_{k}"] = float(phi_kk)
            phi_prev = phi_cur

    out["sample_entropy"] = _sample_entropy(v)
    for r in APEN_RS:
        out[f"approximate_entropy_r_{_tag(r)}"] = _approximate_entropy(v, r)
    for d in PERMUTATION_DIMS:
        out[f"permutation_entropy_dimension_{d}"] = _permutation_entropy(v, d)
    if v.max() > v.min():
        for b in LEMPEL_ZIV_BINS:
            out[f"lempel_ziv_complexity_bins_{b}"] = _lempel_ziv(v, b)

    out.update(_change_quantiles_grid(v))

    for cl in ALT_CHUNK_LENS:
        for f_agg in ALT_AGGS:
            aggs = _chunk_aggregate(v, cl, f_agg)
            slope, intercept, r, _, stderr = _linregress(aggs)
            vals = {
                "rvalue": r,
                "intercept": intercept,
                "slope": slope,
                "stderr": stderr,
            }
            for attr in ALT_ATTRS:
                out[f"agg_linear_trend_{attr}_chunk_{cl}_{f_agg}"] = vals[attr]

    slope, intercept, r, pvalue, stderr = _linregress(v)
    out["linear_trend_pvalue"] = pvalue
    out["linear_trend_rvalue"] = r
    out["linear_trend_intercept"] = intercept
    out["linear_trend_stderr"] = stderr

    if n >= MEAN_N_ABS_MAX:
        out[f"mean_n_absolute_max_n_{MEAN_N_ABS_MAX}"] = float(
            np.sort(np.abs(v))[-MEAN_N_ABS_MAX:].mean()
        )

    # tsfresh keeps zeros/NaN in the denominator: nan_to_num, leading digit
    # of EVERY element (0 for zeros — matches '0' from
    # np.format_float_scientific), (digit==d).mean() over the full length
    ax = np.abs(np.nan_to_num(v))
    if len(ax):
        digit = np.zeros(len(ax), dtype=int)
        nz = ax > 0
        digit[nz] = (ax[nz] / 10.0 ** np.floor(np.log10(ax[nz]))).astype(int)
        dist = np.array([(digit == d).mean() for d in range(1, 10)])
        benford = np.log10(1.0 + 1.0 / np.arange(1, 10))
        if dist.std() > 0:
            out["benford_correlation"] = float(np.corrcoef(benford, dist)[0, 1])

    coeffs = _friedrich_polyfit(v)
    if coeffs is not None:
        for j in range(FRIEDRICH_M + 1):
            out[
                f"friedrich_coefficients_coeff_{j}_m_{FRIEDRICH_M}_r_{FRIEDRICH_R}"
            ] = float(coeffs[j])
        # tsfresh: max over real PARTS of all roots (complex included);
        # NaN only when that max exceeds max(x)
        roots = np.roots(coeffs)
        if len(roots):
            mfp = float(np.real(roots).max())
            if mfp <= v.max():
                out["max_langevin_fixed_point"] = mfp

    return out


def _series_features(v: np.ndarray) -> dict[str, float | None]:
    """Reference/test API: NaN-free dict (missing → None)."""
    raw = _series_features_nan(v)
    return {
        k: (float(x) if x is not None and np.isfinite(x) else None)
        for k, x in raw.items()
    }


def extract_ts_features_spectral(
    data: DataFrame,
    time: str,
    column_id: str,
    value_cols: list[str] | None = None,
    round_decimals: int | None = None,
) -> DataFrame:
    """One row per series id, ~{len(SPECTRAL_FEATURES)} features per value
    column named ``{col}__{feature}`` — the whole-series tsfresh tier.

    Plan: one keyed shuffle (``groupBy(id)`` with per-column
    ``sort_array(collect_list(struct(order, value)))``) followed by one
    Arrow-batched ``mapInPandas`` stage; null values drop out of their
    series (tsfresh operates on the non-null frame).

    ``round_decimals`` rounds inside the Arrow stage (numpy half-even) —
    a caller-side ``F.round`` over ~750 columns costs seconds of pure
    Catalyst/codegen time, the numpy call costs nothing."""
    if value_cols is None:
        value_cols = [
            f.name
            for f in data.schema.fields
            if f.name not in (time, column_id)
            and isinstance(f.dataType, _NUMERIC_TYPES)
        ]
    if not value_cols:
        raise ValueError("No numeric value columns to extract features from.")

    aggs = []
    for c in value_cols:
        pair = F.struct(
            F.col(time).alias("o"), F.col(c).cast("double").alias("v")
        )
        aggs.append(
            F.sort_array(
                F.collect_list(F.when(F.col(c).isNotNull(), pair))
            ).alias(f"__series_{c}")
        )
    # Explicit keyed repartition ahead of the gather: the per-series numpy
    # stage is Python-compute-bound (~10 ms/series), but the gathered frame
    # is only a few MB, so AQE's byte-sized coalescing collapses the
    # shuffle to ONE partition and serializes the whole Arrow stage
    # (measured 20.9 s -> ~2 s at sf0.1). A user-specified partition count
    # is exempt from coalescing, and the groupBy reuses the partitioning —
    # still exactly one exchange in the plan.
    n_part = int(data.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    gathered = data.repartition(n_part, column_id).groupBy(column_id).agg(*aggs)

    id_field = gathered.schema[column_id]
    fields = [T.StructField(column_id, id_field.dataType, True)]
    for c in value_cols:
        fields += [
            T.StructField(f"{c}__{name}", T.DoubleType(), True)
            for name in SPECTRAL_FEATURES
        ]
    schema = T.StructType(fields)

    n_feat = len(SPECTRAL_FEATURES)

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            nrows = len(pdf)
            data = {column_id: pdf[column_id].to_numpy()}
            for c in value_cols:
                mat = np.full((nrows, n_feat), np.nan)
                col = pdf[f"__series_{c}"].to_numpy()
                for i in range(nrows):
                    series = col[i]
                    vv = np.array([p["v"] for p in series], dtype=float)
                    feats = _series_features_nan(vv)
                    mat[i, :] = [feats[k] for k in SPECTRAL_FEATURES]
                if round_decimals is not None:
                    mat = np.round(mat, round_decimals)
                # NaN -> null INSIDE the Arrow stage (nullable Float64 masks
                # become Arrow validity bitmaps) so downstream semantics
                # match the base tier's SQL NULLs — a JVM-side
                # when(~isnan(...)) projection over ~750 columns costs
                # seconds of codegen; this costs nothing
                nanmask = np.isnan(mat)
                for j, name in enumerate(SPECTRAL_FEATURES):
                    data[f"{c}__{name}"] = pd.arrays.FloatingArray(
                        mat[:, j], nanmask[:, j]
                    )
            yield pd.DataFrame(data)

    return gathered.mapInPandas(compute, schema=schema)
