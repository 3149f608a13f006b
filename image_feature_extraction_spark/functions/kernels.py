"""Pure-numpy numeric kernels (no Spark imports).

Re-creates the reference's per-sample numeric pipeline as vectorized numpy,
to be invoked from Arrow-batched pandas UDFs. Semantics are ported from
(cited for parity-checking, not copied):

- closed-form symmetric 3x3 eigenvalues with |l3|<=|l2|<=|l1| ordering:
  /root/reference/include/ife/Numerics/Symmetric3x3EigenvalueSolver.h:33-132
- eigenvalue-derived features (l1,l2,l3, LoG, Gaussian curvature, Frobenius):
  /root/reference/include/ife/Numerics/EigenvalueFeaturesFunctor.h:20-31
- dense histogram with bins (-inf,e0], (e0,e1], ..., (e_{n-1},+inf):
  /root/reference/include/ife/Statistics/DenseHistogram.h:22-53
- equi-depth (equalized-histogram) edge finding with duplicate handling:
  /root/reference/include/ife/Statistics/DetermineEdgesForEqualizedHistogram.h:21-139
- central-difference derivatives, order 1 and 2, ZeroFluxNeumann boundary:
  /root/reference/include/ife/Filters/Hessian3DImageFilter.hxx:19-59
- normalized Gaussian convolution {a*cT}/{a*c} (Knutsson-Westin 0th order):
  /root/reference/include/ife/Filters/NormalizedGaussianConvolutionImageFilter.h:14-45
- 8-feature emphysema pipeline and feature order:
  /root/reference/include/ife/Filters/ImageToEmphysemaFeaturesFilter.hxx:15-55,
  /root/reference/tools/ExtractFeatures.cxx:126-130
- bag-vector column layout (scale-major, then feature, then bin):
  /root/reference/tools/MakeBag.cxx:448-470

All kernels operate on batches: the leading axes are free, the cube axes are
the last three. Dtype discipline mirrors the reference: float32 image
pipeline (storage + stencil stages — `typedef float PixelType`,
ExtractFeatures.cxx:81), float64 for the eigen/trig closed form and all
histogram/edge arithmetic. float32 stencils measured +44% throughput at
full-machine concurrency (the batch path is DRAM-bandwidth-bound).
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np

# Feature order matches /root/reference/tools/ExtractFeatures.cxx:126-130.
FEATURE_NAMES = (
    "gaussian_blur",
    "gradient_magnitude",
    "eig1",
    "eig2",
    "eig3",
    "laplacian_of_gaussian",
    "gaussian_curvature",
    "frobenius_norm",
)
NUM_FEATURES = len(FEATURE_NAMES)

DEFAULT_SCALES = (1.0, 2.0)

# Cache-blocking budget for batched cube processing (cells per chunk); see
# batch_feature_counts. 8192 cells * 8 B * ~30 temporaries ~= 2 MB working
# set per (chunk, scale) — L2/L3-resident on current server cores.
CHUNK_CELLS = 8192


# ---------------------------------------------------------------------------
# Symmetric 3x3 eigenvalues (closed form) + eigenvalue features
# ---------------------------------------------------------------------------

def _diag_order(v0: np.ndarray, v1: np.ndarray, v2: np.ndarray):
    """Order three diagonal entries so |e2| <= |e1| <= |e0|, replicating the
    exact branch structure of Symmetric3x3EigenvalueSolver.h:45-83 (including
    its tie behavior)."""
    a0, a1, a2 = np.abs(v0), np.abs(v1), np.abs(v2)
    c1 = a0 > a1
    c2 = a0 > a2
    c3 = a1 > a2
    c4 = a0 > a2
    e0 = np.where(c1, np.where(c2, v0, v2), np.where(c3, v1, v2))
    e1 = np.where(
        c1,
        np.where(c2, np.where(c3, v1, v2), v0),
        np.where(c3, np.where(c4, v0, v2), v1),
    )
    e2 = np.where(
        c1,
        np.where(c2, np.where(c3, v2, v1), v1),
        np.where(c3, np.where(c4, v2, v0), v0),
    )
    return e0, e1, e2


def eig3x3(A: np.ndarray) -> np.ndarray:
    """Eigenvalues of symmetric 3x3 matrices packed [A11,A12,A13,A22,A23,A33]
    on the last axis; returns (..., 3) ordered |e2| <= |e1| <= |e0|.

    Vectorized port of Symmetric3x3EigenvalueSolver.h:33-132 (trig closed
    form, r clamped to [-1,1], magnitude-ordered output with two swaps).
    """
    A = np.asarray(A, dtype=np.float64)
    A11, A12, A13, A22, A23, A33 = (A[..., i] for i in range(6))

    p_off = A12 * A12 + A13 * A13 + A23 * A23
    diag = p_off == 0
    any_diag = bool(diag.any())

    if any_diag:
        d0, d1, d2 = _diag_order(A11, A22, A33)

    # In-place formulation: identical operations and order to the naive
    # expression tree (bit-exact — asserted against saved outputs when
    # introduced), ~40% fewer full-size temporaries; this stage is the
    # hot spot of the DRAM-bandwidth-bound batch path.
    q = A11 + A22
    q += A33
    q /= 3.0
    t1 = A11 - q
    t2 = A22 - q
    t3 = A33 - q
    p = t1 * t1
    p += t2 * t2
    p += t3 * t3
    p += 2.0 * p_off
    p /= 6.0
    np.sqrt(p, out=p)
    psafe = np.where(p == 0, 1.0, p)
    B11 = t1
    B11 /= psafe
    B12 = A12 / psafe
    B13 = A13 / psafe
    B22 = t2
    B22 /= psafe
    B23 = A23 / psafe
    B33 = t3
    B33 /= psafe
    r = B11 * B22
    r *= B33
    t = B12 * B13
    t *= B23
    t *= 2.0
    r += t
    t = B23 * B23
    t *= B11
    r -= t
    t = B13 * B13
    t *= B22
    r -= t
    t = B12 * B12
    t *= B33
    r -= t
    r /= 2.0

    phi = np.where(
        r <= -1.0,
        np.pi / 3.0,
        np.where(r >= 1.0, 0.0, np.arccos(np.clip(r, -1.0, 1.0)) / 3.0),
    )

    e0 = q + 2.0 * p * np.cos(phi)
    e2 = q + 2.0 * p * np.cos(phi + np.pi * (2.0 / 3.0))
    e1 = 3.0 * q - e0 - e2

    sw = np.abs(e0) < np.abs(e2)
    e0, e2 = np.where(sw, e2, e0), np.where(sw, e0, e2)
    sw = np.abs(e1) < np.abs(e2)
    e1, e2 = np.where(sw, e2, e1), np.where(sw, e1, e2)

    if any_diag:
        out = np.stack(
            [
                np.where(diag, d0, e0),
                np.where(diag, d1, e1),
                np.where(diag, d2, e2),
            ],
            axis=-1,
        )
    else:
        out = np.stack([e0, e1, e2], axis=-1)
    return out


def eigenvalue_features(A: np.ndarray) -> np.ndarray:
    """(..., 6) packed Hessians -> (..., 6) features
    [e1, e2, e3, e1+e2+e3, e1*e2*e3, sqrt(e1^2+e2^2+e3^2)]
    per EigenvalueFeaturesFunctor.h:20-31."""
    ev = eig3x3(A)
    e0, e1, e2 = ev[..., 0], ev[..., 1], ev[..., 2]
    return np.stack(
        [
            e0,
            e1,
            e2,
            e0 + e1 + e2,
            e0 * e1 * e2,
            np.sqrt(e0 * e0 + e1 * e1 + e2 * e2),
        ],
        axis=-1,
    )


# ---------------------------------------------------------------------------
# Separable Gaussian smoothing (zero-outside boundary) and derivatives
# ---------------------------------------------------------------------------

@lru_cache(maxsize=256)
def _gauss_matrix(size: int, sigma: float) -> np.ndarray:
    """(size, size) 1-D convolution matrix of a truncated, normalized
    Gaussian (radius = ceil(4*sigma)); out-of-range contributions are zero,
    matching the normalized-convolution view that everything outside the
    cube has certainty 0."""
    radius = max(1, int(math.ceil(4.0 * sigma)))
    k = np.arange(-radius, radius + 1, dtype=np.float64)
    w = np.exp(-(k * k) / (2.0 * sigma * sigma))
    w /= w.sum()
    G = np.zeros((size, size), dtype=np.float64)
    idx = np.arange(size)
    for off, weight in zip(range(-radius, radius + 1), w):
        j = idx + off
        valid = (j >= 0) & (j < size)
        G[idx[valid], j[valid]] += weight
    return G


def _conv_axis(x: np.ndarray, G: np.ndarray, axis: int) -> np.ndarray:
    out = np.tensordot(x, G, axes=([axis], [1]))
    return np.moveaxis(out, -1, axis)


def gauss3(x: np.ndarray, sigma: float) -> np.ndarray:
    """Separable 3-D Gaussian smoothing over the last three axes, zero
    boundary (outside-cube cells contribute nothing — certainty-0 view).

    Computes in the INPUT dtype: float32 cubes stay float32 throughout,
    matching the reference's float-pixel ITK filters
    (tools/ExtractFeatures.cxx:81 `typedef float PixelType`) and halving
    DRAM traffic in the bandwidth-bound batch path."""
    s = x.shape[-1]
    assert x.shape[-2] == s and x.shape[-3] == s, "expects cube on last 3 axes"
    x = np.asarray(x)
    dt = x.dtype if x.dtype in (np.float32, np.float64) else np.float64
    G = _gauss_matrix(s, float(sigma)).astype(dt, copy=False)
    out = x.astype(dt, copy=False)
    for axis in (-1, -2, -3):
        out = _conv_axis(out, G, axis)
    return out


def _pad_edge(x: np.ndarray, axis: int) -> np.ndarray:
    """ZeroFluxNeumann (edge-replicate) pad of 1 along `axis`."""
    first = np.take(x, [0], axis=axis)
    last = np.take(x, [-1], axis=axis)
    return np.concatenate([first, x, last], axis=axis)


def _axslice(nd: int, axis: int, sl: slice) -> tuple:
    idx = [slice(None)] * nd
    idx[axis] = sl
    return tuple(idx)


def derivative(x: np.ndarray, direction: int, order: int = 1) -> np.ndarray:
    """Central-difference derivative along cube direction 0/1/2 with
    ZeroFluxNeumann boundary, matching itk::DerivativeImageFilter as
    configured in Hessian3DImageFilter.hxx:19-51. Direction 0 is the
    fastest-varying (last numpy) axis of the C-order cube."""
    axis = -(direction + 1)
    x = np.asarray(x)
    if x.dtype not in (np.float32, np.float64):
        x = x.astype(np.float64)
    xp = _pad_edge(x, axis)
    n = x.shape[axis]
    nd = xp.ndim
    lo = xp[_axslice(nd, axis, slice(0, n))]        # x_{i-1} (view)
    hi = xp[_axslice(nd, axis, slice(2, n + 2))]    # x_{i+1} (view)
    if order == 1:
        return (hi - lo) * 0.5
    if order == 2:
        mid = xp[_axslice(nd, axis, slice(1, n + 1))]
        return hi - 2.0 * mid + lo
    raise ValueError(f"unsupported derivative order {order}")


def gradient_magnitude(x: np.ndarray) -> np.ndarray:
    """sqrt(sum_i (d/dx_i)^2), central differences, no pre-smoothing —
    itk::GradientMagnitudeImageFilter as used in
    ImageToEmphysemaFeaturesFilter.hxx:27-28."""
    g0 = derivative(x, 0, 1)
    g1 = derivative(x, 1, 1)
    g2 = derivative(x, 2, 1)
    return np.sqrt(g0 * g0 + g1 * g1 + g2 * g2)


def hessian6(x: np.ndarray) -> np.ndarray:
    """Six unique second derivatives stacked on a NEW last axis in the order
    [Dxx, Dxy, Dxz, Dyy, Dyz, Dzz]; cross terms composed first-order-of-
    first-order, per Hessian3DImageFilter.hxx:19-59."""
    dxx = derivative(x, 0, 2)
    dyy = derivative(x, 1, 2)
    dzz = derivative(x, 2, 2)
    dx = derivative(x, 0, 1)
    dy = derivative(x, 1, 1)
    dxy = derivative(dx, 1, 1)
    dxz = derivative(dx, 2, 1)
    dyz = derivative(dy, 2, 1)
    return np.stack([dxx, dxy, dxz, dyy, dyz, dzz], axis=-1)


def normalized_convolution(img: np.ndarray, cert: np.ndarray, sigma: float) -> np.ndarray:
    """U = {a*cT}/{a*c} with a = Gaussian(sigma), zero-certainty cells
    interpolated from neighbors; 0 where the smoothed certainty is 0
    (nothing within reach). NormalizedGaussianConvolutionImageFilter.hxx:37-63."""
    img = np.asarray(img)
    cert = np.asarray(cert, dtype=img.dtype if img.dtype in (np.float32, np.float64) else np.float64)
    num = gauss3(img * cert, sigma)
    den = gauss3(cert, sigma)
    ok = den > 0
    return np.where(ok, num / np.where(ok, den, 1.0), np.asarray(0.0, dtype=num.dtype))


def feature_columns(
    img: np.ndarray,
    cert: np.ndarray,
    sigma: float,
    rows: np.ndarray,
    cols: np.ndarray,
):
    """Production feature core: yields the 8 per-cell feature columns at
    the flat cells (rows, cols) of (B,s,s,s) cubes, one at a time, in
    FEATURE_NAMES order. The stencil stages (smoothing, gradient,
    Hessian) need the full cube; the eigen stage — the most expensive —
    runs only on the selected cells. Every column is bit-identical to
    gathering emphysema_features(...) (the dense reference) at the same
    cells.

    Columns are yielded rather than stacked so a caller can bin each one
    the moment it exists and drop it: the saved (n_cells, 8) write+read is
    pure memory traffic in a DRAM-bandwidth-bound kernel (measured 368 ->
    460 docs/s single-threaded on the mixed-length distribution).
    """
    B = img.shape[0]

    def sel(a):
        return a.reshape(B, -1)[rows, cols]

    sm = normalized_convolution(img, cert, sigma)
    yield sel(sm)
    # First derivatives are SHARED between the gradient magnitude and the
    # Hessian cross terms (hessian6 recomputes dx/dy that
    # gradient_magnitude already produced — 2 full stencil passes saved),
    # and the Hessian components are gathered BEFORE stacking (hessian6
    # materializes a (B,s,s,s,6) array; stacking the gathered columns
    # writes 6*n_cells instead of 6*B*s^3 doubles). Same expression trees
    # op for op as gradient_magnitude/hessian6/eigenvalue_features.
    dx = derivative(sm, 0, 1)
    dy = derivative(sm, 1, 1)
    dz = derivative(sm, 2, 1)
    gm = np.sqrt(dx * dx + dy * dy + dz * dz)
    yield sel(gm)
    del gm, dz
    sel_H = np.stack(
        [
            sel(derivative(sm, 0, 2)),   # Dxx
            sel(derivative(dx, 1, 1)),   # Dxy
            sel(derivative(dx, 2, 1)),   # Dxz
            sel(derivative(sm, 1, 2)),   # Dyy
            sel(derivative(dy, 2, 1)),   # Dyz
            sel(derivative(sm, 2, 2)),   # Dzz
        ],
        axis=-1,
    )
    # free the full-cube stencil outputs before the eigen stage (peak RSS)
    del sm, dx, dy
    ev = eig3x3(sel_H)
    del sel_H
    e0, e1, e2 = ev[..., 0], ev[..., 1], ev[..., 2]
    yield e0
    yield e1
    yield e2
    yield e0 + e1 + e2
    yield e0 * e1 * e2
    yield np.sqrt(e0 * e0 + e1 * e1 + e2 * e2)


def emphysema_features(img: np.ndarray, cert: np.ndarray, sigma: float) -> np.ndarray:
    """Per-cell 8-feature stack at one scale over cubes (last three axes).

    Returns shape img.shape + (8,), features in FEATURE_NAMES order, each
    zeroed outside the mask (mask = cert != 0), per
    ImageToEmphysemaFeaturesFilter.hxx:15-55.
    """
    cert = np.asarray(cert)
    if cert.dtype not in (np.float32, np.float64):
        cert = cert.astype(np.float64)
    sm = normalized_convolution(img, cert, sigma)
    gm = gradient_magnitude(sm)
    H = hessian6(sm)
    ef = eigenvalue_features(H)  # (..., 6)
    feats = np.concatenate([np.stack([sm, gm], axis=-1), ef], axis=-1)
    mask = (cert != 0.0)[..., None]
    return np.where(mask, feats, 0.0)


# ---------------------------------------------------------------------------
# Histogram / equalized edges
# ---------------------------------------------------------------------------

def histogram_counts(values: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Counts with bins (-inf,e0], (e0,e1], ..., (e_{n-1},+inf) — the
    lower_bound insert of DenseHistogram.h:45-53 is
    np.searchsorted(side='left')."""
    edges = np.asarray(edges, dtype=np.float64)
    bins = np.searchsorted(edges, np.asarray(values, dtype=np.float64), side="left")
    return np.bincount(bins, minlength=len(edges) + 1).astype(np.int64)


def histogram_frequencies(values: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """counts / total (DenseHistogram.h:55-60); all-zero if no values."""
    counts = histogram_counts(values, edges)
    total = counts.sum()
    if total == 0:
        return np.zeros_like(counts, dtype=np.float64)
    return counts / float(total)


def equalized_edges(sorted_values: np.ndarray, n_bins: int) -> np.ndarray:
    """Equi-depth bin edges over a SORTED array, duplicate-aware — an exact
    port of determineEdgesForEqualizedHistogram
    (DetermineEdgesForEqualizedHistogram.h:21-139). Returns n_bins-1 edges.
    """
    vals = np.asarray(sorted_values)
    n = len(vals)
    if n < n_bins:
        raise ValueError(
            "Too many bins. Number of bins must be less or equal to number of samples"
        )
    samples_per_bin = n // n_bins
    surplus = n - samples_per_bin * n_bins
    deficit = 0
    edges = []
    n_edge = 0
    pos = 0
    while n_edge + 1 < n_bins:
        index = samples_per_bin
        if surplus:
            s = surplus // (n_bins - n_edge)
            if s == 0:
                s = 1
            index += s
            surplus -= s
        elif deficit:
            d = deficit // (n_bins - n_edge)
            if d == 0:
                d = 1
            index -= d
            deficit -= d
        pos += index
        # Divergence from the reference (documented): on duplicate-heavy
        # inputs the C++ walks pos past the end and reads out of bounds
        # (DetermineEdgesForEqualizedHistogram.h:85 `edgeValue = *pos` after
        # the deficit push-forward) — undefined behavior there, clamped
        # here. Found by hypothesis (e.g. [-2,-1 x6, 0], 4 bins).
        pos = min(pos, n - 1)
        v = vals[pos]
        lb = int(np.searchsorted(vals[:pos], v, side="left"))
        if lb != pos:
            ub = int(np.searchsorted(vals, v, side="right"))
            if ub == n:
                pos = lb
            else:
                lbdist = pos - lb
                ubdist = ub - pos
                if lbdist < ubdist or (lbdist == ubdist and deficit):
                    pos = lb
                    if lbdist > deficit:
                        surplus = lbdist - deficit
                        deficit = 0
                    else:
                        deficit -= lbdist
                else:
                    pos = ub
                    if ubdist > surplus:
                        deficit = ubdist - surplus
                        surplus = 0
                    else:
                        surplus -= ubdist
        edges.append(vals[pos])
        n_edge += 1
    return np.asarray(edges)


# ---------------------------------------------------------------------------
# Token sequence <-> cube plumbing and the per-doc feature vector
# ---------------------------------------------------------------------------

def cube_side(n_tok: int) -> int:
    """Smallest s with s^3 >= n_tok (float-safe)."""
    s = int(round(n_tok ** (1.0 / 3.0)))
    while s * s * s < n_tok:
        s += 1
    while s > 1 and (s - 1) ** 3 >= n_tok:
        s -= 1
    return max(s, 1)


def pad_to_cube(tokens: np.ndarray):
    """Pad a token sequence to s^3 (pad cells get certainty 0 — the
    reference's mask semantics) and C-order reshape to (s,s,s).

    Returns (img float32 cube, cert float32 cube).
    """
    tokens = np.asarray(tokens)
    n = len(tokens)
    s = cube_side(n)
    img = np.zeros(s * s * s, dtype=np.float32)
    img[:n] = tokens.astype(np.float32)
    cert = np.zeros(s * s * s, dtype=np.float32)
    cert[:n] = 1.0
    return img.reshape(s, s, s), cert.reshape(s, s, s)


def default_edges(n_edges: int = 4) -> np.ndarray:
    """Deterministic default per-(scale,feature) edge spec for token-valued
    inputs (vocab [0, 50257)): geometric-ish spread around 0 for the
    derivative features plus the raw-value range for the smoothed feature.
    Shape (NUM_FEATURES, n_edges). A flagship run normally replaces this
    with equalized_edges output (the two-phase flow of SURVEY.md §3.2-3.3).
    """
    vocab = 50257.0
    smooth_edges = np.linspace(vocab * 0.2, vocab * 0.8, n_edges)
    deriv_edges = np.linspace(-vocab * 0.25, vocab * 0.25, n_edges)
    pos_edges = np.linspace(0.0, vocab * 0.5, n_edges)
    big_edges = np.linspace(-vocab ** 2 * 0.01, vocab ** 2 * 0.01, n_edges)
    per_feature = {
        0: smooth_edges,          # gaussian_blur: raw value range
        1: pos_edges,             # gradient magnitude >= 0
        2: deriv_edges,           # eig1
        3: deriv_edges,           # eig2
        4: deriv_edges,           # eig3
        5: deriv_edges,           # LoG
        6: big_edges,             # gaussian curvature (product scale)
        7: pos_edges,             # frobenius >= 0
    }
    return np.stack([per_feature[i] for i in range(NUM_FEATURES)])


def doc_feature_vector(
    tokens: np.ndarray,
    scales=DEFAULT_SCALES,
    edges: np.ndarray | None = None,
) -> np.ndarray:
    """Per-document feature vector: for each scale and each of the 8
    features, histogram frequencies over mask-foreground cells, concatenated
    scale-major then feature then bin (MakeBag.cxx:459-470 layout).

    `edges`: (n_scales, NUM_FEATURES, n_edges) or (NUM_FEATURES, n_edges)
    (shared across scales). Output length:
    n_scales * NUM_FEATURES * (n_edges + 1).
    """
    if edges is None:
        edges = default_edges()
    edges = np.asarray(edges, dtype=np.float64)
    if edges.ndim == 2:
        edges = np.broadcast_to(edges, (len(scales),) + edges.shape)
    img, cert = pad_to_cube(tokens)
    fg = cert.reshape(-1) != 0
    out = []
    for si, sigma in enumerate(scales):
        feats = emphysema_features(img, cert, sigma)  # (s,s,s,8)
        flat = feats.reshape(-1, NUM_FEATURES)[fg]
        for fi in range(NUM_FEATURES):
            out.append(histogram_frequencies(flat[:, fi], edges[si, fi]))
    return np.concatenate(out)


def batch_feature_counts(
    token_arrays,
    scales=DEFAULT_SCALES,
    edges: np.ndarray | None = None,
):
    """Vectorized multi-document histogram counts.

    Documents are grouped by cube side s; each s-group is processed as
    (B,s,s,s) batches so every numpy op is vectorized across documents
    (padding with certainty-0 cells is a no-op for masked outputs — see
    SURVEY.md §7.1). Each feature column from feature_columns is binned
    the moment it exists.

    Returns (counts, totals): int64 (n_docs, vec_len) counts in the
    doc_feature_vector layout, and int64 (n_docs,) foreground-cell totals
    (the histogram denominators), both in input order.
    """
    if edges is None:
        edges = default_edges()
    edges = np.asarray(edges, dtype=np.float64)
    if edges.ndim == 2:
        edges = np.broadcast_to(edges, (len(scales),) + edges.shape)
    nb = edges.shape[-1] + 1
    vec_len = len(scales) * NUM_FEATURES * nb

    n_docs = len(token_arrays)
    counts = np.zeros((n_docs, vec_len), dtype=np.int64)
    totals = np.zeros(n_docs, dtype=np.int64)

    by_side: dict[int, list[int]] = {}
    for i, toks in enumerate(token_arrays):
        by_side.setdefault(cube_side(len(toks)), []).append(i)

    for s, side_idxs in by_side.items():
        # Cache blocking: the numeric chain materializes ~30 float64
        # temporaries of (B, s^3); keeping B*s^3 near CHUNK_CELLS keeps the
        # working set L2/L3-resident. Measured on 32 cores this is ~2.5x
        # total throughput vs one giant batch (memory-bandwidth-bound
        # otherwise) — the difference between 7.7k and 19k docs/s.
        chunk_b = max(1, CHUNK_CELLS // (s * s * s))
        for c0 in range(0, len(side_idxs), chunk_b):
            idxs = np.asarray(side_idxs[c0 : c0 + chunk_b])
            B = len(idxs)
            img = np.zeros((B, s * s * s), dtype=np.float32)
            cert = np.zeros((B, s * s * s), dtype=np.float32)
            for b, i in enumerate(idxs):
                toks = np.asarray(token_arrays[i])
                img[b, : len(toks)] = toks.astype(np.float32)
                cert[b, : len(toks)] = 1.0
            rows, cols = np.nonzero(cert != 0.0)
            totals[idxs] = np.bincount(rows, minlength=B)
            img = img.reshape(B, s, s, s)
            cert = cert.reshape(B, s, s, s)
            for si, sigma in enumerate(scales):
                cols_iter = feature_columns(img, cert, sigma, rows, cols)
                for fi, vals in enumerate(cols_iter):
                    # Vectorized across docs: one searchsorted + bincount
                    # per (scale, feature) for the whole chunk instead of a
                    # Python loop per doc (measured ~30% of kernel time).
                    bins = np.searchsorted(edges[si, fi], vals, side="left")
                    off = (si * NUM_FEATURES + fi) * nb
                    counts[idxs, off : off + nb] = np.bincount(
                        rows * nb + bins, minlength=B * nb
                    ).reshape(B, nb)
    return counts, totals


def batch_feature_vectors(
    token_arrays,
    scales=DEFAULT_SCALES,
    edges: np.ndarray | None = None,
) -> np.ndarray:
    """Vectorized multi-document feature vectors: batch_feature_counts
    divided by each doc's foreground total (all-zero for an empty doc).
    Returns (n_docs, vec_len) float64 in input order, equal to
    doc_feature_vector per doc."""
    counts, totals = batch_feature_counts(token_arrays, scales, edges)
    safe = np.where(totals == 0, 1, totals).astype(np.float64)
    return counts / safe[:, None]


def vec_digest(vec) -> str:
    """Canonical scalar digest of a float vector: md5 over ','-joined
    '%.9e' renderings. ONE definition shared by the Spark-side digest UDF
    (plans/queries.py) and the VALUES-literal oracle generators, so the
    driver's value-hash compares the underlying float64 bits through a
    single formatter — a Catalyst format_string would go through Java's
    HALF_UP %e rounding, which differs from Python's round-half-even on
    exact decimal ties (e.g. odd/2048 frequencies)."""
    import hashlib

    return hashlib.md5(
        ",".join("%.9e" % float(x) for x in vec).encode()
    ).hexdigest()
