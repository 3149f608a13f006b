"""Golden-value and property tests for the numpy kernels.

Fixtures ported verbatim from the reference unit tests:
- /root/reference/test/Symmetric3x3EigenvalueSolverTest.cxx:48-90
- /root/reference/test/DenseHistogramTest.cxx:10-55
- /root/reference/test/DetermineEdgesForEqualizedHistogramTest.cxx:30-120
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from image_feature_extraction_spark.functions import kernels as K


# ---------------------------------------------------------------------------
# Symmetric 3x3 eigenvalues — golden fixtures
# ---------------------------------------------------------------------------

EIG_CASES = [
    # (name, [A11,A12,A13,A22,A23,A33], expected [e1,e2,e3], atol)
    ("Identity", [1, 0, 0, 1, 0, 1], [1, 1, 1], 1e-12),
    ("DiagonalPos", [1, 0, 0, 2, 0, 3], [3, 2, 1], 1e-12),
    ("DiagonalNeg", [-1, 0, 0, -2, 0, -3], [-3, -2, -1], 1e-12),
    ("DiagonalPosNeg", [1, 0, 0, -2, 0, 3], [3, -2, 1], 1e-12),
    ("Ones", [1, 1, 1, 1, 1, 1], [3, 0, 0], 1e-14),
    (
        "RandomsSmallNums",
        [0.27, 0.92, 0.58, 0.24, 0.75, 0.04],
        [1.70680634, -0.7205504, -0.43625594],
        1e-7,
    ),
    (
        "RandomsBigNums",
        [599, 860, -835, -941, 817, -207],
        [-2005.21004566, 1183.41690727, 272.79313839],
        1e-7,
    ),
]


@pytest.mark.parametrize("name,mat,expected,atol", EIG_CASES)
def test_eig3x3_golden(name, mat, expected, atol):
    got = K.eig3x3(np.array([mat], dtype=np.float64))[0]
    np.testing.assert_allclose(got, expected, atol=atol, rtol=1e-7)


def test_eig3x3_batch_matches_scalar():
    mats = np.array([m for _, m, _, _ in EIG_CASES], dtype=np.float64)
    batch = K.eig3x3(mats)
    for i, (_, m, expected, atol) in enumerate(EIG_CASES):
        np.testing.assert_allclose(batch[i], expected, atol=atol, rtol=1e-7)


def test_eig3x3_magnitude_ordering_random():
    rng = np.random.default_rng(42)
    A = rng.normal(size=(500, 6))
    ev = K.eig3x3(A)
    mags = np.abs(ev)
    assert (mags[:, 0] >= mags[:, 1] - 1e-12).all()
    assert (mags[:, 1] >= mags[:, 2] - 1e-12).all()
    # eigenvalue correctness vs numpy.linalg on the full matrices
    full = np.empty((500, 3, 3))
    full[:, 0, 0] = A[:, 0]
    full[:, 0, 1] = full[:, 1, 0] = A[:, 1]
    full[:, 0, 2] = full[:, 2, 0] = A[:, 2]
    full[:, 1, 1] = A[:, 3]
    full[:, 1, 2] = full[:, 2, 1] = A[:, 4]
    full[:, 2, 2] = A[:, 5]
    want = np.linalg.eigvalsh(full)
    got_sorted = np.sort(ev, axis=1)
    np.testing.assert_allclose(got_sorted, want, atol=1e-8, rtol=1e-8)


def test_eigenvalue_features():
    A = np.array([m for _, m, _, _ in EIG_CASES], dtype=np.float64)
    ev = K.eig3x3(A)
    f = K.eigenvalue_features(A)
    np.testing.assert_allclose(f[:, :3], ev)
    np.testing.assert_allclose(f[:, 3], ev.sum(axis=1))
    np.testing.assert_allclose(f[:, 4], ev.prod(axis=1))
    np.testing.assert_allclose(f[:, 5], np.sqrt((ev**2).sum(axis=1)))


# ---------------------------------------------------------------------------
# Dense histogram — golden fixture
# ---------------------------------------------------------------------------

HIST_EDGES = [1, 2.5, 3.0, 4.7, 6.2, 8.3]
HIST_VALUES = [-1, 0, 0.5, 1, 1.5, 2.1, 2.6, 2.9, 3.2, 3.5, 4.2, 4.6, 5, 6, 7, 8, 9, 10]


def test_histogram_counts_golden():
    counts = K.histogram_counts(np.array(HIST_VALUES), np.array(HIST_EDGES))
    np.testing.assert_array_equal(counts, [4, 2, 2, 4, 2, 2, 2])


def test_histogram_frequencies_golden():
    freq = K.histogram_frequencies(np.array(HIST_VALUES), np.array(HIST_EDGES))
    np.testing.assert_allclose(freq, np.array([4, 2, 2, 4, 2, 2, 2]) / 18.0)


def test_histogram_left_edge_inclusive():
    # value == edge goes into the bin ENDING at that edge: (e_{i-1}, e_i]
    counts = K.histogram_counts(np.array([1.0]), np.array(HIST_EDGES))
    assert counts[0] == 1
    counts = K.histogram_counts(np.array([2.5]), np.array(HIST_EDGES))
    assert counts[1] == 1


def test_histogram_empty():
    np.testing.assert_array_equal(
        K.histogram_frequencies(np.array([]), np.array(HIST_EDGES)), np.zeros(7)
    )


# ---------------------------------------------------------------------------
# Equalized (equi-depth) edges — golden + property
# ---------------------------------------------------------------------------

def test_edges_unique_equalizable():
    np.testing.assert_array_equal(
        K.equalized_edges(np.arange(1, 10), 3), [4, 7]
    )


def test_edges_all_values_equal():
    edges = K.equalized_edges(np.ones(8), 2)
    assert edges[0] == 1


def test_edges_uneven_distribution():
    vals = np.array([1, 1, 1, 1, 1, 2, 2, 3, 3, 3])
    np.testing.assert_array_equal(K.equalized_edges(vals, 3), [2, 3])


def test_edges_too_many_bins():
    with pytest.raises(ValueError):
        K.equalized_edges(np.arange(1, 10), 10)


def test_edges_increasing_property():
    rng = np.random.default_rng(7)
    vals = np.sort(rng.uniform(-10, 10, 1000))
    for n_bins in (2, 3, 7, 10, 33):
        edges = K.equalized_edges(vals, n_bins)
        assert len(edges) == n_bins - 1
        assert (np.diff(edges) > 0).all()


def test_edges_equal_bin_occupancy_unique_values():
    # With all-unique values and n divisible by nBins, every bin holds
    # exactly n/nBins samples (reference property test BinsAreEqualSize,
    # DetermineEdgesForEqualizedHistogramTest.cxx:84-120 — which counts
    # bins LEFT-closed [e_{j-1}, e_j), a sample equal to an edge opens the
    # next bin).
    rng = np.random.default_rng(11)
    vals = np.sort(rng.permutation(990).astype(np.float64))
    for n_bins in (2, 3, 5, 9, 11):
        edges = K.equalized_edges(vals, n_bins)
        bins = np.searchsorted(edges, vals, side="right")
        counts = np.bincount(bins, minlength=n_bins)
        assert (counts == len(vals) // n_bins).all()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=4, max_size=200),
    st.integers(2, 4),
)
def test_edges_hypothesis_increasing(values, n_bins):
    vals = np.sort(np.asarray(values, dtype=np.float64))
    if len(vals) < n_bins:
        return
    edges = K.equalized_edges(vals, n_bins)
    assert len(edges) == n_bins - 1
    assert (np.diff(edges) >= 0).all()


# ---------------------------------------------------------------------------
# Derivatives / smoothing / features
# ---------------------------------------------------------------------------

def test_derivative_linear_ramp():
    # d/dx of a linear ramp is 1 in the interior, 0.5 at the replicate edges
    s = 6
    x = np.tile(np.arange(s, dtype=np.float64), (s, s, 1))
    d = K.derivative(x, 0, 1)
    assert np.allclose(d[..., 1:-1], 1.0)
    assert np.allclose(d[..., 0], 0.5)
    assert np.allclose(d[..., -1], 0.5)
    # second derivative of a ramp is 0 in the interior
    d2 = K.derivative(x, 0, 2)
    assert np.allclose(d2[..., 1:-1], 0.0)


def test_derivative_axis_mapping():
    # direction 0 must be the fastest-varying axis of the C-order flat buffer
    s = 4
    flat = np.arange(s**3, dtype=np.float64)
    cube = flat.reshape(s, s, s)
    d0 = K.derivative(cube, 0, 1)  # consecutive flat cells differ by 1
    assert np.allclose(d0[1:-1, 1:-1, 1:-1], 1.0)
    d2 = K.derivative(cube, 2, 1)  # slowest axis: stride s^2
    assert np.allclose(d2[1:-1, 1:-1, 1:-1], float(s * s))


def test_gauss3_constant_preserved_interior():
    # a constant field smoothed with a normalized kernel stays constant away
    # from the zero-padded boundary
    s = 11
    x = np.full((s, s, s), 5.0)
    sm = K.gauss3(x, 1.0)
    assert np.allclose(sm[5, 5, 5], 5.0, atol=1e-9)


def test_normalized_convolution_interpolates_constant():
    # constant signal with holes (cert 0) is reconstructed exactly
    s = 9
    img = np.full((s, s, s), 3.0)
    cert = np.ones((s, s, s))
    cert[4, 4, 4] = 0
    img_holed = img * cert
    sm = K.normalized_convolution(img_holed, cert, 1.5)
    assert np.allclose(sm, 3.0, atol=1e-9)


def test_hessian_quadratic():
    # f = x^2 → Dxx = 2 in the interior, all other components 0
    s = 7
    ax = np.arange(s, dtype=np.float64)
    x = np.tile(ax**2, (s, s, 1))
    H = K.hessian6(x)
    interior = (slice(2, -2),) * 3
    np.testing.assert_allclose(H[interior][..., 0], 2.0, atol=1e-12)
    for comp in range(1, 6):
        np.testing.assert_allclose(H[interior][..., comp], 0.0, atol=1e-12)


def test_emphysema_features_masked_zero():
    rng = np.random.default_rng(3)
    img = rng.uniform(0, 100, (6, 6, 6))
    cert = np.ones((6, 6, 6))
    cert.reshape(-1)[100:] = 0  # pad region
    feats = K.emphysema_features(img * cert, cert, 1.0)
    flat = feats.reshape(-1, 8)
    assert np.all(flat[100:] == 0.0)
    assert np.any(flat[:100] != 0.0)


def test_cube_side():
    assert K.cube_side(1) == 1
    assert K.cube_side(8) == 2
    assert K.cube_side(9) == 3
    assert K.cube_side(27) == 3
    assert K.cube_side(28) == 4
    assert K.cube_side(1024) == 11
    assert K.cube_side(8192) == 21


def test_batch_matches_single_doc():
    # the production core (batched foreground cells, each feature column
    # binned as it is produced) must equal the dense per-doc reference bit
    # for bit: six short docs, then 60 docs over many cube sides with
    # several docs per chunk
    rng = np.random.default_rng(5)
    six = [
        rng.integers(0, 50257, n).astype(np.int32)
        for n in (16, 30, 64, 100, 64, 16)
    ]
    rng = np.random.default_rng(123)
    sixty = [rng.integers(0, 50257, int(L)) for L in rng.integers(16, 2048, 60)]
    for docs in (six, sixty):
        batch = K.batch_feature_vectors(docs, scales=(1.0, 2.0))
        for i, toks in enumerate(docs):
            single = K.doc_feature_vector(toks, scales=(1.0, 2.0))
            np.testing.assert_array_equal(batch[i], single)


def test_feature_vector_deterministic():
    toks = np.arange(100, dtype=np.int32) * 37 % 50257
    v1 = K.doc_feature_vector(toks)
    v2 = K.doc_feature_vector(toks.copy())
    np.testing.assert_array_equal(v1, v2)
    assert len(v1) == len(K.DEFAULT_SCALES) * K.NUM_FEATURES * 5


def test_fused_binning_matches_unfused_reference():
    """batch_feature_vectors' bin-as-you-go loop == histogramming the
    (n_fg, 8) matrix stacked from feature_columns one doc at a time, bit
    for bit."""
    rng = np.random.default_rng(123)
    docs = [rng.integers(0, 50257, int(L)) for L in rng.integers(16, 2048, 60)]
    edges = K.default_edges()
    n_edges = edges.shape[-1]
    scales = K.DEFAULT_SCALES
    got = K.batch_feature_vectors(docs, scales=scales)
    nb = n_edges + 1
    want = np.zeros_like(got)
    for i, toks in enumerate(docs):
        img, cert = K.pad_to_cube(np.asarray(toks))
        img = img[None].astype(np.float32)
        cert = cert[None].astype(np.float32)
        rows, cols = np.nonzero(cert.reshape(1, -1) != 0.0)
        total = max(len(rows), 1)
        for si, sigma in enumerate(scales):
            fg = np.stack(
                list(K.feature_columns(img, cert, sigma, rows, cols)), axis=1
            )
            for fi in range(K.NUM_FEATURES):
                bins = np.searchsorted(edges[fi], fg[:, fi], side="left")
                counts = np.bincount(bins, minlength=nb)[:nb]
                off = (si * K.NUM_FEATURES + fi) * nb
                want[i, off:off + nb] = counts / total
    np.testing.assert_array_equal(got, want)
