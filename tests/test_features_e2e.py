"""End-to-end: Spark feature extraction vs the pure-numpy local oracle.

Asserts (FIXTURES.md §4): numpy.allclose on feature vectors per doc_id,
exact token-array passthrough, invariance to input partition count.
"""

import hashlib

import numpy as np
import pytest

from image_feature_extraction_spark import synth
from image_feature_extraction_spark.functions import kernels as K
from image_feature_extraction_spark.operators.features import (
    compute_equalized_edges,
    extract_features,
    per_source_histograms,
    sample_feature_values,
)

N_DOCS = 64
SCALES = (1.0, 2.0)


@pytest.fixture(scope="module")
def token_df(spark):
    return synth.token_table(spark, N_DOCS, partitions=4).cache()


def _oracle_vectors(n_docs, scales, edges=None):
    pdf = synth.token_table_pandas(n_docs)
    vecs = {
        row.doc_id: K.doc_feature_vector(np.asarray(row.tokens), scales, edges)
        for row in pdf.itertuples()
    }
    return pdf, vecs


def test_synth_table_deterministic(spark, token_df):
    # Spark-generated table must equal the pandas generator row-for-row
    got = {r["doc_id"]: r for r in token_df.collect()}
    want = synth.token_table_pandas(N_DOCS)
    assert len(got) == N_DOCS
    for row in want.itertuples():
        g = got[row.doc_id]
        assert g["n_tok"] == row.n_tok
        assert g["source"] == row.source
        assert g["ts"] == row.ts
        np.testing.assert_array_equal(np.array(g["tokens"]), row.tokens)


def test_features_match_oracle_and_tokens_pass_through(spark, token_df):
    out = extract_features(token_df, scales=SCALES).collect()
    _, oracle = _oracle_vectors(N_DOCS, SCALES)
    pdf = synth.token_table_pandas(N_DOCS).set_index("doc_id")
    assert len(out) == N_DOCS
    for row in out:
        want_vec = oracle[row["doc_id"]]
        np.testing.assert_allclose(
            np.array(row["features"]), want_vec, rtol=1e-9, atol=1e-12
        )
        np.testing.assert_array_equal(
            np.array(row["tokens"]), pdf.loc[row["doc_id"], "tokens"]
        )


def test_features_invariant_to_partitioning(spark):
    a = extract_features(synth.token_table(spark, 32, partitions=1), scales=(1.0,))
    b = extract_features(synth.token_table(spark, 32, partitions=7), scales=(1.0,))
    va = {r["doc_id"]: r["features"] for r in a.collect()}
    vb = {r["doc_id"]: r["features"] for r in b.collect()}
    assert va.keys() == vb.keys()
    for k in va:
        np.testing.assert_array_equal(np.array(va[k]), np.array(vb[k]))


def test_two_phase_equalized_edges_flow(spark, token_df):
    # Phase 1: sampled corpus stats -> exact equi-depth edges
    long_df = sample_feature_values(
        token_df, scales=SCALES, doc_fraction=1.0, cells_per_doc=32, seed=7
    )
    edges = compute_equalized_edges(long_df, n_scales=len(SCALES), n_bins=4)
    assert edges.shape == (2, K.NUM_FEATURES, 3)
    # edges must be non-decreasing per (scale, feature)
    assert (np.diff(edges, axis=-1) >= 0).all()
    # Phase 2: feature vectors with those edges match the oracle
    out = extract_features(token_df, scales=SCALES, edges=edges).limit(5).collect()
    for row in out:
        want = K.doc_feature_vector(
            np.array(row["tokens"]), SCALES, edges
        )
        np.testing.assert_allclose(np.array(row["features"]), want, rtol=1e-9)


def test_sampled_values_match_dense_kernel(spark, token_df):
    # every sampled value equals the dense per-doc kernel at the same
    # md5-seeded chosen cell, bit for bit, at both scales
    seed, cells = 42, 64
    got = sorted(
        (r["scale_idx"], r["feature_idx"], r["salt"], r["value"])
        for r in sample_feature_values(
            token_df, scales=SCALES, doc_fraction=1.0, cells_per_doc=cells, seed=seed
        ).collect()
    )
    want = []
    for row in synth.token_table_pandas(N_DOCS).itertuples():
        img, cert = K.pad_to_cube(np.asarray(row.tokens))
        fg = np.flatnonzero(cert.reshape(-1))
        dseed = int.from_bytes(
            hashlib.md5(f"cells:{seed}:{row.doc_id}".encode()).digest()[:8], "little"
        )
        rng = np.random.Generator(np.random.PCG64(dseed))
        chosen = rng.choice(fg, size=min(cells, len(fg)), replace=False)
        salts = np.int64(dseed & ((1 << 62) - 1)) ^ chosen
        for si, sigma in enumerate(SCALES):
            flat = K.emphysema_features(img, cert, sigma).reshape(-1, K.NUM_FEATURES)
            for fi in range(K.NUM_FEATURES):
                want += [
                    (si, fi, int(salt), float(v))
                    for salt, v in zip(salts, flat[chosen, fi])
                ]
    assert got == sorted(want)


def test_per_source_histograms_match_oracle(spark, token_df):
    got = {
        (r["source"], r["scale_idx"], r["feature_idx"]): np.array(r["counts"])
        for r in per_source_histograms(token_df, scales=SCALES).collect()
    }
    # local oracle
    edges = K.default_edges()
    pdf = synth.token_table_pandas(N_DOCS)
    want: dict = {}
    for row in pdf.itertuples():
        img, cert = K.pad_to_cube(np.asarray(row.tokens))
        fg = cert.reshape(-1) != 0
        for si, sigma in enumerate(SCALES):
            feats = K.emphysema_features(img, cert, sigma)
            flat = feats.reshape(-1, K.NUM_FEATURES)[fg]
            for fi in range(K.NUM_FEATURES):
                key = (row.source, si, fi)
                c = K.histogram_counts(flat[:, fi], edges[fi])
                want[key] = want.get(key, 0) + c
    assert got.keys() == want.keys()
    for k in got:
        np.testing.assert_array_equal(got[k], want[k])
