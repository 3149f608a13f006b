"""Tests for the training-data-pipeline operators: dedup (minhash/simhash/
jaccard/embedding), similarity search, text analysis, and the extra window
operators (nearest-event distance, moving aggregates)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from image_feature_extraction_spark.operators import dedup as D
from image_feature_extraction_spark.operators import similarity as S
from image_feature_extraction_spark.operators import text as T
from image_feature_extraction_spark.operators.windows import (
    moving_aggregate,
    nearest_event_distance,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (4, "completely different words here entirely unrelated text"),
        (5, "der hund und die katze ist ein tier"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_exact_dup_same_signature(spark, docs):
    sig = D.minhash_signatures(docs).toPandas().set_index("doc_id")
    assert (sig.loc[1] == sig.loc[3]).all()
    # near-dup shares most minhashes; unrelated shares none
    shared_near = (sig.loc[1] == sig.loc[2]).sum()
    shared_far = (sig.loc[1] == sig.loc[4]).sum()
    assert shared_near > shared_far


def test_minhash_lsh_pairs_finds_dups(spark, docs):
    pairs = D.minhash_lsh_pairs(docs).toPandas()
    keys = set(map(tuple, pairs[["doc_a", "doc_b"]].to_numpy()))
    assert (1, 3) in keys  # exact dup always collides in every band
    row13 = pairs[(pairs.doc_a == 1) & (pairs.doc_b == 3)]
    assert row13["n_bands"].iloc[0] == 8


def test_simhash_properties(spark, docs):
    sh = D.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert sh.loc[1] == sh.loc[3]
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")  # noqa: E731
    assert ham(sh.loc[1], sh.loc[2]) <= ham(sh.loc[1], sh.loc[4])


def test_ngram_jaccard_hand_value(spark, docs):
    out = D.ngram_jaccard_pairs(docs, n=1, threshold=0.0).toPandas()
    row = out[(out.doc_a == 1) & (out.doc_b == 2)].iloc[0]
    # doc1 words {the,quick,brown,fox,jumps,over,lazy,dog} (8 distinct)
    # doc2 swaps dog->cat: common 7, union 9
    assert row["common"] == 7
    assert abs(row["jaccard"] - 7 / 9) < 1e-12
    exact = out[(out.doc_a == 1) & (out.doc_b == 3)].iloc[0]
    assert exact["jaccard"] == 1.0


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~same direction
        (3, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = D.embedding_neardup_pairs(df, threshold=0.9).toPandas()
    keys = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert keys == {(1, 2)}


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.cosine_topk(df, q, k=4).toPandas()
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf
        want = np.argsort(-s, kind="stable")[:4]
        g = got[got.query_id == qid].sort_values("rank")["neighbor_id"].to_numpy()
        np.testing.assert_array_equal(g, want)


def test_lsh_same_vector_same_bucket_and_subset_of_brute(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(5, 16)).astype(np.float32)
    # clusters: 8 tight copies of each base vector
    vecs, ids = [], []
    k = 0
    for b in base:
        for _ in range(8):
            vecs.append((b + rng.normal(scale=0.01, size=16).astype(np.float32)))
            ids.append(k)
            k += 1
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    b = S._table_buckets(df, 1, 6, 16, "embedding").toPandas()
    # a vector joined with itself lands in its own bucket (determinism)
    b2 = S._table_buckets(df, 1, 6, 16, "embedding").toPandas()
    pd.testing.assert_frame_equal(
        b.sort_values("vec_id").reset_index(drop=True)[["vec_id", "tbl", "bkt"]],
        b2.sort_values("vec_id").reset_index(drop=True)[["vec_id", "tbl", "bkt"]],
    )
    # most same-cluster members share a bucket (tight clusters, 6 planes)
    b = b.set_index("vec_id")["bkt"]
    same = sum(
        b.loc[c * 8] == b.loc[c * 8 + j] for c in range(5) for j in range(1, 8)
    )
    assert same >= 20  # >half of 35 comparisons


def test_token_stats_hand(spark):
    df = spark.createDataFrame(
        [(1, "  Hello world 42 foo  ")], "doc_id long, text string"
    )
    out = T.token_stats(df).toPandas().iloc[0]
    assert out["n_words"] == 4
    assert out["n_distinct_words"] == 4
    assert out["n_alpha_words"] == 3  # "42" excluded
    assert abs(out["mean_word_len"] - (5 + 5 + 2 + 3) / 4) < 1e-12


def test_quality_score_bounds(spark, docs):
    out = T.quality_score(docs).toPandas()
    assert (out["quality_score"] >= 0).all()
    assert (out["quality_score"] <= 1000).all()
    assert (out["stopword_ratio"] <= 1.0).all()


def test_langid_markers(spark, docs):
    out = T.langid(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "predicted_lang"] == "en"  # 'the' x2
    assert out.loc[5, "predicted_lang"] == "de"  # der/und/die/ist/ein
    assert out.loc[4, "predicted_lang"] == "und"  # no markers


def test_fingerprint_dup_invariance(spark, docs):
    fp = T.fingerprint(docs).toPandas().set_index("doc_id")
    assert (fp.loc[1] == fp.loc[3]).all()
    assert fp.loc[1, "n_shingles"] == 7  # 9 words -> 7 trigrams, all distinct
    assert (fp.loc[1] != fp.loc[4]).any()


def test_nearest_event_distance_hand(spark):
    rows = [
        ("u", 0.0, "x"), ("u", 10.0, "err"), ("u", 13.0, "x"),
        ("u", 30.0, "err"), ("u", 100.0, "x"), ("v", 5.0, "x"),
    ]
    df = spark.createDataFrame(rows, "k string, t double, typ string")
    out = (
        nearest_event_distance(df, by="k", ts="t", marker=F.col("typ") == "err")
        .toPandas()
        .sort_values(["k", "t"])
    )
    u = out[out.k == "u"]["dist_to_marker"].tolist()
    assert u == [10.0, 0.0, 3.0, 0.0, 70.0]
    assert out[out.k == "v"]["dist_to_marker"].isna().all()


def test_moving_aggregate_hand(spark):
    rows = [("u", 0.0, 10.0), ("u", 1800.0, 20.0), ("u", 4000.0, 30.0)]
    df = spark.createDataFrame(rows, "k string, t double, v double")
    out = (
        moving_aggregate(df, by="k", ts="t", value="v", width=3600.0)
        .toPandas()
        .sort_values("t")
    )
    assert out["mov_n"].tolist() == [1, 2, 2]  # t=4000 frame = [400, 4000] (RANGE inclusive)
    assert [float(x) for x in out["mov_mean"]] == [10.0, 15.0, 25.0]


def test_lsh_recall_vs_bruteforce_on_driver_embeddings(spark):
    """ANN quality floor: hyperplane-LSH top-5 neighbor sets overlap the
    exact top-5 meaningfully, and every LSH result's cosine is exact (the
    approximation is only in candidate pruning, never in scoring)."""
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(e, q, k=5).toPandas()
    approx = S.lsh_topk(e, q, k=5, n_planes=8, dim=64).toPandas()
    # scoring exactness: any (query, neighbor) pair present in both must
    # carry the identical cosine
    m = exact.merge(approx, on=["query_id", "neighbor_id"], suffixes=("_e", "_a"))
    assert (m["cosine_e"] == m["cosine_a"]).all()
    # candidate-pruning recall floor: with 8 planes on 64-D data a strict
    # bucket match is selective; require non-trivial overlap overall
    hits = len(m)
    total = len(exact)
    assert hits / total > 0.1, f"recall {hits}/{total}"


# ---------------------------------------------------------------------------
# Round 2: bucketed embedding near-dup, LSH bucketing, capped minhash, mode_label
# ---------------------------------------------------------------------------

def test_embedding_neardup_bucketed_subset_and_autofallback(spark):
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = D.embedding_neardup_pairs(e, threshold=0.48).toPandas()
    bucketed = D.embedding_neardup_pairs_bucketed(
        e, threshold=0.48, n_planes=3, n_tables=8
    ).toPandas()
    key = lambda df: set(zip(df["id_a"], df["id_b"]))  # noqa: E731
    # bucketed is a subset of exact (it can only miss, never invent)...
    assert key(bucketed) <= key(exact)
    # ...and at these parameters it finds everything at this scale
    assert key(bucketed) == key(exact)
    m = exact.merge(bucketed, on=["id_a", "id_b"], suffixes=("_e", "_b"))
    assert (m["cosine_e"] == m["cosine_b"]).all()
    # the broadcast entry point auto-falls-back instead of raising
    auto = D.embedding_neardup_pairs(e, threshold=0.48, max_broadcast_rows=10)
    assert key(auto.toPandas()) == key(bucketed)


def test_table_buckets_sum_left_to_right_on_cancelling_doubles(spark):
    """Bucket bits come from a left-to-right sum over dim, the order of
    the DuckDB oracle's list_dot_product: on array<double> inputs whose
    products cancel (1e16 + small - 1e16) any other summation order can
    flip a sign. Reference: a pure-Python sequential sum."""
    n_tables, n_planes, dim = 2, 4, 8
    coeffs = [S.hyperplane_coeffs(n_planes, dim, t) for t in range(n_tables)]
    c0 = coeffs[0][0]
    vecs = []
    for small in (1.0, -1.0, 3.0, -3.0, 0.5):
        for i, j, k in ((0, 1, 2), (1, 0, 2), (0, 2, 1), (2, 1, 0)):
            v = [0.0] * dim
            # products with plane 0 read 1e16, small, -1e16 at i, j, k
            v[i], v[j], v[k] = 1e16 * c0[i], small * c0[j], -1e16 * c0[k]
            vecs.append(v)
    rng = np.random.default_rng(3)
    vecs += rng.normal(size=(20, dim)).tolist()
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    # one vector per Arrow batch: a matmul over a 1-row batch may take a
    # BLAS kernel that sums in another order
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        got = S._table_buckets(df, n_tables, n_planes, dim, "embedding").toPandas()
    finally:
        spark.conf.set(key, old)

    def ref_bucket(v, planes):
        bkt = 0
        for p, row in enumerate(planes):
            acc = 0.0
            for x, c in zip(v, row):
                acc += x * c
            bkt += (1 << p) if acc > 0 else 0
        return bkt

    want = {
        (i, t): ref_bucket(v, coeffs[t])
        for i, v in enumerate(vecs)
        for t in range(n_tables)
    }
    assert len(got) == len(want)
    assert {(r.vec_id, r.tbl): r.bkt for r in got.itertuples()} == want


def test_vector_path_wrong_dim_raises(spark):
    """A vector whose length is not `dim` fails with a ValueError naming
    both lengths; a wrong dim must never hash every row to one bucket."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    msg = r"ValueError: vector has length 4, expected dim=3"
    with pytest.raises(Exception, match=msg):
        S._table_buckets(df, 1, 4, 3, "embedding").collect()
    with pytest.raises(Exception, match=msg):
        S.lsh_topk(df, q, k=2, n_planes=2, n_tables=2, dim=3).collect()


def test_minhash_capped_drops_hot_shingles(spark):
    rows = [("d%d" % i, "common words everywhere plus unique%d token%d tail%d" % (i, i, i))
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # 'common words everywhere' appears in all 6 docs -> df=6 > cap=3
    uncapped = D.minhash_signatures(df, num_hashes=4).toPandas()
    capped = D.minhash_signatures(df, num_hashes=4, max_doc_freq=3).toPandas()
    assert len(uncapped) == len(capped) == 6
    # the shared shingle dominated at least one doc's uncapped signature
    merged = uncapped.merge(capped, on="doc_id", suffixes=("_u", "_c"))
    assert any(
        (merged[f"h{j}_u"] != merged[f"h{j}_c"]).any() for j in range(4)
    )
    # a doc whose every shingle is hot loses its signature
    dup = spark.createDataFrame(
        [("e%d" % i, "same same same same same") for i in range(5)],
        "doc_id string, text string",
    )
    assert D.minhash_signatures(dup, num_hashes=4, max_doc_freq=3).count() == 0


def test_mode_label_options(spark):
    from image_feature_extraction_spark.operators.labels import mode_label

    rows = [
        # g1: 3 click, 2 view, 2 purchase (+2 error ignored) -> purchase
        # share 2/7 >= 0.2 -> override wins over majority 'click'
        *[("g1", "click")] * 3, *[("g1", "view")] * 2,
        *[("g1", "purchase")] * 2, *[("g1", "error")] * 2,
        # g2: 3 view, 1 purchase -> share 0.25 >= 0.2 -> purchase
        *[("g2", "view")] * 3, ("g2", "purchase"),
        # g3: 4 click, 0 purchase -> majority click
        *[("g3", "click")] * 4,
        # g4: tie click/view -> label asc -> click (no purchase)
        *[("g4", "click")] * 2, *[("g4", "view")] * 2,
        # g5: only ignored rows -> no output
        *[("g5", "error")] * 3,
    ]
    df = spark.createDataFrame(rows, "g string, label string")
    out = mode_label(
        df, by="g", label_col="label",
        ignore=("error",), dominant="purchase", dominant_share=0.2,
    ).toPandas().set_index("g")
    assert list(sorted(out.index)) == ["g1", "g2", "g3", "g4"]
    assert out.loc["g1", "mode_label"] == "purchase"
    assert out.loc["g1", "mode_count"] == 2
    assert out.loc["g1", "n_considered"] == 7
    assert out.loc["g2", "mode_label"] == "purchase"
    assert out.loc["g3", "mode_label"] == "click"
    assert out.loc["g3", "mode_count"] == 4
    assert out.loc["g4", "mode_label"] == "click"
    # without options: plain majority with tie-break
    plain = mode_label(df, by="g", label_col="label").toPandas().set_index("g")
    assert plain.loc["g1", "mode_label"] == "click"
    assert plain.loc["g5", "mode_label"] == "error"


def test_exact_dedup_survivors(spark, docs):
    out = D.exact_dedup(docs).toPandas()
    pdf = docs.toPandas()
    # one survivor per distinct text, and it's the min doc_id
    assert len(out) == pdf["text"].nunique()
    want_keep = pdf.groupby("text")["doc_id"].min().sort_values().tolist()
    assert sorted(out["doc_id"]) == sorted(want_keep)
    # copy counts add back up to the corpus size
    assert out["n_copies"].sum() == len(pdf)


def test_bpe_token_count_hand(spark):
    df = spark.createDataFrame(
        [("d1", "don't stop, it's 42 tokens-ish!")], "doc_id string, text string"
    )
    out = T.bpe_token_count(df).collect()[0]
    # don | 't | stop | , | it | 's | 42 | tokens | -ish... let's count via
    # the same regex in python for an independent cross-check
    import re

    toks = [
        t for t in re.findall(f"({T.BPE_PRETOKEN_PATTERN})",
                              "don't stop, it's 42 tokens-ish!")
        if not t.isspace()
    ]
    assert out.n_bpe_tokens == len(toks)
    assert out.n_words == 5
    assert out.fertility == out.n_bpe_tokens / 5.0


def test_ivf_topk_recall_and_determinism(spark):
    """IVF candidates are a subset of brute force; recall@5 over the
    synthetic table must be high (clustered probes over 4/16 lists), and
    the result must be identical across input partitionings (hash-ordered
    sample => partition-invariant centroids)."""
    from image_feature_extraction_spark import synth
    from image_feature_extraction_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    corpus = synth.embedding_table(spark, 200, 8, partitions=4)
    queries = corpus.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(
        corpus, queries, k=5, n_lists=8, n_probe=3, sample_cap=200, iters=6
    ).toPandas()
    brute = cosine_topk(corpus, queries, k=5).toPandas()
    hits = 0
    for qid, grp in brute.groupby("query_id"):
        want = set(grp["neighbor_id"])
        got = set(ivf[ivf["query_id"] == qid]["neighbor_id"])
        hits += len(want & got)
    recall = hits / len(brute)
    assert recall >= 0.6, recall
    # determinism under a different partitioning
    corpus2 = synth.embedding_table(spark, 200, 8, partitions=13)
    queries2 = corpus2.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf2 = ivf_topk(
        corpus2, queries2, k=5, n_lists=8, n_probe=3, sample_cap=200, iters=6
    ).toPandas()
    a = ivf.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = ivf2.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_ivf_null_vectors_and_validation(spark):
    from image_feature_extraction_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    pdf = pd.DataFrame(
        {
            "vec_id": range(12),
            "embedding": [[float(i), 1.0] if i != 5 else None for i in range(12)],
        }
    )
    e = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    q = e.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(e, q, k=3, n_lists=2, n_probe=2, sample_cap=100, iters=4).toPandas()
    assert 5 not in set(out["neighbor_id"])  # null vector excluded
    assert len(out) == 3
    with pytest.raises(ValueError, match="n_lists"):
        kmeans_centroids(e, n_lists=50)
