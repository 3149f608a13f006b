"""The flagship job: broadcast as-of join + multi-scale feature
extraction over the token table — BASELINE.json's headline workload.

``flagship_features`` is the one composition of the three public
operators (token table -> asof_join_broadcast -> extract_features);
``flagship_pipeline`` runs it over the deterministic synth token table,
and scripts/run_flagship.py runs it per checkpointed source unit.
"""

from __future__ import annotations

SCALES = (1.0, 2.0)


def flagship_stats(spark, n_docs: int):
    """The small right side of the flagship as-of join: per (source, hourly
    bucket) doc-count + mean length, stamped at bucket end — the "features
    computed at checkpoint time" shape. In production this is a PRE-EXISTING
    table written by the previous checkpoint; here it is derived
    deterministically from the synth model's token-free metadata."""
    from image_feature_extraction_spark import synth

    meta = synth.doc_meta_pandas(n_docs)
    meta["ts"] = (meta["ts"] // 3600) * 3600 + 3600
    stats_pdf = (
        meta.groupby(["source", "ts"], as_index=False)
        .agg(bucket_docs=("doc_id", "count"), bucket_mean_len=("n_tok", "mean"))
    )
    return spark.createDataFrame(
        stats_pdf[["source", "ts", "bucket_docs", "bucket_mean_len"]]
    )


def flagship_features(docs, stats, scales=SCALES):
    """Per-source rolling stats (one row per source time-bucket) are as-of
    joined onto each doc of the token table `docs` (point-in-time, leakage
    free), then the full 8-feature x len(scales) histogram vector is
    extracted per doc."""
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast
    from image_feature_extraction_spark.operators.features import extract_features

    joined = asof_join_broadcast(docs, stats, on="ts", by="source")
    return extract_features(joined, scales=scales)


def flagship_pipeline(spark, n_docs: int, stats=None):
    """The BASELINE.json headline: ``flagship_features`` over the first
    `n_docs` docs of the synth token table."""
    from image_feature_extraction_spark import synth

    if stats is None:
        stats = flagship_stats(spark, n_docs)
    return flagship_features(synth.token_table(spark, n_docs), stats)
