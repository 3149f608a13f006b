"""Structured Streaming operators: the stream forms of the batch engine's
windowed aggregates, dedup, as-of enrichment, drift monitor and encoders.

The reference is strictly batch (SURVEY.md §2.9); these re-express the
same semantics over micro-batches, and batch/stream parity is the
correctness gate (availableNow over a static file set must equal the
batch computation on the same files; tested).

- ``windowed_counts``: tumbling event-time windows + watermark = the
  histogram-per-time-bucket of the batch engine with bounded state and
  late-data tolerance.
- ``session_aggregate``: native session_window (gap rule) = the batch
  ``operators.windows.sessionize`` (ROI-boundary rule,
  RegionOfInterestGenerator.hxx:43-56) with state expiry via watermark.
- ``running_user_stats``: per-entity running count/sum surviving across
  micro-batches (applyInPandasWithState); the streaming form of the
  per-partition ledger metrics.
- ``dedup_exact``: first arrival of each content hash.
- ``streaming_asof_enrich``: point-in-time enrichment against a static
  feature table (the batch broadcast as-of, run per micro-batch).
- ``streaming_drift``: windowed drift against a static reference
  histogram (the batch monitor's expressions).
- The encoder twins ``streaming_zscore``, ``streaming_decayed``,
  ``streaming_frequency_encode`` and ``streaming_target_encode`` mirror
  ``operators.encode``'s ``expanding_zscore``, ``decayed_features``,
  ``frequency_encode`` and ``target_encode`` bit for bit. Each is a state
  layout, an initial state and one ``step`` over the shared stateful
  driver ``_peer_scan``.

Arrival contract of the encoder twins, enforced once in ``_peer_scan``:
rows arrive per key in time order across micro-batches (the
daily-increment shape, SCALE.md). Within a micro-batch, rows sharing a
timestamp score against the same earlier state and never each other (the
batch peer-exclusion rule); NULL-ts rows get NULL features and add
nothing. In the two bucketed twins a row whose bucket precedes the open
bucket is late: it gets NULL features and adds nothing, instead of
reading future buckets and booking its value under the newest one. Late
data beyond the contract is a reprocess, not a state patch. Values carry
at most 2 decimals (the batch DECIMAL(18,2) contract); state holds them
as integer cents.

Scale notes: state is keyed by (window x key) / (session x key) and
bounded by the watermark horizon, or by a fixed number of longs per key
for the encoder twins; shuffle partitioning of the stateful operators
follows spark.sql.shuffle.partitions. At 10^12-row history the stream
handles the increment while the batch engine owns the backfill.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return r.parquet(path)


def _tz(events: DataFrame, ts: str) -> DataFrame:
    """Watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC in
    session.py so the cast is stable."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events.schema[ts].dataType, TimestampNTZType):
        return events.withColumn(ts, F.col(ts).cast("timestamp"))
    return events


def windowed_counts(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts + decimal value sum with late-data watermark."""
    events = _tz(events, ts)
    tcol = F.col(ts)
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(tcol, window).alias("win"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key,
            "n_events",
            "sum_value",
        )
    )


def session_aggregate(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (gap rule) per entity."""
    events = _tz(events, ts)
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("sw"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


RUNNING_STATE_SCHEMA = "n long, s double"


def running_user_stats(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-entity
    running row count + value sum across micro-batches. Emits one row per
    (entity, micro-batch in which it appeared). The key column keeps its
    input type."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.types import DoubleType

    out_schema = StructType(
        [
            StructField(key, events.schema[key].dataType),
            StructField("batch_rows", LongType()),
            StructField("total_rows", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    def fn(key_, pdf_iter, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        batch = 0
        for pdf in pdf_iter:
            batch += len(pdf)
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                key: [key_[0]],
                "batch_rows": [batch],
                "total_rows": [n],
                "total_value": [s],
            }
        )

    return events.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain a stream with availableNow into an in-memory table `name`
    (test/demo harness; production sinks are parquet/Iceberg/Kafka)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_exact(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    ts: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup at ingest: keep the FIRST arrival of each
    content hash (md5 — the same content key as the batch
    dedup.md5_long/q_dedup_exact family, so batch and stream agree on
    what "duplicate" means).

    Without `ts`, state is the unbounded set of seen hashes
    (dropDuplicates) — right for bounded replays. With `ts`, state is
    bounded by the watermark horizon (dropDuplicatesWithinWatermark):
    a duplicate arriving within the horizon of its original is dropped,
    older state is evicted — the production shape for a continuous
    crawl feed, where content recurrence beyond the horizon is
    re-admitted deliberately (re-crawls) rather than held in state
    forever.
    """
    from pyspark.sql import functions as F

    hashed = docs.withColumn("_h", F.md5(F.col(content_col)))
    if ts is None:
        return hashed.dropDuplicates(["_h"]).drop("_h")
    out = (
        _tz(hashed, ts)
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )
    return out


# The open bucket before a key's first row: buckets are floor(epoch/width)
# with width >= 1 s, so |bucket| < 2^40 for any representable timestamp and
# -2^62 is unreachable by real data (a plain -1 would collide with pre-1970
# epochs). Opening the first real bucket from it folds zero partials.
NO_BUCKET = -(1 << 62)


def _cents_half_up(vals):
    """Integer cents of a float64 array, mirroring the batch operators'
    ``CAST(x AS DECIMAL(18,2)) * 100`` bit-for-bit.

    Two subtleties, both measured against the live engine (10k-value
    probe, 0 mismatches):

    - Spark's cast rounds HALF_UP (ties away from zero) — ``np.round``
      is half-even, so 0.125 would book 12 cents where batch has 13.
    - Spark's Decimal(double) goes through ``BigDecimal.valueOf``, i.e.
      it rounds the SHORTEST ROUND-TRIP DECIMAL REPR of the double, not
      the exact binary value: 75.445 is stored as 75.44499999999999...,
      yet casts to 75.45 because its shortest repr is "75.445". A
      binary-value formula (floor(|v|*100 + 0.5)) books 7544 there —
      measured on 19 of 10009 random 3-decimal values.

    Fast path: sign-adjusted floor(|v|*100 + 0.5), exact whenever the
    product is not within float error of a half-cent boundary. Near the
    boundary (|frac - 0.5| <= min(1e-6 + 1e-12*|v*100|, 0.499), generous
    vs the ~2e-16 relative repr/product gaps; the cap keeps huge values,
    past float64's exact-cents range anyway, off the slow path) it re-rounds
    ``Decimal(repr(v))`` HALF_UP — CPython's repr is the same
    shortest-round-trip decimal Java's Double.toString produces.
    2-decimal labels (the ``encode.cents_sql`` contract) never hit the
    slow path. Callers pass finite values only: the batch cast turns
    NaN/NULL and ±Inf into NULL, and floor(±Inf) -> undefined int64.
    """
    p = np.abs(vals) * 100.0
    fast = np.floor(p + 0.5)
    near = np.abs(p - np.floor(p) - 0.5) <= np.minimum(1e-6 + 1e-12 * p, 0.499)
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        for i in np.nonzero(near)[0]:
            fast[i] = float(
                (Decimal(repr(abs(float(vals[i])))) * 100).to_integral_value(
                    rounding=ROUND_HALF_UP
                )
            )
    return (np.sign(vals) * fast).astype(np.int64)


def _cents_and_count(vals):
    """What one group of values adds to history, as the batch operators
    count it: integer cents of the finite values (the DECIMAL(18,2) cast
    turns ±Inf into NULL, and a non-finite cent would be int64 garbage)
    and the COUNT(value), which skips NULLs but counts ±Inf."""
    v = np.asarray(vals, dtype=np.float64)
    return _cents_half_up(v[np.isfinite(v)]), int((~np.isnan(v)).sum())


def _peer_scan(
    events: DataFrame,
    by,
    ts: str,
    id_col: str,
    features: str,
    state_schema: str,
    init: tuple,
    step,
    bucket_seconds: float | None = None,
    bucket_col: str | None = None,
) -> DataFrame:
    """The stateful driver of the encoder twins: applyInPandasWithState
    over ``groupBy(by)`` in update mode, enforcing the module's arrival
    contract.

    Per key and micro-batch the arrived rows are sorted stably by
    (ts, id_col) and walked in peer groups of equal ts. Each group calls
    ``step(state, group, bucket) -> (features, state)`` with the state
    from before the group; ``features`` maps each output feature to a
    group constant or a per-row array. NULL-ts rows never reach ``step``.

    With ``bucket_seconds``, ``bucket`` is floor(epoch / bucket_seconds),
    the batch operators' arithmetic, and is written to ``bucket_col`` when
    one is named; without it, ``bucket`` is None. A bucketed ``step``
    returns None for a late group: its rows get NULL features, keep their
    bucket, and the state is unchanged.

    ``features`` is a DDL list of long/double columns. Output rows are
    (id_col, *by, [bucket_col], *features); long columns are nullable.
    The state starts at ``init`` and is stored in ``state_schema``'s
    layout once per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from ..operators.asof import _ts_np_series
    from ..operators.windows import _as_list

    by_l = _as_list(by)
    kinds = {"long": LongType(), "double": DoubleType()}
    feats = [f.split() for f in features.split(",")]
    tail = [(bucket_col, "long")] if bucket_col else []
    out_schema = StructType(
        [StructField(c, events.schema[c].dataType) for c in [id_col, *by_l]]
        + [StructField(c, kinds[t]) for c, t in tail + feats]
    )

    def fn(key_, pdf_iter, state):
        import pandas as pd

        st = state.get if state.exists else init
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values([ts, id_col], kind="stable").reset_index(drop=True)
        k = len(pdf)
        out = {c: np.full(k, None, dtype=object) for c, _ in tail + feats}
        if bucket_seconds is not None:
            bks = np.floor(_ts_np_series(pdf[ts]) / float(bucket_seconds))
        for t, grp in pdf.groupby(ts, sort=True, dropna=False):
            if pd.isna(t):
                continue
            gi = grp.index.to_numpy()
            b = None if bucket_seconds is None else int(bks[gi[0]])
            if bucket_col:
                out[bucket_col][gi] = b
            r = step(st, grp, b)
            if r is None:
                continue
            vals, st = r
            for c, _ in feats:
                out[c][gi] = vals[c]
        state.update(st)
        yield pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                **{c: [key_[i]] * k for i, c in enumerate(by_l)},
                **{
                    c: pd.array(out[c], dtype="Int64") if t == "long" else out[c]
                    for c, t in tail + feats
                },
            }
        )

    return events.groupBy(*by_l).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ZSCORE_STATE_SCHEMA = "n long, s_cents long, ss_cents4 long"


def streaming_zscore(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.expanding_zscore``:
    per-entity expanding z-score against strictly-earlier history.

    State carries the history as INTEGER cents (sum) and 10^-4 units (sum
    of squares), the mirror of the batch DECIMAL(38,2)/(38,4) sums and
    immune to accumulation order, and the float post-processing replays
    the batch expression tree op for op (cents/100 and n are exact, every
    (/, *, -, sqrt) is correctly rounded IEEE, so identical inputs give
    identical bits). int64 cents bound the history at ~9e16 value-units
    per entity.
    """

    def step(st, grp, _):
        n, s_c, ss_c = st
        mean = var = score = None
        if n >= 1:
            mean = (float(s_c) / 100.0) / float(n)
        if n >= 2:
            var = (float(ss_c) / 10000.0) / float(n) - mean * mean
        if var is not None and var > 0:
            sc = (grp[value].to_numpy(np.float64) - mean) / math.sqrt(var)
            # NULL values score NULL (the batch NULL arithmetic), not NaN
            score = np.where(np.isnan(sc), None, sc)
        vc, k = _cents_and_count(grp[value])
        return (
            {"z_n_prev": n, "z_mean_prev": mean, "z_var_prev": var, "z_score": score},
            (n + k, s_c + int(vc.sum()), ss_c + int((vc * vc).sum())),
        )

    return _peer_scan(
        events, key, ts, id_col,
        "z_n_prev long, z_mean_prev double, z_var_prev double, z_score double",
        ZSCORE_STATE_SCHEMA, (0, 0, 0), step,
    )


def streaming_asof_enrich(
    stream_left: DataFrame,
    static_right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    right_cols=None,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Streaming point-in-time enrichment: as-of join a STREAM of probe
    rows against a STATIC feature table — the online-serving shape of the
    batch point-in-time join (each arriving event is enriched with the
    latest feature row at or before its timestamp).

    Delegates to asof_join_broadcast, whose left side is a single
    mapInArrow over the probe rows — a narrow, stateless stage that
    Structured Streaming runs per micro-batch with no watermark, state
    store, or stream-stream join constraints. The right side is indexed
    once at plan build (driver-side, counted and bounded); restart the
    query to pick up feature-table changes — the same snapshot semantics
    as a broadcast dimension in a stream-static join. Row-for-row parity
    with the batch operator is by construction (same code path) and
    regression-gated in tests/test_streaming.py.
    """
    from ..operators.asof import asof_join_broadcast

    if static_right.isStreaming:
        raise ValueError(
            "streaming_asof_enrich: the right side must be a static "
            "DataFrame (the feature snapshot); stream-stream as-of is not "
            "supported"
        )
    return asof_join_broadcast(
        stream_left,
        static_right,
        on=on,
        by=by,
        right_cols=right_cols,
        direction=direction,
        tolerance=tolerance,
    )


DECAY_STATE_SCHEMA = "base long, cents array<long>, cnts array<long>"


def streaming_decayed(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    id_col: str = "event_id",
    bucket_seconds: float = 21600.0,
    horizon: int | None = None,
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.decayed_features``:
    per-entity exponentially time-decayed sum/count of strictly-earlier
    events, the real-time serving form of the feature-store recency
    counter.

    State is the open bucket and a ring of the last `horizon` buckets'
    (cents, count) partials: O(horizon) longs regardless of history
    length. The batch weights are dyadic (2^-k), so every term and
    partial sum is exactly representable and the stream reproduces the
    batch output bit for bit.
    """
    from ..operators.encode import DECAY_HORIZON

    H = int(horizon if horizon is not None else DECAY_HORIZON)
    w = 0.5 ** np.arange(H)

    def step(st, grp, b):
        base, cents, cnts = st
        if b < base:
            return None
        cents = np.array(cents, dtype=np.int64)
        cnts = np.array(cnts, dtype=np.int64)
        if b > base:
            shift = min(b - base, H)
            cents = np.concatenate([np.zeros(shift, dtype=np.int64), cents[: H - shift]])
            cnts = np.concatenate([np.zeros(shift, dtype=np.int64), cnts[: H - shift]])
        # dyadic terms -> the sum order cannot change a bit
        feats = {
            "decay_sum": float(np.dot(cents.astype(np.float64), w)) / 100.0,
            "decay_cnt": float(np.dot(cnts.astype(np.float64), w)),
        }
        vc, k = _cents_and_count(grp[value])
        cents[0] += int(vc.sum())
        cnts[0] += k
        return feats, (b, cents.tolist(), cnts.tolist())

    return _peer_scan(
        events, key, ts, id_col, "decay_sum double, decay_cnt double",
        DECAY_STATE_SCHEMA, (NO_BUCKET, [0] * H, [0] * H), step,
        bucket_seconds=float(bucket_seconds),
    )


def streaming_drift(
    events: DataFrame,
    reference: DataFrame,
    by: str = "event_type",
    ts: str = "ts",
    value_col: str = "value",
    bin_width: float = 10.0,
    n_bins: int = 10,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Serving-time distribution drift: per (event-time window, group)
    TV distance of the live stream against a STATIC training-window
    histogram (operators.monitor.reference_histogram, broadcast).

    The join runs BEFORE the windowed aggregation — stateless row-wise
    stream-static, the only join placement Structured Streaming allows
    around an aggregation — and the drift arithmetic is the exact
    fixed-order expression set the batch monitor uses, so batch replay
    of the same files produces identical rows (parity-tested).

    Scale: state is (window x group) histogram counters bounded by the
    watermark horizon; the reference is |groups| x (n_bins+2) — always
    broadcastable."""
    from ..operators.monitor import drift_against_reference

    events = _tz(events, ts).withWatermark(ts, watermark)
    return drift_against_reference(
        events, reference, by=by, ts=ts, value_col=value_col,
        bin_width=bin_width, n_bins=n_bins, window=window,
    )


FREQ_STATE_SCHEMA = "n long"


def streaming_frequency_encode(
    events: DataFrame,
    by=("user_id", "event_type"),
    ts: str = "ts",
    id_col: str = "event_id",
    out_col: str = "fe_n_prev",
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.frequency_encode``:
    strictly-earlier same-key occurrence count, the serving form of the
    count encoder ("how often has this user done this before"). State is
    ONE long per key tuple; integer arithmetic, exact by construction."""

    def step(st, grp, _):
        (n,) = st
        return {out_col: n}, (n + len(grp),)

    return _peer_scan(
        events, by, ts, id_col, f"{out_col} long", FREQ_STATE_SCHEMA, (0,), step
    )


# completed-bucket totals + the open bucket's id and partials
TE_STATE_SCHEMA = "n_prev long, cents_prev long, cur_bk long, cur_n long, cur_cents long"


def streaming_target_encode(
    events: DataFrame,
    by: str = "event_type",
    ts: str = "ts",
    label: str = "value",
    id_col: str = "event_id",
    time_bucket: float = 3600.0,
    m: float | None = None,
    prior: float | None = None,
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.target_encode``:
    per-category Bayesian-smoothed label mean over strictly-previous
    COMPLETED time buckets, the online form of the target encoder, frozen
    at bucket granularity exactly like the batch operator (rows never see
    their own bucket).

    State per category is five longs: completed-bucket count and label
    cents, plus the open bucket's id and partials; a row opening a later
    bucket folds the open partials into the totals. Label sums are integer
    cents rounded HALF_UP like the batch DECIMAL(18,2) cast (so half-cent
    ties like 0.125 match), cents/100.0 and CAST(DECIMAL AS DOUBLE) are
    the same correctly rounded double, and the float post-processing
    replays the batch expression tree op for op. Late rows keep their
    ``te_bucket``, so contract violations are observable downstream.
    """
    from ..operators.encode import TE_PRIOR, TE_SMOOTHING_M

    m = float(TE_SMOOTHING_M if m is None else m)
    prior = float(TE_PRIOR if prior is None else prior)
    mp = m * prior

    def step(st, grp, b):
        n_prev, cents_prev, cur_bk, cur_n, cur_cents = st
        if b < cur_bk:
            return None
        if b > cur_bk:
            n_prev, cents_prev, cur_bk, cur_n, cur_cents = (
                n_prev + cur_n, cents_prev + cur_cents, b, 0, 0
            )
        sumd = float(cents_prev) / 100.0  # == CAST(DECIMAL(38,2) AS DOUBLE)
        feats = {
            "te_n_prev": n_prev,
            "te_mean_prev": sumd / float(n_prev) if n_prev >= 1 else None,
            "te_enc": (sumd + mp) / (float(n_prev) + m),
        }
        vc, k = _cents_and_count(grp[label])
        return feats, (n_prev, cents_prev, cur_bk, cur_n + k, cur_cents + int(vc.sum()))

    return _peer_scan(
        events, by, ts, id_col,
        "te_n_prev long, te_mean_prev double, te_enc double",
        TE_STATE_SCHEMA, (0, 0, NO_BUCKET, 0, 0), step,
        bucket_seconds=float(time_bucket), bucket_col="te_bucket",
    )
