"""Leakage-free feature encoders: expanding z-score and time-aware
target encoding.

These extend the window family (SURVEY.md §2.3/§2.6 — the reference's
normalization story is per-image intensity rescaling,
tools/MakeBag.cxx:429-447 normalizes bag frequencies by total count; the
training-pipeline analog is normalizing each feature against its OWN
PAST only, so a model trained on the output never sees information from the
future of the row it is scoring) with the two encoders every
point-in-time feature pipeline needs:

- ``expanding_zscore`` — z = (x - mean(past)) / std(past) where "past"
  means rows of the same entity with timestamp STRICTLY before the
  current row's. Same-timestamp peers are excluded (they are not known
  "before" t), so duplicate timestamps cannot leak into each other.
- ``target_encode`` — smoothed mean of a label per category computed
  from strictly-previous time buckets:
  enc = (sum_prev + m*prior) / (n_prev + m).

Cross-engine exactness (the DuckDB oracle hashes bit-for-bit): all sums
run on DECIMAL(18,2)/(38,2|4) (associative, order-independent), and the
float post-processing is a single structurally-identical expression tree
of IEEE double ops (+ - * / sqrt are all correctly rounded, so identical
inputs give identical bits in both engines).

Scale notes (100 TB):

- expanding_zscore is ONE exchange + ONE sort (all three cumulative
  quantities come from RANGE frames over the same (entity, time) window
  spec; Catalyst fuses them into a single Window operator). The
  strictly-before sums are derived as cumulative-inclusive minus
  same-timestamp-peer-group totals — both plain frames — instead of a
  second windowed pass or a self-join. Hot entities degrade to window
  spill, same disposition as operators/windows.py.
- target_encode never shuffles the corpus on the category key (which is
  typically low-cardinality and would skew): raw rows are first reduced
  to per-(category, bucket) DECIMAL partials (map-side combine does most
  of the work), the cumulative window runs over that tiny partial table,
  and the result joins back on (category, bucket) — broadcastable
  whenever categories x buckets is small (AQE converts it; the partials
  for 4 event types x 1e6 hourly buckets are a few MB). With
  ``time_bucket`` at day/hour granularity the partial table stays
  bounded no matter how many raw rows feed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import _as_list, _epoch

# Bayesian smoothing defaults for target_encode, shared with the oracle
# SQL generators so the two sides cannot drift.
TE_SMOOTHING_M = 10.0
TE_PRIOR = 50.0


def cents_sql(col: str) -> str:
    """Exact integer cents of a 2-decimal value column — the SINGLE
    cross-engine fragment for order-independent money sums (DECIMAL cast
    before scaling, so 6.55 never becomes 654.999...; identical text in
    Spark and DuckDB). Shared by decayed_features, its oracle, and
    monitor.backtest_folds."""
    return f"CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT)"


def expanding_zscore(
    df: DataFrame,
    by,
    ts: str,
    value: str,
    out_prefix: str = "z",
) -> DataFrame:
    """Per-entity expanding z-score against strictly-preceding history.

    Adds ``{p}_n_prev`` (rows strictly before this row's timestamp),
    ``{p}_mean_prev``, ``{p}_var_prev`` (population variance of the
    past), and ``{p}_score`` = (value - mean_prev) / sqrt(var_prev).
    Score/variance are NULL until at least 2 strictly-prior rows exist
    or when the past is constant (var <= 0); mean is NULL until 1.

    Leakage contract: rows sharing the entity's timestamp see the SAME
    history and never each other. Implemented as cumulative-inclusive
    RANGE frame minus the RANGE CURRENT ROW..CURRENT ROW peer-group
    frame (peers = equal order value), so exclusion costs no extra
    shuffle, join, or sort — DECIMAL subtraction keeps it exact.

    NULL timestamps (decayed_features' rule): a row with an unknown
    event time may be FUTURE data, so it contributes NOTHING to any
    row's history and all four of its own outputs are NULL. (NULLS
    FIRST ordering alone would silently count such rows in every real
    row's "strictly prior" sums — temporal leakage.)
    """
    by_l = _as_list(by)
    p = out_prefix
    d = df.withColumn("_epoch", _epoch(df, ts))
    by_sql = ", ".join(by_l)
    incl = (
        f"PARTITION BY {by_sql} ORDER BY _epoch ASC NULLS FIRST "
        f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    peer = (
        f"PARTITION BY {by_sql} ORDER BY _epoch ASC NULLS FIRST "
        f"RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
    )
    # NULL-ts rows contribute nothing to history: gate every windowed
    # input on a known event time (COUNT/SUM skip NULLs).
    val = f"CASE WHEN _epoch IS NOT NULL THEN {value} END"
    dec = f"CAST({val} AS DECIMAL(18,2))"
    # DECIMAL(18,2)^2 -> exact 4-decimal squares; SUM widens to (38,4).
    sq = f"CAST({dec} * {dec} AS DECIMAL(38,4))"
    valid = F.col("_epoch").isNotNull()
    # ALL windowed expressions in ONE projection: chained withColumn
    # interleaves Projects that defeat CollapseWindow (measured: 3
    # Window operators, i.e. 3 buffer passes, vs 1 here — plan pinned
    # by the single-Window regression test).
    d = d.select(
        "*",
        F.when(
            valid,
            F.expr(f"COUNT({val}) OVER ({incl}) - COUNT({val}) OVER ({peer})"),
        ).alias(f"{p}_n_prev"),
        F.expr(
            f"CAST(COALESCE(SUM({dec}) OVER ({incl}), 0) AS DECIMAL(38,2))"
            f" - CAST(COALESCE(SUM({dec}) OVER ({peer}), 0) AS DECIMAL(38,2))"
        ).alias("_sum_prev"),
        F.expr(
            f"CAST(COALESCE(SUM({sq}) OVER ({incl}), 0) AS DECIMAL(38,4))"
            f" - CAST(COALESCE(SUM({sq}) OVER ({peer}), 0) AS DECIMAL(38,4))"
        ).alias("_sumsq_prev"),
    )
    n = F.col(f"{p}_n_prev").cast("double")
    mean = F.col("_sum_prev").cast("double") / n
    var = F.col("_sumsq_prev").cast("double") / n - mean * mean
    d = d.withColumn(
        f"{p}_mean_prev", F.when(F.col(f"{p}_n_prev") >= 1, mean)
    ).withColumn(
        f"{p}_var_prev", F.when(F.col(f"{p}_n_prev") >= 2, var)
    )
    score = (F.col(value).cast("double") - F.col(f"{p}_mean_prev")) / F.sqrt(
        F.col(f"{p}_var_prev")
    )
    d = d.withColumn(
        f"{p}_score", F.when(F.col(f"{p}_var_prev") > 0, score)
    )
    return d.drop("_epoch", "_sum_prev", "_sumsq_prev")


def expanding_robust_stats(
    df: DataFrame,
    by,
    ts: str,
    value: str,
    id_col: str,
    k: float = 1.5,
    min_history: int = 4,
    out_prefix: str = "rb",
    max_history_rows: int | None = 50_000,
) -> DataFrame:
    """Expanding median/IQR of the entity's history + Tukey-fence outlier
    flag: outlier iff value < Q1 - k*IQR or value > Q3 + k*IQR, with the
    quartiles computed over PRIOR rows only (NULL until `min_history`).

    History frame: ROWS UNBOUNDED PRECEDING..1 PRECEDING ordered by
    (ts, id_col) — quantiles are not additive, so the RANGE-minus-peer
    trick expanding_zscore uses cannot exclude same-timestamp peers
    here; the unique id tie-break keeps the frame deterministic, and
    rows sharing a timestamp see the peers ordered before them
    (documented relaxation; with event-time at microsecond grain ties
    are measure-zero — use expanding_zscore when strict same-ts
    exclusion matters). One exchange + one sort; the three quantiles
    share one window spec, so they evaluate in a single Window operator.

    Cross-engine exactness: Spark's `percentile` and DuckDB's
    `quantile_cont` both interpolate lo + (hi - lo) * frac at index
    p*(n-1) with IEEE doubles — measured bit-identical on the events
    table (maxdiff 0.0); the fences reuse that plus one multiply/add.

    COST BOUNDARY (100x scale): `percentile` is not incrementally
    computable, so the Window operator re-evaluates the growing
    ROWS-frame buffer for EVERY row — O(n^2 log n)-ish per entity. Fine
    for entities with thousands of history rows; a scale-killer at
    10^6+. For long histories use ``bucketed_robust_stats``, which
    freezes the quantiles at time-bucket granularity and pays one
    percentile evaluation per (entity, bucket) instead of per row.

    The boundary is ENFORCED, not just documented: any row with more
    than ``max_history_rows`` prior FRAME ROWS (default 50k — the
    measured quadratic already costs ~minutes per 20k-row entity)
    raises at execution time with a pointer to
    ``bucketed_robust_stats``. The guard counts frame rows (COUNT(1)),
    not non-NULL values: NULL-value/NULL-ts rows still occupy the
    percentile buffer, so a NULL-heavy entity pays the same quadratic.
    The count shares the feature frame spec (still one Window, one
    Exchange — plan-pinned). Pass ``None`` to disable.
    """
    by_l = _as_list(by)
    p = out_prefix
    d = df.withColumn("_epoch", _epoch(df, ts))
    frame = (
        f"PARTITION BY {', '.join(by_l)} ORDER BY _epoch ASC NULLS FIRST, {id_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )
    # NULL timestamps (the family rule, see expanding_zscore): unknown
    # event time may be future data — contributes nothing to any frame,
    # own features NULL.
    val = f"CASE WHEN _epoch IS NOT NULL THEN {value} END"
    # ALL windowed expressions in ONE projection: chained withColumn
    # puts a Project between each Window and defeats CollapseWindow —
    # measured 4 Window operators (4 buffer passes per partition) vs 1
    # here; the select form is the single-Window plan the regression
    # test pins.
    guard_cols = []
    if max_history_rows is not None:
        # COUNT(1) counts prior FRAME ROWS — not COUNT(val), which skips
        # NULL-value/NULL-ts rows: those rows still occupy (and re-sort
        # in) the percentile window buffer, so a NULL-heavy entity would
        # otherwise evade the guard while paying the full quadratic.
        # Same frame spec as the features -> still ONE Window operator.
        guard_cols.append(
            F.expr(f"COUNT(1) OVER ({frame})").alias("__rb_guard_rows")
        )
    d = d.select(
        "*",
        F.when(
            F.col("_epoch").isNotNull(),
            F.expr(f"COUNT({val}) OVER ({frame})"),
        ).alias(f"{p}_n_prev"),
        F.expr(f"percentile({val}, 0.25) OVER ({frame})").alias("_q1"),
        F.expr(f"percentile({val}, 0.5) OVER ({frame})").alias("_med"),
        F.expr(f"percentile({val}, 0.75) OVER ({frame})").alias("_q3"),
        *guard_cols,
    )
    ok = F.col(f"{p}_n_prev") >= int(min_history)
    if max_history_rows is not None:
        # assert_true returns NULL when the predicate holds, so the
        # isNull() wrapper is value-transparent for compliant data and
        # raises mid-job the moment one entity's history crosses the
        # cap. The guard is the FIRST conjunct: And short-circuits left
        # to right, so guard-first means it evaluates on every row —
        # `ok & guard` would skip it exactly on the NULL-heavy rows
        # whose buffer it polices.
        ok = (
            F.assert_true(
                F.coalesce(F.col("__rb_guard_rows"), F.lit(0))
                <= F.lit(int(max_history_rows)),
                f"expanding_robust_stats: an entity's prior history "
                f"exceeded max_history_rows={int(max_history_rows)}; the "
                f"per-row expanding percentile is O(n^2 log n) per entity "
                f"— use bucketed_robust_stats for long histories, or "
                f"raise the cap explicitly (max_history_rows=None "
                f"disables the guard)",
            ).isNull()
            & ok
        )
    iqr = F.col("_q3") - F.col("_q1")
    lo = F.col("_q1") - F.lit(float(k)) * iqr
    hi = F.col("_q3") + F.lit(float(k)) * iqr
    v = F.col(value).cast("double")
    return (
        d.withColumn(f"{p}_median_prev", F.when(ok, F.col("_med")))
        .withColumn(f"{p}_iqr_prev", F.when(ok, iqr))
        .withColumn(f"{p}_is_outlier", F.when(ok, (v < lo) | (v > hi)))
        .drop("_epoch", "_q1", "_med", "_q3", *(
            ["__rb_guard_rows"] if max_history_rows is not None else []
        ))
    )


def bucketed_robust_stats(
    df: DataFrame,
    by,
    ts: str,
    value: str,
    bucket_seconds: float,
    k: float = 1.5,
    min_history: int = 4,
    out_prefix: str = "rb",
) -> DataFrame:
    """Scale-safe sibling of ``expanding_robust_stats``: median/IQR/
    Tukey-fence outlier flag against the entity's history, with the
    quantiles FROZEN at time-bucket granularity — every row in bucket B
    sees the quantiles of all rows in strictly-earlier buckets (< B),
    never its own bucket (target_encode's within-batch guard).

    Why this scales where the per-row variant does not: the history
    frame is ``RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING``
    ordered by the integer bucket, so all rows of a bucket are frame
    PEERS. Spark's unbounded-preceding frame processor only re-evaluates
    the aggregate buffer when rows are ADDED to the frame — i.e. once
    per (entity, bucket), not once per row (verified in the plan: one
    Window operator, and measured: runtime tracks #buckets, not
    #rows^2). Per-entity cost drops from O(rows * history log history)
    to O(buckets * history log history); with daily buckets over years
    that is a ~10^4-10^5x cut for a hot entity. The buffer itself still
    holds the entity's history (quantiles need the multiset — window
    spill disposition, same as operators/windows.py); histories too
    large for that route to operators/quantiles' distributed rank
    selection.

    NULL timestamps follow decayed_features' rule: they contribute
    nothing to any frame (gated window input) and get NULL features.

    Cross-engine exactness: identical percentile/quantile_cont
    interpolation contract as expanding_robust_stats; DuckDB's RANGE
    1 PRECEDING over the same integer bucket yields the identical frame.
    """
    by_l = _as_list(by)
    p = out_prefix
    d = df.withColumn("_e", _epoch(df, ts))
    d = d.withColumn(
        "_bk", F.floor(F.col("_e") / F.lit(float(bucket_seconds))).cast("long")
    )
    frame = (
        f"PARTITION BY {', '.join(by_l)} ORDER BY _bk ASC NULLS FIRST "
        f"RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )
    # NULL-bucket rows must not feed anyone's history
    val = f"CASE WHEN _bk IS NOT NULL THEN {value} END"
    valid = F.col("_bk").isNotNull()
    # single projection -> single Window operator (see
    # expanding_robust_stats; plan pinned by regression test)
    d = d.select(
        "*",
        F.when(valid, F.expr(f"COUNT({val}) OVER ({frame})")).alias(
            f"{p}_n_prev"
        ),
        F.expr(f"percentile({val}, 0.25) OVER ({frame})").alias("_q1"),
        F.expr(f"percentile({val}, 0.5) OVER ({frame})").alias("_med"),
        F.expr(f"percentile({val}, 0.75) OVER ({frame})").alias("_q3"),
    )
    ok = F.col(f"{p}_n_prev") >= int(min_history)
    iqr = F.col("_q3") - F.col("_q1")
    lo = F.col("_q1") - F.lit(float(k)) * iqr
    hi = F.col("_q3") + F.lit(float(k)) * iqr
    v = F.col(value).cast("double")
    return (
        d.withColumn(f"{p}_bucket", F.when(valid, F.col("_bk")))
        .withColumn(f"{p}_median_prev", F.when(ok, F.col("_med")))
        .withColumn(f"{p}_iqr_prev", F.when(ok, iqr))
        .withColumn(f"{p}_is_outlier", F.when(ok, (v < lo) | (v > hi)))
        .drop("_e", "_bk", "_q1", "_med", "_q3")
    )


def target_encode(
    df: DataFrame,
    by,
    ts: str,
    label: str,
    time_bucket: float | None = None,
    m: float = TE_SMOOTHING_M,
    prior: float = TE_PRIOR,
    out_prefix: str = "te",
) -> DataFrame:
    """Time-aware target encoding: per-category smoothed mean of `label`
    over strictly-previous time buckets.

    ``time_bucket`` (seconds) freezes the encoding at bucket granularity
    — a row sees labels from EARLIER buckets only, never its own bucket
    (the standard guard against within-batch leakage); None uses the raw
    timestamp as its own bucket (strictly-earlier timestamps only).

    Adds ``{p}_bucket``, ``{p}_n_prev``, ``{p}_mean_prev`` (raw past
    mean, NULL when no history), and ``{p}_enc`` — the Bayesian-smoothed
    encoding (sum_prev + m*prior) / (n_prev + m), which degrades to
    `prior` for unseen (category, first-bucket) rows instead of NULL.

    NULL handling (decayed_features' rule): rows with a NULL timestamp
    (NULL bucket) may be future data — they contribute NOTHING to any
    bucket's history and their own features are NULL (NULLS FIRST bucket
    ordering alone would leak them into every real bucket's past). A
    NULL *category* is its own category (null-safe join back, matching
    decayed_features' eqNullSafe on the entity key).

    Shape: partials per (category, bucket) -> cumulative window over the
    partial table -> equi-join back. The corpus is never hash-partitioned
    by the (low-cardinality, skewed) category alone.
    """
    by_l = _as_list(by)
    p = out_prefix
    d = df.withColumn("_epoch", _epoch(df, ts))
    if time_bucket is not None:
        d = d.withColumn(
            f"{p}_bucket", F.floor(F.col("_epoch") / float(time_bucket)).cast("long")
        )
    else:
        d = d.withColumn(f"{p}_bucket", F.col("_epoch"))
    dec = f"CAST({label} AS DECIMAL(18,2))"
    partials = (
        d.where(F.col(f"{p}_bucket").isNotNull())
        .groupBy(*by_l, f"{p}_bucket")
        .agg(
            F.expr(f"COUNT({label})").alias("_n_g"),
            F.expr(f"CAST(COALESCE(SUM({dec}), 0) AS DECIMAL(38,2))").alias("_sum_g"),
        )
    )
    by_sql = ", ".join(by_l)
    prev = (
        f"PARTITION BY {by_sql} ORDER BY {p}_bucket ASC NULLS FIRST "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )
    cum = partials.withColumn(
        "_n_prev", F.expr(f"COALESCE(SUM(_n_g) OVER ({prev}), 0)")
    ).withColumn(
        "_sum_prev",
        F.expr(f"CAST(COALESCE(SUM(_sum_g) OVER ({prev}), 0) AS DECIMAL(38,2))"),
    )
    enc = cum.select(
        *by_l,
        f"{p}_bucket",
        F.col("_n_prev").alias(f"{p}_n_prev"),
        F.when(
            F.col("_n_prev") >= 1,
            F.col("_sum_prev").cast("double") / F.col("_n_prev").cast("double"),
        ).alias(f"{p}_mean_prev"),
        (
            (F.col("_sum_prev").cast("double") + F.lit(float(m) * float(prior)))
            / (F.col("_n_prev").cast("double") + F.lit(float(m)))
        ).alias(f"{p}_enc"),
    )
    # Null-safe on the category (NULL is a category), plain equality on
    # the bucket (NULL bucket never matches -> NULL features).
    cond = F.col(f"l.{p}_bucket") == F.col(f"r.{p}_bucket")
    for c in by_l:
        cond = cond & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
    out = d.drop("_epoch").alias("l").join(enc.alias("r"), cond, "left")
    return out.select(
        *[F.col(f"l.{c}") for c in df.columns],
        F.col(f"l.{p}_bucket"),
        F.col(f"r.{p}_n_prev"),
        F.col(f"r.{p}_mean_prev"),
        F.col(f"r.{p}_enc"),
    )


def target_encode_oracle_sql(
    table: str,
    by: str,
    ts: str,
    label: str,
    time_bucket: float,
    select_cols: str,
    m: float = TE_SMOOTHING_M,
    prior: float = TE_PRIOR,
) -> str:
    """DuckDB oracle for target_encode, generated from the SAME constants
    the operator uses (m, prior, bucket width) so the sides cannot drift.
    Expression tree mirrors the Spark side op-for-op (decimal partials,
    double division, + m*prior folded to one literal; NULL buckets
    excluded from partials, null-safe LEFT join back — so NULL-ts rows
    keep NULL features and a NULL category is its own category, exactly
    the Spark operator's rule)."""
    mp = float(m) * float(prior)
    return f"""
    WITH d AS (
      SELECT *, CAST(FLOOR(epoch({ts}) / {float(time_bucket)!r}) AS BIGINT) AS te_bucket
      FROM {table}
    ),
    partials AS (
      SELECT {by}, te_bucket, COUNT({label}) AS n_g,
             CAST(COALESCE(SUM(CAST({label} AS DECIMAL(18,2))), 0) AS DECIMAL(38,2)) AS sum_g
      FROM d WHERE te_bucket IS NOT NULL GROUP BY {by}, te_bucket
    ),
    cum AS (
      SELECT {by}, te_bucket,
             CAST(COALESCE(SUM(n_g) OVER w, 0) AS BIGINT) AS n_prev,
             CAST(COALESCE(SUM(sum_g) OVER w, 0) AS DECIMAL(38,2)) AS sum_prev
      FROM partials
      WINDOW w AS (PARTITION BY {by} ORDER BY te_bucket ASC NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT {select_cols},
           cum.n_prev AS te_n_prev,
           CASE WHEN cum.n_prev >= 1
                THEN CAST(cum.sum_prev AS DOUBLE) / CAST(cum.n_prev AS DOUBLE)
           END AS te_mean_prev,
           CASE WHEN cum.te_bucket IS NOT NULL
                THEN (CAST(cum.sum_prev AS DOUBLE) + {mp!r})
                     / (CAST(cum.n_prev AS DOUBLE) + {float(m)!r})
           END AS te_enc
    FROM d LEFT JOIN cum
      ON d.{by} IS NOT DISTINCT FROM cum.{by} AND d.te_bucket = cum.te_bucket
    """


# Decayed-feature constants, shared with the oracle generator so the two
# sides cannot drift. Weights are DYADIC (2^-k): every weight, every
# weighted term, and every partial sum is exactly representable in
# float64 (see decayed_features), so the result is identical under ANY
# accumulation order — the property that makes the cross-engine hash
# exact without fixing either engine's aggregation schedule.
DECAY_HORIZON = 20  # weights 2^0 .. 2^-(H-1); contributions >= H buckets old are 0
DECAY_BUCKET_SEC = 86400.0  # one half-life per day by default


def decay_weights(horizon: int = DECAY_HORIZON) -> list[float]:
    """[1.0, 0.5, 0.25, ...] — weight for a bucket-age of k."""
    return [0.5**k for k in range(int(horizon))]


def decayed_features(
    df: DataFrame,
    by,
    ts: str,
    value: str,
    bucket_seconds: float = DECAY_BUCKET_SEC,
    horizon: int = DECAY_HORIZON,
    out_prefix: str = "decay",
) -> DataFrame:
    """Exponentially time-decayed sum and count of an entity's strictly
    earlier events — the feature-store "decayed counter" (recency-weighted
    activity) with one half-life per time bucket.

    For each row i: ``{p}_sum`` = sum over same-entity rows j with
    ts_j < ts_i of value_j * 2^-(bk_i - bk_j), ``{p}_cnt`` = the same
    with value_j replaced by 1 (non-null values only), where bk =
    floor(epoch/bucket_seconds). Same-bucket history carries weight 1,
    ages >= `horizon` buckets carry weight 0. Rows with a null timestamp
    get null features and contribute no history. Leakage contract: rows
    sharing a timestamp see the SAME history and never each other
    (expanding_zscore's rule).

    Cross-engine exactness (bit-for-bit vs the DuckDB oracle, any
    accumulation order): values are held as integer CENTS (exact via
    DECIMAL(18,2)*100), weights are powers of two, so cents * 2^-k only
    shifts the float exponent — exact — and all partial sums are
    multiples of 2^-(horizon-1) that stay exactly representable while the
    per-(entity,bucket) decayed total is < 2^(53-horizon+1) cents
    (~1.7e10 cents at horizon 20; beyond that the result degrades to
    1-ulp-correct, never wrong). The only rounding in the whole pipeline
    is the final single /100.0, identical on both sides.

    Shape (100 TB): the corpus is exchanged once on (entity, bucket) —
    the within-bucket expanding window and the decayed join share that
    key. The cross-bucket machinery runs on per-(entity, bucket) partials
    only: explode x(horizon-1) + re-group, a table bounded by active
    entities x buckets regardless of raw row count. No corpus self-join,
    no skewed category shuffle; a hot entity spreads across its buckets
    exactly as in gaussian_time_smooth.
    """
    by_l = _as_list(by)
    p = out_prefix
    H = int(horizon)
    ws = decay_weights(H)
    d = df.withColumn("_e", _epoch(df, ts))
    d = d.withColumn(
        "_bk", F.floor(F.col("_e") / F.lit(float(bucket_seconds))).cast("long")
    )
    cents = cents_sql(value)
    part_sql = ", ".join([*by_l, "_bk"])
    incl = (
        f"PARTITION BY {part_sql} ORDER BY _e ASC NULLS FIRST "
        f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    peer = (
        f"PARTITION BY {part_sql} ORDER BY _e ASC NULLS FIRST "
        f"RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
    )
    # same-bucket strictly-earlier history at weight 1: exact BIGINT sums
    d = d.withColumn(
        "_sb_cents",
        F.expr(
            f"CAST(COALESCE(SUM({cents}) OVER ({incl}), 0)"
            f" - COALESCE(SUM({cents}) OVER ({peer}), 0) AS BIGINT)"
        ),
    ).withColumn(
        "_sb_cnt",
        F.expr(f"COUNT({value}) OVER ({incl}) - COUNT({value}) OVER ({peer})"),
    )
    # per-(entity, bucket) partials feed every LATER bucket within horizon
    partials = (
        d.where(F.col("_bk").isNotNull())
        .groupBy(*by_l, "_bk")
        .agg(
            F.expr(f"CAST(COALESCE(SUM({cents}), 0) AS BIGINT)").alias("_bsum"),
            F.expr(f"COUNT({value})").alias("_bcnt"),
        )
    )
    shifted = partials.select(
        *by_l,
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("_bk") + F.lit(k)).alias("_bk"),
                        (F.col("_bsum").cast("double") * F.lit(ws[k])).alias("_wsum"),
                        (F.col("_bcnt").cast("double") * F.lit(ws[k])).alias("_wcnt"),
                    )
                    for k in range(1, H)
                ]
            )
        ).alias("_s"),
    ).select(*by_l, "_s._bk", "_s._wsum", "_s._wcnt")
    cross = shifted.groupBy(*by_l, "_bk").agg(
        F.sum("_wsum").alias("_xsum"), F.sum("_wcnt").alias("_xcnt")
    )
    cond = F.col("l._bk") == F.col("r._bk")
    for c in by_l:
        cond = cond & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
    joined = d.alias("l").join(cross.alias("r"), cond, "left")
    total_cents = F.col("_sb_cents").cast("double") + F.coalesce(
        F.col("_xsum"), F.lit(0.0)
    )
    total_cnt = F.col("_sb_cnt").cast("double") + F.coalesce(
        F.col("_xcnt"), F.lit(0.0)
    )
    ok = F.col("_e").isNotNull()
    return joined.select(
        *[F.col(f"l.{c}") for c in df.columns],
        F.when(ok, total_cents / F.lit(100.0)).alias(f"{p}_sum"),
        F.when(ok, total_cnt).alias(f"{p}_cnt"),
    )


def decayed_oracle_sql(
    table: str,
    by: str,
    ts: str,
    value: str,
    select_cols: str,
    bucket_seconds: float = DECAY_BUCKET_SEC,
    horizon: int = DECAY_HORIZON,
) -> str:
    """DuckDB oracle for decayed_features, generated from the SAME
    constants (bucket width, horizon, dyadic weight table) as the
    operator. Because every intermediate is exactly representable (see
    decayed_features), the two engines agree bit-for-bit regardless of
    how either schedules its sums."""
    H = int(horizon)
    ws = decay_weights(H)
    wk = ", ".join(f"({k}, {ws[k]!r})" for k in range(1, H))
    cents = cents_sql(value)
    return f"""
    WITH d AS (
      SELECT *, epoch({ts}) AS e,
             CAST(FLOOR(epoch({ts}) / {float(bucket_seconds)!r}) AS BIGINT) AS bk
      FROM {table}
    ),
    w AS (
      SELECT *,
             CAST(COALESCE(SUM({cents}) OVER incl, 0)
                  - COALESCE(SUM({cents}) OVER peer, 0) AS BIGINT) AS sb_cents,
             COUNT({value}) OVER incl - COUNT({value}) OVER peer AS sb_cnt
      FROM d
      WINDOW incl AS (PARTITION BY {by}, bk ORDER BY e ASC NULLS FIRST
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             peer AS (PARTITION BY {by}, bk ORDER BY e ASC NULLS FIRST
                      RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
    ),
    partials AS (
      SELECT {by}, bk, CAST(COALESCE(SUM({cents}), 0) AS BIGINT) AS bsum,
             COUNT({value}) AS bcnt
      FROM d WHERE bk IS NOT NULL GROUP BY {by}, bk
    ),
    shifted AS (
      SELECT {by}, bk + wk.k AS bk,
             CAST(bsum AS DOUBLE) * wk.w AS wsum,
             CAST(bcnt AS DOUBLE) * wk.w AS wcnt
      FROM partials CROSS JOIN (VALUES {wk}) AS wk(k, w)
    ),
    x AS (
      SELECT {by}, bk, SUM(wsum) AS xsum, SUM(wcnt) AS xcnt
      FROM shifted GROUP BY {by}, bk
    )
    SELECT {select_cols},
           CASE WHEN w.e IS NOT NULL
                THEN (CAST(w.sb_cents AS DOUBLE) + COALESCE(x.xsum, 0.0)) / 100.0
           END AS decay_sum,
           CASE WHEN w.e IS NOT NULL
                THEN CAST(w.sb_cnt AS DOUBLE) + COALESCE(x.xcnt, 0.0)
           END AS decay_cnt
    FROM w LEFT JOIN x
      ON w.{by} IS NOT DISTINCT FROM x.{by} AND w.bk = x.bk
    """


def frequency_encode(
    df: DataFrame,
    by,
    ts: str,
    out_col: str = "fe_n_prev",
) -> DataFrame:
    """Leakage-free frequency (count) encoding: how many strictly-earlier
    rows share this row's key tuple (e.g. (user, action) — "how often has
    this user done this before"). Same peer-exclusion rule as the other
    encoders: same-timestamp rows see the same history and never each
    other. Integer window arithmetic — engine-exact; one exchange + one
    sort (both COUNTs share the window spec)."""
    by_l = _as_list(by)
    d = df.withColumn("_epoch", _epoch(df, ts))
    by_sql = ", ".join(by_l)
    incl = (
        f"PARTITION BY {by_sql} ORDER BY _epoch ASC NULLS FIRST "
        f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    peer = (
        f"PARTITION BY {by_sql} ORDER BY _epoch ASC NULLS FIRST "
        f"RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
    )
    # NULL-ts rows (unknown event time — possibly future) contribute
    # nothing to any row's history and get a NULL count themselves, the
    # same rule as expanding_zscore/decayed_features.
    known = "CASE WHEN _epoch IS NOT NULL THEN 1 END"
    d = d.withColumn(
        out_col,
        F.when(
            F.col("_epoch").isNotNull(),
            F.expr(f"COUNT({known}) OVER ({incl}) - COUNT({known}) OVER ({peer})"),
        ),
    )
    return d.drop("_epoch")


def winsorize(
    df: DataFrame,
    by,
    value: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    out_prefix: str = "wz",
) -> DataFrame:
    """Per-group percentile clipping (winsorization): clamp ``value``
    into [quantile(p_lo), quantile(p_hi)] of its group — the standard
    outlier-robust transform applied to heavy-tailed feature columns
    before normalization.

    Plan shape chosen for scale: the quantiles come from a
    groupBy(by).agg(percentile) on ONLY (by, value) — the small result
    (|groups| rows) broadcasts back and the full-width table never
    shuffles (a partition-window formulation would exchange every
    column). The reducer that computes a group's percentile buffers
    that group's values; for near-degenerate grouping (one group owning
    ~all of 10^12 rows) use ``winsorize_global``, which selects the
    same interpolated quantiles via quantiles.global_interpolated_
    quantiles without any single-task buffer (bit-identical bounds,
    tested).

    Cross-engine exactness: same percentile/quantile_cont bit-parity
    contract as expanding_robust_stats (lo + (hi-lo)*frac at p*(n-1),
    measured maxdiff 0.0); clamp is LEAST/GREATEST on bit-equal doubles.
    NULL values pass through unclipped (flag NULL), and percentile
    ignores NULLs on both engines.
    """
    by_l = _as_list(by)
    p = out_prefix
    q = df.select(*by_l, value).groupBy(*by_l).agg(
        F.expr(f"percentile({value}, {float(p_lo)!r})").alias(f"{p}_lo"),
        F.expr(f"percentile({value}, {float(p_hi)!r})").alias(f"{p}_hi"),
    )
    v = F.col(value).cast("double")
    d = df.join(F.broadcast(q), by_l, "left")
    # explicit guard: LEAST/GREATEST *skip* NULLs on both engines, which
    # would silently clamp NULL values to the bounds — pass them through
    ok = v.isNotNull() & F.col(f"{p}_lo").isNotNull() & F.col(f"{p}_hi").isNotNull()
    clipped = F.when(
        ok, F.least(F.greatest(v, F.col(f"{p}_lo")), F.col(f"{p}_hi"))
    ).otherwise(v)
    return d.withColumn(f"{p}_value", clipped).withColumn(
        f"{p}_clipped",
        F.when(ok, (v < F.col(f"{p}_lo")) | (v > F.col(f"{p}_hi"))),
    )


def winsorize_global(
    df: DataFrame,
    value: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    out_prefix: str = "wz",
) -> DataFrame:
    """``winsorize`` for the DEGENERATE grouping (one population owning
    ~all rows, where a per-group percentile reducer would buffer the
    world): the two interpolated quantiles come from
    quantiles.global_interpolated_quantiles — one balanced range
    exchange of the value column + two boundary-rank extractions,
    nothing group-sized in any task — and clamp as driver-side
    LITERALS, so the wide table pays zero shuffle and zero join.
    Bit-identical bounds to percentile/quantile_cont (tested); same
    NULL pass-through contract as winsorize."""
    from .quantiles import global_interpolated_quantiles

    p = out_prefix
    lo, hi = global_interpolated_quantiles(df, value, [float(p_lo), float(p_hi)])
    v = F.col(value).cast("double")
    if lo is None:  # empty population: everything passes through
        return (
            df.withColumn(f"{p}_lo", F.lit(None).cast("double"))
            .withColumn(f"{p}_hi", F.lit(None).cast("double"))
            .withColumn(f"{p}_value", v)
            .withColumn(f"{p}_clipped", F.lit(None).cast("boolean"))
        )
    ok = v.isNotNull()
    clipped = F.when(
        ok, F.least(F.greatest(v, F.lit(lo)), F.lit(hi))
    ).otherwise(v)
    # same output contract as winsorize (drop-in for the one-group case)
    return (
        df.withColumn(f"{p}_lo", F.lit(lo))
        .withColumn(f"{p}_hi", F.lit(hi))
        .withColumn(f"{p}_value", clipped)
        .withColumn(
            f"{p}_clipped", F.when(ok, (v < F.lit(lo)) | (v > F.lit(hi)))
        )
    )
