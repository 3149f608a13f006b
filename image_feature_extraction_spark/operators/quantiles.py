"""Exact distributed quantiles / equi-depth edges.

``exact_quantile_values``: value at exact global rank positions per key —
distributed sort + row_number, then a tiny semi-join on the wanted ranks.
No approximation: unlike percentile_approx/approxQuantile this reproduces
the reference's duplicate handling bit-for-bit and is partition-count
invariant.

This is the distributed backbone of the reference's two-phase histogram
flow (SURVEY.md §3.2): DetermineHistogramBinEdges samples values, sorts,
and picks positions (tools/DetermineHistogramBinEdges_MultiScaleEigenvalue
Features.cxx:283, DetermineEdgesForEqualizedHistogram.h:21-139). The
duplicate-aware edge ADJUSTMENT (which walks positions sequentially) runs
on the collected edge candidates — O(n_bins) driver work — while the rank
selection over billions of rows stays distributed.

Shuffle structure: one hash exchange on the key (the window partition),
one in-partition sort; the rank filter is evaluated inside the window
projection, so only n_bins rows per key leave the stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import _as_list


def exact_quantile_values(
    df: DataFrame,
    value: str,
    keys,
    n_bins: int,
) -> DataFrame:
    """Equi-depth edge positions per key group: for j in 1..n_bins-1 the
    value at 0-based sorted position floor(j * n / n_bins) (n = group row
    count). Deterministic for ties (values equal at a position are equal).

    Returns one row per (keys..., edge_idx) with `edge_value` and the
    group size `n`.

    Null values are excluded before ranking: Spark sorts NULLS FIRST
    while the DuckDB oracle sorts them last, so including them would
    shift every position engine-dependently (and edge_value could come
    back null). n counts non-null values only. NaN still sorts greatest
    in both engines (occupying top ranks) — filter NaN upstream if the
    value column can contain it.
    """
    keys_l = _as_list(keys)
    df = df.where(F.col(value).isNotNull())
    w = Window.partitionBy(*keys_l).orderBy(F.col(value).asc())
    # group count carries the same ordering with a full-partition ROWS
    # frame so it shares ONE Window operator with row_number (an
    # unordered COUNT spec forces a second Window pass; value identical)
    wcnt = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = df.select(
        *keys_l,
        F.col(value),
        (F.row_number().over(w) - 1).alias("_pos"),
        F.count(F.lit(1)).over(wcnt).alias("n"),
    )
    # wanted 0-based positions: floor(j*n/n_bins), j = 1..n_bins-1
    want = F.array(
        *[(F.lit(j) * F.col("n") / F.lit(n_bins)).cast("long") for j in range(1, n_bins)]
    )
    out = (
        ranked.withColumn("_edge_idx", F.array_position(want, F.col("_pos")))
        .where(F.col("_edge_idx") > 0)
        .select(
            *keys_l,
            (F.col("_edge_idx") - 1).cast("int").alias("edge_idx"),
            F.col(value).alias("edge_value"),
            "n",
        )
    )
    # duplicate positions (same pos wanted for several j when n < n_bins)
    # are resolved by array_position returning the FIRST match — callers
    # needing every j should ensure n >= n_bins (the reference throws
    # otherwise, DetermineEdgesForEqualizedHistogram.h:36-38).
    return out


def global_interpolated_quantiles(
    df: DataFrame,
    value: str,
    ps,
    num_partitions: int | None = None,
) -> list:
    """Exact INTERPOLATED quantiles (lo + (hi - lo) * frac at index
    p * (n - 1) — the percentile/quantile_cont contract the encoder
    family relies on) of one global population, computed WITHOUT ever
    buffering that population in a single task.

    This is the degenerate-grouping escape hatch that
    ``encode.winsorize``'s docstring routes to: ``groupBy().agg(
    percentile)`` buffers a whole group's values in one reducer, which
    breaks when one group owns ~all of 10^12 rows. Here the data pays
    ONE balanced range exchange (repartitionByRange on the value) +
    per-partition sorts; the only driver traffic is a P-row partition
    count and the <= 2*len(ps) boundary order statistics. The ranged
    column is persisted so the count pass and the extraction pass see
    the IDENTICAL partitioning (range-boundary sampling re-runs per
    action otherwise) — a one-column cache that spills to disk at
    scale, the standard two-job exact-selection tradeoff.

    NULL values are excluded (both engines' percentile rule), and NaN
    values are excluded too — a DELIBERATE divergence from Spark's
    `percentile` / DuckDB's `quantile_cont`, which sort NaN greatest so
    it occupies the top ranks (p=1.0 over [1,2,3,NaN] returns NaN
    there, 3.0 here). NaN is not a population value, and a NaN clip
    bound would poison every row ``winsorize_global`` touches; callers
    needing the engines' NaN-propagating behavior must handle NaN
    upstream. Consequence: this function and a groupBy-`percentile`
    plan agree only on NaN-free data (the winsorize pair is oracle-
    checked on such data). Probabilities outside [0, 1] raise
    ValueError up front (a bad p would otherwise surface as a KeyError
    from a rank no partition owns). Returns floats (None when the
    population is empty) aligned with ``ps``.
    """
    import math

    for p_ in ps:
        if not 0.0 <= float(p_) <= 1.0:
            raise ValueError(
                f"quantile probability {p_!r} outside [0, 1]: the rank "
                f"p*(n-1) would fall outside every partition"
            )
    sc = df.sparkSession.sparkContext
    P = int(num_partitions or sc.defaultParallelism)
    d = (
        df.select(F.col(value).cast("double").alias("_v"))
        .where(F.col("_v").isNotNull() & ~F.isnan("_v"))
        .repartitionByRange(P, F.col("_v"))
        .sortWithinPartitions("_v")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            int(r["_pid"]): int(r["count"])
            for r in d.groupBy("_pid").count().collect()
        }
        n = sum(counts.values())
        if n == 0:
            return [None for _ in ps]
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        # global 0-based order statistics needed: floor/ceil of p*(n-1)
        needed = set()
        for p_ in ps:
            pos = float(p_) * (n - 1)
            needed.add(int(math.floor(pos)))
            needed.add(min(int(math.ceil(pos)), n - 1))
        # per-partition (sorted) local indices to pull
        by_pid: dict[int, list[int]] = {}
        for g in sorted(needed):
            for pid in sorted(counts):
                if offsets[pid] <= g < offsets[pid] + counts[pid]:
                    by_pid.setdefault(pid, []).append(g - offsets[pid])
                    break

        def extract(batches):
            import pandas as pd

            seen = 0
            want: list[int] | None = None
            off = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if want is None:
                    pid = int(pdf["_pid"].iloc[0])
                    want = by_pid.get(pid, [])
                    off = offsets.get(pid, 0)
                out_g, out_v = [], []
                while want and want[0] < seen + len(pdf):
                    li = want.pop(0)
                    out_g.append(off + li)           # GLOBAL index
                    out_v.append(float(pdf["_v"].iloc[li - seen]))
                if out_g:
                    yield pd.DataFrame({"_g": out_g, "_v": out_v})
                if not want:
                    return  # this partition's wanted ranks are done
                seen += len(pdf)

        # prune partitions that hold no wanted rank JVM-side, so only
        # <= 2*len(ps) of the P cached partitions ever cross into Python
        targeted = d.where(F.col("_pid").isin([int(p) for p in by_pid]))
        vals_at = {
            int(r["_g"]): float(r["_v"])
            for r in targeted.mapInPandas(extract, "_g long, _v double").collect()
        }
        out = []
        for p_ in ps:
            pos = float(p_) * (n - 1)
            i0 = int(math.floor(pos))
            i1 = min(int(math.ceil(pos)), n - 1)
            lo, hi = vals_at[i0], vals_at[i1]
            out.append(lo + (hi - lo) * (pos - i0))
        return out
    finally:
        d.unpersist()
