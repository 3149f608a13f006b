"""Self-check harness mirroring the driver's correctness gate.

Runs every queries() entry at sf0.01 (or $SF_DIR) side by side with its
oracle_sql() in DuckDB, compares row count, column names, and values
(order-insensitive: rows sorted by all columns, columns sorted by name).
Floats compared exactly first, then with np.allclose fallback — both results
are reported so exact-hash risks are visible.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns alphabetical; rows sorted with NON-float columns as the
    primary keys (float-first sorting could misalign rows between engines
    when a leading float differs by 1 ulp, turning an allclose-tolerable
    delta into a spurious mismatch on the exact columns)."""
    df = df[sorted(df.columns)].copy()
    keys = [c for c in df.columns if df[c].dtype.kind != "f"] + [
        c for c in df.columns if df[c].dtype.kind == "f"
    ]
    return df.sort_values(keys, kind="stable").reset_index(drop=True)


def wire_risks(df: pd.DataFrame) -> list[str]:
    """Columns whose pandas representation is hash-fragile for the driver:
    object dtype holding non-string values (Decimal, lists, ints-from-HUGEINT)
    sorts/hashes engine-dependently. Final projections must land as int64,
    float64, str, or bool on BOTH sides."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            nonnull = df[c].dropna()
            if len(nonnull) and not all(isinstance(x, str) for x in nonnull):
                bad.append(f"{c}:{type(nonnull.iloc[0]).__name__}")
    return bad


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    if len(spark_df) != len(duck_df):
        return f"ROWCOUNT MISMATCH spark={len(spark_df)} duck={len(duck_df)}"
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"SCHEMA MISMATCH {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    risks = [f"spark[{r}]" for r in wire_risks(spark_df)] + [
        f"duck[{r}]" for r in wire_risks(duck_df)
    ]
    if risks:
        return f"WIRE-TYPE RISK {risks}"
    a, b = normalize(spark_df), normalize(duck_df)
    dt_bad = [
        c
        for c in a.columns
        if a[c].dtype.kind != b[c].dtype.kind
        and not (a[c].dtype.kind in "iu" and b[c].dtype.kind in "iu")
    ]
    if dt_bad:
        return (
            "DTYPE MISMATCH "
            + str([(c, str(a[c].dtype), str(b[c].dtype)) for c in dt_bad])
        )
    exact_bad = []
    close_bad = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ae, be = av.to_numpy(dtype=float), bv.to_numpy(dtype=float)
            both_nan = np.isnan(ae) & np.isnan(be)
            eq = (ae == be) | both_nan
            if not eq.all():
                exact_bad.append(c)
                if not np.allclose(
                    np.nan_to_num(ae, nan=1e300), np.nan_to_num(be, nan=1e300), rtol=1e-9
                ):
                    close_bad.append(c)
        else:
            av2 = av.astype(str)
            bv2 = bv.astype(str)
            if not (av2 == bv2).all():
                exact_bad.append(c)
                close_bad.append(c)
    if close_bad:
        i = a.index[~(a[close_bad[0]].astype(str) == b[close_bad[0]].astype(str))]
        ex = (
            a.loc[i[:3], close_bad].to_dict("records"),
            b.loc[i[:3], close_bad].to_dict("records"),
        ) if len(i) else "?"
        return f"VALUE MISMATCH cols={close_bad} example={ex}"
    if exact_bad:
        return f"OK (allclose; exact-hash risk on {exact_bad})"
    return "OK (exact)"


# verdict prefixes that fail the sweep; "OK (allclose; ...)" passes but is
# reported, so exact-hash risks stay visible
FAILING = ("ROWCOUNT", "SCHEMA", "VALUE", "WIRE", "DTYPE", "SPARK", "DUCKDB", "EMPTY")


def open_duckdb(sf_dir: str):
    """DuckDB connection with one view per parquet table under sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(spark, con, sf_dir: str, name: str, fn, oracle: str | None) -> str:
    """Verdict for one registered query: its Spark result against its
    oracle SQL in DuckDB, or a row count when it has no oracle."""
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as e:
        return f"SPARK ERROR: {type(e).__name__}: {e}"
    if oracle is None:
        return f"rows-only: {len(sdf)} rows" if len(sdf) else "EMPTY: rows-only, 0 rows"
    try:
        ddf = con.sql(oracle).df()
    except Exception as e:
        return f"DUCKDB ERROR: {type(e).__name__}: {e}"
    return f"{compare(name, sdf, ddf)}  ({len(sdf)} rows)"


def main():
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

    import __spark_entry__ as entrymod
    from image_feature_extraction_spark.session import get_spark

    spark = get_spark(app_name="check-oracle")
    con = open_duckdb(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"UNKNOWN QUERY NAMES: {sorted(unknown)}")
        sys.exit(2)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        verdict = check(spark, con, sf_dir, name, fn, oracles.get(name))
        print(f"{name:28s} {verdict}  {time.time()-t0:.1f}s")
        failures += verdict.startswith(FAILING)
    spark.stop()
    print(f"\n{'PASS' if failures == 0 else 'FAIL'} ({failures} failures)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
