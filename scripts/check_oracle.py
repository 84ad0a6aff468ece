#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values (floats compared exactly first, with
max-abs-diff reported on mismatch).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return issues
    if issues:
        return issues
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa = sv.astype("float64").to_numpy()
            da = dv.astype("float64").to_numpy()
            both_nan = np.isnan(sa) & np.isnan(da)
            exact = (sa == da) | both_nan
            if not exact.all():
                bad = ~exact
                diff = np.nanmax(np.abs(sa[bad] - da[bad]))
                issues.append(f"col {c}: {bad.sum()} value mismatches (max abs diff {diff:.3e})")
        else:
            sv2 = sv.where(pd.notna(sv), None)
            dv2 = dv.where(pd.notna(dv), None)
            if not sv2.equals(dv2):
                n_bad = int((~(sv2 == dv2) & ~(pd.isna(sv2) & pd.isna(dv2))).sum())
                ex = next(
                    (i for i in range(len(sv2))
                     if not ((sv2[i] == dv2[i]) or (pd.isna(sv2[i]) and pd.isna(dv2[i])))),
                    None,
                )
                detail = f" e.g. row {ex}: spark={sv2[ex]!r} duck={dv2[ex]!r}" if ex is not None else ""
                issues.append(f"col {c}: {n_bad} value mismatches{detail}")
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # this checkout's engine, wherever the script is started from
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no progress bar: it shares the terminal with the OK/FAIL lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        # bounded writer-lock retry: a stale-but-unexpired lock entry
        # from a crashed sibling harness delays a table row instead of
        # failing it (the r14 bench crash class)
        .config("spark.cdp.lock.wait_seconds", "120")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_pdf)} rows (no oracle — rows-only)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        issues = compare(name, spark_pdf, duck_pdf)
        if issues:
            n_fail += 1
            print(f"FAIL  {name}: " + "; ".join(issues))
        else:
            print(f"OK    {name}: {len(spark_pdf)} rows match exactly")
    spark.stop()
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
