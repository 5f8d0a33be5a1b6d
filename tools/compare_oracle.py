"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same sf dir; compares row count, column names and
an order-insensitive value hash (columns sorted by name, rows sorted,
values stringified with float rounding). Usage:

    python tools/compare_oracle.py [--strict] [sf_dir] [query ...]

``--strict`` replicates the DRIVER's exact stringified-value hash:
floats round to 9 dp then every value stringifies as-is — NO
int-cast normalization and NO rtol retry — so a dtype drift the
driver would flag (e.g. DuckDB SUM(BIGINT) -> HUGEINT -> pandas
float64 "148.0" vs Spark int64 "148") fails here too instead of
being absorbed by check_dtype=False.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # bytes / lists → repr
            df[c] = df[c].map(lambda v: v.tolist() if isinstance(v, np.ndarray) else v)
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(int)
        try:
            if pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        except (TypeError, OverflowError):
            pass
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def strict_strings(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-hash emulation: sort columns, round floats to 9 dp,
    stringify EVERYTHING (dtype differences become string diffs)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.tolist() if isinstance(v, np.ndarray) else v)
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as E
    from osmnightwatch_spark.session import get_spark

    spark = get_spark("oracle-compare", cores=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in os_:
            print(f"ROWS  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            exp = con.execute(os_[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        if strict:
            g, x = strict_strings(got), strict_strings(exp)
        else:
            g, x = norm(got), norm(exp)
        ok_cols = list(g.columns) == list(x.columns)
        ok_rows = len(g) == len(x)
        ok_vals = ok_cols and ok_rows and g.equals(x)
        if not ok_vals and ok_cols and ok_rows and not strict:
            # float tolerance retry (non-strict only)
            try:
                pd.testing.assert_frame_equal(g, x, check_dtype=False,
                                              rtol=1e-9, atol=1e-9)
                ok_vals = True
            except AssertionError:
                pass
        status = "OK  " if ok_vals else "FAIL"
        print(f"{status}  {name}: spark={len(g)} duckdb={len(x)} cols_match={ok_cols} "
              f"[{time.time()-t0:.1f}s]")
        if not ok_vals:
            failures.append(name)
            if ok_cols and ok_rows:
                neq = (g != x).any(axis=1)
                print("   first diffs (spark vs duckdb):")
                print(pd.concat([g[neq].head(3), x[neq].head(3)], axis=1))
            else:
                print("   spark cols:", list(g.columns), "duckdb cols:", list(x.columns))
                print(g.head(3)); print(x.head(3))
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
