"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet dir, then compares row count, column names and
order-insensitive values. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rowcount: spark={len(sdf)} oracle={len(odf)}")
    s, o = norm(sdf), norm(odf)
    if len(s) == len(o):
        for c in s.columns:
            sv, ov = s[c], o[c]
            if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
                eq = np.isclose(sv.fillna(0), ov.fillna(0), rtol=0, atol=0, equal_nan=True)
                exact = (sv.values == ov.values) | (sv.isna().values & ov.isna().values)
                if not exact.all():
                    diff = np.abs(sv.fillna(0).values - ov.fillna(0).values).max()
                    problems.append(f"col {c}: {int((~exact).sum())} float diffs, max={diff:.3e}")
            else:
                try:
                    neq = ~((sv == ov) | (sv.isna() & ov.isna()))
                except Exception:
                    neq = pd.Series([True] * len(sv))
                if neq.any():
                    i = int(neq.idxmax())
                    problems.append(
                        f"col {c}: {int(neq.sum())} diffs, first@{i}: spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
                    )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from eventstore_spark.schema import query_scope
    from eventstore_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # each query's caches are released once its result is read, so
            # the sweep does not pile them up
            with query_scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: SPARK ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: ORACLE ERROR\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"   {p}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_weak} rows-only, {n_fail} FAIL ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
