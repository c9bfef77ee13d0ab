"""Local stand-in for the driver's DuckDB oracle gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same sf dir, sorts columns by name and rows by value, and diffs. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def schema_kinds(df: pd.DataFrame) -> dict:
    """Coarse per-column type kinds, taken BEFORE normalization.

    The driver compares Spark-vs-DuckDB Arrow schemas, so tz-aware vs naive
    timestamps (TIMESTAMPTZ vs TIMESTAMP) is a hard mismatch even when the
    instants agree — exactly the class that made url_dedup red in r4 while
    the old tz_localize(None) normalization here reported OK. Distinguish
    ts-tz from ts; bucket numerics coarsely (the driver tolerates width)."""
    kinds = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            kinds[c] = "ts-tz" if getattr(s.dtype, "tz", None) is not None else "ts"
        elif pd.api.types.is_bool_dtype(s):
            kinds[c] = "bool"
        elif pd.api.types.is_float_dtype(s):
            kinds[c] = "float"
        elif pd.api.types.is_integer_dtype(s):
            kinds[c] = "int"
        else:
            kinds[c] = "obj"
    return kinds


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        try:
            if pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        except (TypeError, OverflowError):
            pass
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from logai_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sraw = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        sdf = normalize(sraw)
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            draw = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            continue
        ddf = normalize(draw)
        skind, dkind = schema_kinds(sraw), schema_kinds(draw)
        bad = {c for c in set(skind) & set(dkind) if skind[c] != dkind[c]}
        if bad:
            failures.append(name)
            print(
                f"FAIL {name}: schema kinds differ "
                f"{ {c: (skind[c], dkind[c]) for c in sorted(bad)} }"
            )
            continue
        if list(sdf.columns) != list(ddf.columns):
            failures.append(name)
            print(f"FAIL {name}: columns spark={list(sdf.columns)} duckdb={list(ddf.columns)}")
            continue
        if len(sdf) != len(ddf):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(sdf)} duckdb={len(ddf)}")
            continue
        eq = True
        if len(sdf) == 0:
            print(f"OK   {name}: 0 rows (both empty)")
            continue
        for c in sdf.columns:
            a, b = sdf[c], ddf[c]
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                ok = (a.astype(float).fillna(-9e99) - b.astype(float).fillna(-9e99)).abs().max() <= 1e-9
            else:
                ok = a.astype(str).equals(b.astype(str))
            if not ok:
                eq = False
                diff = (a.astype(str) != b.astype(str))
                i = diff.idxmax()
                print(f"FAIL {name}: col {c} differs at sorted row {i}: spark={a[i]!r} duckdb={b[i]!r}")
                break
        if eq:
            print(f"OK   {name}: {len(sdf)} rows")
        else:
            failures.append(name)
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
