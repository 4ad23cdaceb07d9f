"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB against the same sf dir, then compares
row count, column names/dtypes, and (column-name-sorted, row-sorted)
values. Usage:  python tools/verify_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
import math

import duckdb
import pandas as pd


def load_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def values_equal(a, b) -> bool:
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) < 1e-12 or a == b
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if len(sdf) != len(odf):
        errs.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        errs.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return errs
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            errs.append(f"dtype[{c}] spark={s[c].dtype} oracle={o[c].dtype}")
    if len(s) == len(o):
        n_bad = 0
        for c in s.columns:
            sv, ov = s[c].tolist(), o[c].tolist()
            for i, (x, y) in enumerate(zip(sv, ov)):
                if not values_equal(x, y):
                    n_bad += 1
                    if n_bad <= 3:
                        errs.append(f"value[{c}][row{i}] spark={x!r} oracle={y!r}")
        if n_bad > 3:
            errs.append(f"... {n_bad} mismatched cells total")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod
    from keystone_spark import get_session
    from keystone_spark.caches import release

    spark = get_session("verify_oracle", shuffle_partitions=16)
    con = load_duck(sf_dir)

    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    n_ok = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            out = fn(spark, sf_dir)
            sdf = out.toPandas()
            # free what the query's operators materialized, then sweep
            # strays — 170 queries in one JVM otherwise accumulate
            # persisted blocks (same leak bench_registry.run_registry
            # releases; harmless for correctness, bad for memory)
            release(out)
            spark.catalog.clearCache()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            odf = con.execute(os_[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL {name}: " + "; ".join(errs[:6]))
            n_fail += 1
        else:
            print(f"OK   {name} ({len(sdf)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
