"""Strict driver-mimic parity check.

Runs every registered query's Spark impl and DuckDB oracle at sf0.01 in a
PLAIN SparkSession (no get_spark conveniences — mirrors the driver's
harness), then compares row count, sorted column names, pandas dtypes,
and a value hash computed over the column-name-sorted, row-sorted frame.

The value hash is deliberately dtype-sensitive (hashes the repr of each
canonical cell) so int32-vs-int64-vs-float64-vs-Decimal representation
drift — which the driver's hash caught in round 1 — fails here too.

Usage: python scripts/strict_parity.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con.execute(sql).df()
    finally:
        con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        sort_cols = [c for c in df.columns if df[c].dtype != object] or list(
            df.columns
        )
        df = (
            df.astype({c: str for c in df.columns if df[c].dtype == object})
            .sort_values(by=list(df.columns), kind="mergesort")
            .reset_index(drop=True)
        )
    return df


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        for v in df[c].tolist():
            h.update(repr(v).encode())
    return h.hexdigest()[:16]


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("strict_parity")
        # Overridable to prove results are partition-count-invariant
        # (the driver's shuffle width is unknown):
        #   SPARK_GRAFT_PARTS=17 python scripts/strict_parity.py
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_PARTS", "8"),
        )
        # Default UTC, overridable to prove the registry is
        # timezone-independent (the driver's session tz is unknown):
        #   SPARK_GRAFT_TZ=America/New_York python scripts/strict_parity.py
        .config(
            "spark.sql.session.timeZone",
            os.environ.get("SPARK_GRAFT_TZ", "UTC"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from clickbom_spark.queries import REGISTRY

    args = sys.argv[1:]
    # ADVICE r10: an unknown --flag used to fall through into the name
    # filter, matching zero queries and exiting 0 — a vacuously green
    # gate.  Fail loudly instead.
    unknown = [a for a in args if a.startswith("--")]
    if unknown:
        print(f"unknown flag(s): {' '.join(unknown)} (this script takes "
              "only query names)")
        return 2
    queries = REGISTRY
    only = set(args)
    missing = only - set(queries)
    if missing:
        print(f"no such query name(s): {' '.join(sorted(missing))}")
        return 2
    fails, errs = [], []
    for name, spec in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, SF_DIR).toPandas()
        except Exception as e:
            errs.append(name)
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if spec.oracle is None:
            print(f"ROWS {name}: spark_rows={len(sdf)} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = run_oracle(spec.oracle, SF_DIR)
        except Exception as e:
            errs.append(name)
            print(f"OERR {name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        problems = []
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if not problems:
            s, o = canon(sdf), canon(odf)
            sd = {c: str(s[c].dtype) for c in s.columns}
            od = {c: str(o[c].dtype) for c in o.columns}
            if sd != od:
                problems.append(
                    "dtypes "
                    + str({c: (sd[c], od[c]) for c in sd if sd[c] != od[c]})
                )
            elif value_hash(s) != value_hash(o):
                diff = [c for c in s.columns if not s[c].equals(o[c])]
                problems.append(f"hash (diff cols: {diff})")
        if problems:
            fails.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name} rows={len(sdf)} ({time.time()-t0:.1f}s)")
    print(
        f"\n== {len(fails)} fail, {len(errs)} err "
        f"of {len(only) or len(queries)} checked =="
    )
    if fails:
        print("FAILS:", " ".join(fails))
    if errs:
        print("ERRS:", " ".join(errs))
    return 1 if (fails or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
