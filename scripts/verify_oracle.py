"""Local twin of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB at sf0.01, compare row counts + order-insensitive values.

Usage: python scripts/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402
from geospark.session import get_spark, host  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pd) != len(duck_pd):
        problems.append(f"row count {len(spark_pd)} vs {len(duck_pd)}")
        return problems
    a, b = normalize(spark_pd), normalize(duck_pd)
    if list(a.columns) != list(b.columns):
        problems.append(f"columns {list(a.columns)} vs {list(b.columns)}")
        return problems
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            bad = ~(np.isclose(av, bv, rtol=0, atol=0) | (pd.isna(av) & pd.isna(bv)))
        else:
            bad = av != bv
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(
                f"col {c}: {int(bad.sum())} mismatches, first at sorted row {i}: "
                f"{av[i]!r} vs {bv[i]!r}"
            )
    return problems


def main() -> int:
    import gc

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify-oracle")
    # DuckDB gets a quarter of physical memory: the Spark driver shares
    # the host
    duck_mb = host()[1] // 4 // 2**20

    def fresh_con():
        # one connection PER QUERY: a shared connection accumulates
        # buffer-pool state across the 120+ oracles and a full-registry
        # sweep eventually dies with a DuckDB bad-allocation (seen at
        # ~query 60); the per-query connection + an explicit cap keeps
        # the harness memory flat. Views are cheap to re-create.
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{duck_mb}MB'")
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if Path(p).exists():
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return c

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        gc.collect()
        t0 = time.time()
        spark_pd = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if name not in oracles:
            print(f"  {name}: rows={len(spark_pd)} (no oracle, rows-only) "
                  f"spark={t1 - t0:.1f}s")
            continue
        con = fresh_con()
        try:
            duck_pd = con.execute(oracles[name]).fetchdf()
        except duckdb.OutOfMemoryException:
            # big embedded-VALUES oracles (geofence_stream: ~374KB of
            # SQL) can exceed the cap mid-sweep when the process is
            # warm; one retry on a brand-new connection is reliable
            con.close()
            gc.collect()
            con = fresh_con()
            duck_pd = con.execute(oracles[name]).fetchdf()
        con.close()
        problems = compare(name, spark_pd, duck_pd)
        status = "OK" if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"  {name}: {status} rows={len(spark_pd)} spark={t1 - t0:.1f}s "
              f"duck={time.time() - t1:.1f}s" + "".join(f"\n      {p}" for p in problems))
    print("ALL OK" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
