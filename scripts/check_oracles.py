"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and compare row-count / schema / order-insensitive
values against the DuckDB oracle_sql() twin.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(6)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from doctr_spark.session import get_spark

    spark = get_spark(cores=8, app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        a, b = canon(spark_pdf), canon(duck_pdf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_rows = neq.any(axis=1)
            failures.append(name)
            print(f"FAIL  {name}: {int(bad_rows.sum())}/{len(a)} rows differ; first diffs:")
            print(pd.concat([a[bad_rows].head(3), b[bad_rows].head(3)]))
            continue
        print(f"OK    {name}: {len(a)} rows ({time.time() - t0:.1f}s)")

    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
