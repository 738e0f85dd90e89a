"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
twin on DuckDB at sf0.01, then compare row count, column names,
order-insensitive values, and integral column types: a column Spark's
schema declares integral must not come back from DuckDB as a float,
DECIMAL or HUGEINT (the value comparison coerces dtypes, so a widened
oracle would otherwise still match).  Usage:

    python tools/check_contract.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import re
import sys
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql.types import IntegralType

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_problems(schema, duck_cols: list[str], duck_types: list) -> list[str]:
    """Columns Spark's schema types as integral whose DuckDB twin is a
    float, DECIMAL or HUGEINT. Read from the Spark schema, not the
    pandas dtype: ``toPandas`` turns a nullable int column holding nulls
    into float64."""
    duck = dict(zip(duck_cols, (str(t) for t in duck_types)))
    return [
        f"dtype {f.name}: spark={f.dataType.simpleString()} duck={duck[f.name]}"
        for f in schema.fields
        if isinstance(f.dataType, IntegralType)
        and f.name in duck
        and re.match(r"(FLOAT|DOUBLE|DECIMAL|U?HUGEINT)", duck[f.name])
    ]


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = normalize(spark_df), normalize(duck_df)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype == "float64" or bv.dtype == "float64":
                av = av.astype("float64")
                bv = bv.astype("float64")
                neq = ~(np.isclose(av, bv, rtol=0, atol=0, equal_nan=True))
                if neq.any():
                    i = int(np.argmax(neq))
                    problems.append(
                        f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                        f"spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                    )
            else:
                neq = ~((av == bv) | (av.isna() & bv.isna()))
                if neq.any():
                    i = int(np.argmax(neq.values))
                    problems.append(
                        f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                        f"spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                    )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from crawl_spark.session import make_session

    spark = make_session("check_contract")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.names or list(qs)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            sq = qs[name](spark, args.sf)
            sdf = sq.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:400]}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            ddf = rel.df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:400]}")
            failed.append(name)
            continue
        problems = dtype_problems(sq.schema, rel.columns, rel.types)
        problems += compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: rows={len(sdf)}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: rows={len(sdf)} match [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - len(failed)}/{len(names)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
