"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row-count, schema width, and order-insensitive values.

Usage: python tools/parity_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        elif df[c].dtype == bool:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if len(a) != len(b):
        problems.append(f"rowcount spark={len(a)} oracle={len(b)}")
    if sorted(a.columns) != sorted(b.columns):
        problems.append(f"columns spark={sorted(a.columns)} oracle={sorted(b.columns)}")
        return problems
    na, nb = normalize(a), normalize(b)
    if len(na) == len(nb):
        for c in na.columns:
            ca, cb = na[c], nb[c]
            if str(ca.dtype).startswith("float") or str(cb.dtype).startswith("float"):
                # NaN==NaN counts as agreement: a NULL both engines return
                # arrives here as NaN (pandas coerces nullable numerics to
                # float64), and isclose(nan, nan) is False — without this a
                # genuinely-NULL value would false-fail the gate replica
                bad = [
                    i for i, (x, y) in enumerate(zip(ca, cb))
                    if not (
                        (isinstance(x, float) and isinstance(y, float)
                         and (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                              or (math.isnan(x) and math.isnan(y))))
                        or x == y
                    )
                ]
            else:
                neq = ca.astype(str).values != cb.astype(str).values
                bad = list(neq.nonzero()[0])
            if bad:
                i = bad[0]
                problems.append(
                    f"col {c}: {len(bad)} mismatches, first@{i}: "
                    f"spark={na[c].iloc[i]!r} oracle={nb[c].iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from full_text_index_spark.session import get_spark

    spark = get_spark("parity")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must not read as a clean pass with nothing checked
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        failures += 1
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(got)})")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            failures += 1
            continue
        problems = compare(name, got, exp)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK   {name}: rows={len(got)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
