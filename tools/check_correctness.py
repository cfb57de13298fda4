"""Local mimic of the driver's t2 correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema,
and order-insensitive values.

Usage: python tools/check_correctness.py [--sf DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("Int", "UInt")):
            df[c] = df[c].astype("float64" if df[c].isna().any() else "int64")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    # Mimic the driver's value-hash sensitivity: post-normalization dtype
    # divergence (e.g. DuckDB HUGEINT -> float64 vs Spark int64) is a failure
    # even when values compare equal as floats.
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            problems.append(f"dtype {c}: spark={a[c].dtype} duck={b[c].dtype}")
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype("float64")
            bv = bv.astype("float64")
            both_nan = av.isna() & bv.isna()
            # Zero-sign sensitivity: the driver's value-hash distinguishes
            # -0.0 from +0.0 even though they compare == equal (r7's one
            # red, embeddings_covariance). copysign(1, x) differs exactly
            # when the sign bit differs.
            import numpy as np

            same_sign = np.copysign(1.0, av.fillna(0.0)) == np.copysign(
                1.0, bv.fillna(0.0)
            )
            eq = ((av == bv) & same_sign) | both_nan
            if not eq.all():
                n_bad = int((~eq).sum())
                idx = (~eq).idxmax()
                problems.append(
                    f"col {c}: {n_bad} value diffs, e.g. row {idx}: "
                    f"spark={av[idx]!r} duck={bv[idx]!r} (delta={abs(av[idx]-bv[idx]) if not (math.isnan(av[idx]) or math.isnan(bv[idx])) else 'nan'})"
                )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                n_bad = int((~eq).sum())
                idx = (~eq).idxmax()
                problems.append(
                    f"col {c}: {n_bad} value diffs, e.g. row {idx}: spark={av[idx]!r} duck={bv[idx]!r}"
                )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None,
                    help="also write per-query results to this JSON file "
                         "(the committed CORRECTNESS_LOCAL_r{N} artifact)")
    args = ap.parse_args()

    import __spark_entry__ as E
    from polars_order_book_spark.session import get_spark

    spark = get_spark("check-correctness")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    if only:
        unknown = only - set(qs)
        if unknown:
            raise SystemExit(
                f"--only names not in the registry: {sorted(unknown)} — a "
                "typo here would print '0 pass, 0 fail' and exit 0 without "
                "verifying anything (r8 review)"
            )

    n_pass = n_fail = 0
    results: dict = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            results[name] = {"status": "fail", "error": f"spark: {str(e)[:300]}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(spark_pdf)} rows)")
            results[name] = {"status": "rows_only", "rows": len(spark_pdf)}
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            results[name] = {"status": "fail", "error": f"duckdb: {str(e)[:300]}"}
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        dt = time.time() - t0
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({dt:.1f}s, {len(spark_pdf)} rows):")
            for p in problems[:5]:
                print(f"    {p}")
            results[name] = {"status": "fail", "rows": len(spark_pdf),
                             "sec": round(dt, 1), "problems": problems[:5]}
        else:
            n_pass += 1
            print(f"PASS {name} ({dt:.1f}s, {len(spark_pdf)} rows)")
            results[name] = {"status": "pass", "rows": len(spark_pdf),
                             "sec": round(dt, 1)}
    print(f"\n{n_pass} pass, {n_fail} fail")
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump({"sf": args.sf, "n_pass": n_pass, "n_fail": n_fail,
                       "queries": results}, f, indent=1, sort_keys=True)
        print(f"wrote {args.json}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
