"""Driver-style correctness harness: run every queries() entry on Spark and
its oracle_sql() on DuckDB over the same sf dir; compare row count, column
names, and order-insensitive values. Used while iterating (the real gate is
the driver's CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb

# this checkout's code, wherever the script is run from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from miru_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, int):
        return int(v)
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--json-out",
        default=None,
        help="write a driver-shaped per-entry result dict (rows_match/"
        "schema_match/hash_match/spark_rows/oracle_rows/err) to this path — "
        "the per-round CORRECTNESS_SELF_r{N}.json full-sweep stamp",
    )
    args = ap.parse_args()
    results: dict[str, dict] = {}

    spark = get_spark("oracle_check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{args.sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.only or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            err = f"spark error: {type(e).__name__}: {str(e)[:300]}"
            print(f"FAIL  {name}: {err}")
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": err,
            }
            continue
        if name not in oracles:
            # rows-only: the weaker check must still be a CHECK — a
            # silently-broken plan returning 0 rows fails here, it does not
            # stamp a tautological True into the judge-facing json
            ok = len(srows) > 0
            if not ok:
                failures.append(name)
                print(f"FAIL  {name}: 0 rows (rows-only entry returned nothing)")
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only) [{time.time()-t0:.1f}s]")
            results[name] = {
                "rows_match": ok, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None, "rows_only": True,
            }
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            err = f"duckdb error: {type(e).__name__}: {str(e)[:300]}"
            print(f"FAIL  {name}: {err}")
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(srows), "oracle_rows": None, "err": err,
            }
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        ok = True
        schema_match = sc == oc
        rows_match = len(sr) == len(orr)
        hash_match = sr == orr
        if not schema_match:
            print(f"FAIL  {name}: columns {sc} vs {oc}")
            ok = False
        elif not rows_match:
            print(f"FAIL  {name}: rowcount {len(sr)} vs {len(orr)}")
            ok = False
        elif not hash_match:
            diffs = [(a, b) for a, b in zip(sr, orr) if a != b][:5]
            print(f"FAIL  {name}: values differ; first diffs: {diffs}")
            ok = False
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(sr),
            "oracle_rows": len(orr), "err": None,
        }
        if ok:
            print(f"OK    {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if args.json_out:
        import json

        with open(args.json_out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {args.json_out}")
    if failures:
        print("failed:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
