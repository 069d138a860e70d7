"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark at sf0.01 and compare against oracle_sql() in
DuckDB (row count, schema width, and exact sorted values)."""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name, sdf, osql, con):
    pdf_s = normalize(sdf.toPandas())
    pdf_o = normalize(con.sql(osql).df())
    if len(pdf_s) != len(pdf_o):
        return f"ROWS {len(pdf_s)} vs {len(pdf_o)}"
    if list(pdf_s.columns) != list(pdf_o.columns):
        return f"COLS {list(pdf_s.columns)} vs {list(pdf_o.columns)}"
    for c in pdf_s.columns:
        a, b = pdf_s[c], pdf_o[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            bad = [(x, y) for x, y in zip(a, b)
                   if not (x == y or (isinstance(x, float) and isinstance(y, float)
                                      and math.isclose(x, y, rel_tol=0, abs_tol=1e-9)))]
        else:
            bad = [(x, y) for x, y in zip(a.astype(str), b.astype(str)) if x != y]
        if bad:
            return f"VALUES col={c}: {bad[:3]} ({len(bad)} diffs)"
    return None


def main(only=None, json_out=None):
    from medcat_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"create view {t} as select * from '{p}'")

    qs = entry.queries()
    os_ = entry.oracle_sql()
    fails = 0
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        mode = "oracle"
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            if name in os_:
                err = compare(name, sdf, os_[name], con)
            else:
                mode = "rows-only"
                n = sdf.count()
                err = None
                print(f"  [rows-only] {name}: {n} rows", flush=True)
        except Exception as e:
            err = f"EXCEPTION {type(e).__name__}: {e}"
        dt = time.time() - t0
        results[name] = {"status": "fail" if err else "ok", "mode": mode,
                         "sec": round(dt, 2), "err": err}
        if err:
            fails += 1
            print(f"FAIL {name} ({dt:.1f}s): {err}", flush=True)
        else:
            print(f"ok   {name} ({dt:.1f}s)", flush=True)
    print(f"\n{fails} failures / {len(qs)} queries")
    if json_out:
        import json
        with open(json_out, "w") as f:
            json.dump({"sf_dir": SF_DIR, "ts_unix": round(time.time(), 1),
                       "n_queries": len(results), "n_failures": fails,
                       "queries": results}, f, indent=1)
        print(f"wrote {json_out}")
    spark.stop()
    return fails


if __name__ == "__main__":
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sys.exit(1 if main(set(argv) or None, json_out=json_out) else 0)
