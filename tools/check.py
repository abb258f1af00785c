#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Runs each oracle_sql.json query in DuckDB over the sfDir parquet tables
and compares against the Spark result parquet written by graft.Verify:
row count, column set, and per-column values (exact; floats reported
with max-abs-diff on mismatch for debugging).

With SPARK_GRAFT_ONLY=q1,q2 set (the subset filter graft.Verify reads),
only the named queries must have a result: a named query with no output
still fails, and unnamed oracles are not reported missing.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        spark = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracles:
            results[name] = {"rows": len(spark), "check": "rows-only",
                             "ok": len(spark) > 0}
            continue
        try:
            oracle = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = {"check": "oracle-error", "ok": False, "err": str(e)[:300]}
            continue
        entry = {"rows": len(spark), "oracle_rows": len(oracle), "check": "oracle"}
        ok = True
        if len(spark) != len(oracle):
            entry["mismatch"] = "rowcount"
            ok = False
        elif sorted(spark.columns) != sorted(oracle.columns):
            entry["mismatch"] = f"columns spark={sorted(spark.columns)} oracle={sorted(oracle.columns)}"
            ok = False
        else:
            for c in sorted(spark.columns):
                s, o = spark[c].reset_index(drop=True), oracle[c].reset_index(drop=True)
                # The driver hashes string renderings, so a float64 oracle vs an
                # int64 Spark column ("2894.0" vs "2894") is a hard mismatch there
                # even when the values are numerically equal. Mirror that.
                s_f = np.issubdtype(s.dtype, np.floating)
                o_f = np.issubdtype(o.dtype, np.floating)
                if s_f != o_f:
                    entry.setdefault("dtype_mismatch", {})[c] = f"{s.dtype}/{o.dtype}"
                    ok = False
                if s_f or o_f:
                    sv, ov = s.astype(float).values, o.astype(float).values
                    neq = ~((sv == ov) | (np.isnan(sv) & np.isnan(ov)))
                    if neq.any():
                        entry.setdefault("float_mismatch", {})[c] = {
                            "n": int(neq.sum()),
                            "max_abs": float(np.nanmax(np.abs(sv - ov))),
                            "first_idx": int(np.argmax(neq)),
                            "spark": float(sv[np.argmax(neq)]),
                            "oracle": float(ov[np.argmax(neq)])}
                        ok = False
                else:
                    sa = s.astype(str).values
                    oa = o.astype(str).values
                    neq = sa != oa
                    if neq.any():
                        i = int(np.argmax(neq))
                        entry.setdefault("val_mismatch", {})[c] = {
                            "n": int(neq.sum()), "first_idx": i,
                            "spark": str(sa[i])[:80], "oracle": str(oa[i])[:80],
                            "dtypes": f"{s.dtype}/{o.dtype}"}
                        ok = False
        entry["ok"] = ok
        results[name] = entry
    # A registered oracle with no result dir means the Spark query never
    # produced output (crashed before write) — fail loudly, don't omit.
    # A SPARK_GRAFT_ONLY run expects output for the named queries only.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    expected = oracles if only is None else \
        {n.strip() for n in only.split(",")} - {""}
    for name in expected:
        if name not in results:
            results[name] = {"check": "missing-result", "ok": False}
    n_ok = sum(1 for r in results.values() if r.get("ok"))
    print(json.dumps(results, indent=1, default=str))
    print(f"\n{n_ok}/{len(results)} ok")
    return 0 if n_ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
