#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 dev/compare.py <sfDir> <verifyOutDir>

DuckDB runs under a 2 GB memory limit and spills to
<verifyOutDir>/duckdb_tmp.

Runs each SQL in <verifyOutDir>/oracle_sql.json against DuckDB views over the
sf tables, loads the Spark parquet result, normalizes both (columns sorted by
name, rows sorted by all columns), and reports exact/approx equality per query.
Dev-only tooling — the engine itself is pure Scala/Spark.
"""
import sys, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MEMORY_LIMIT = "2GB"


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # The DRIVER sorts raw object columns (pandas Categorical
            # factorize) and crashes on unhashable cells — an array/list
            # output column is a driver failure even though str-coercion
            # would make it comparable here (bit us in r02's q45).
            if len(df) and any(isinstance(v, (list, np.ndarray)) for v in df[c].head(5)):
                raise TypeError(
                    f"column {c!r} holds array values - the driver's compare "
                    "cannot sort these; project to a scalar in the gate query")
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    # DuckDB's default limit is 80% of RAM, and the big oracle joins
    # (q57, q93 at sf0.1) grow toward it; a fixed limit with a spill
    # directory beside the outputs makes them spill instead
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": f"{outdir}/duckdb_tmp"})
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"SKIP {name}: no spark output")
            n_skip += 1
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
        try:
            e, g = norm(exp), norm(got)
        except TypeError as err:
            print(f"FAIL {name}: {err}")
            n_fail += 1
            continue
        if sorted(e.columns) != sorted(g.columns):
            print(f"FAIL {name}: columns exp={sorted(e.columns)} got={sorted(g.columns)}")
            n_fail += 1
            continue
        if len(e) != len(g):
            print(f"FAIL {name}: rows exp={len(e)} got={len(g)}")
            n_fail += 1
            continue
        bad = []
        for c in e.columns:
            ec, gc = e[c], g[c]
            # Driver hashes typed values, but tolerates width (int32 vs int64
            # were hash-green in r01). It does NOT tolerate kind: DuckDB's
            # HUGEINT surfaces as float64 against Spark's int64 and fails
            # (q07/q08/q09/q13 in r01). So compare dtype KIND only.
            ek = getattr(ec.dtype, "kind", "O")
            gk = getattr(gc.dtype, "kind", "O")
            if ek != gk:
                bad.append(f"{c}: dtype kind exp={ec.dtype} got={gc.dtype}")
                continue
            if np.issubdtype(ec.dtype, np.number) and np.issubdtype(gc.dtype, np.number):
                ev, gv = ec.to_numpy(dtype=float), gc.to_numpy(dtype=float)
                both_nan = np.isnan(ev) & np.isnan(gv)
                neq = ~both_nan & (ev != gv)
                if neq.any():
                    d = np.nanmax(np.abs(ev[neq] - gv[neq]))
                    bad.append(f"{c}: {neq.sum()} diffs, maxabs={d:.3e}")
            else:
                neq = ec.astype(str) != gc.astype(str)
                if neq.any():
                    i = int(np.argmax(neq.to_numpy()))
                    bad.append(f"{c}: {int(neq.sum())} diffs, e.g. exp={ec.iloc[i]!r} got={gc.iloc[i]!r}")
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(e)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} skip")
    sys.exit(1 if n_fail or n_skip else 0)


if __name__ == "__main__":
    main()
