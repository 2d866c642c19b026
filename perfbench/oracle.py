"""DuckDB-oracle answers for the query_mix check, under dev/compare.py's rules.

Each query's oracle answer is computed once (``make`` below), normalized as
dev/compare.py normalizes it (columns sorted by name, object columns as
strings, rows sorted by every column), and stored as JSON next to this
file. A run's untimed check pass writes each query's Spark result as
parquet; ``check_all`` compares them: same columns, same row count, same
dtype kind per column, numbers equal exactly (NaN equal to NaN) and other
values equal as strings.

Regenerate the answers from the oracle SQL (a subset of the dump graft.Verify
writes) over the benchmark's copy of the sf0.1 tables:
    python3 perfbench/oracle.py make perfbench/oracle/oracle_sql.json \
        perfbench/data/sf0.1 perfbench/oracle/sf0.1 q76 q81 q96 q61 q86
"""
import glob
import gzip
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dev"))
from compare import TABLES, norm  # noqa: E402


def encode(df: pd.DataFrame) -> dict:
    cols = {}
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.number):
            vals = [None if math.isnan(v) else v for v in s.to_numpy(dtype=float).tolist()]
        else:
            vals = s.astype(str).tolist()
        cols[c] = {"kind": getattr(s.dtype, "kind", "O"), "values": vals}
    return {"rows": len(df), "columns": cols}


def compare(exp: dict, got: pd.DataFrame) -> list:
    bad = []
    if sorted(exp["columns"]) != sorted(got.columns):
        return [f"columns exp={sorted(exp['columns'])} got={sorted(got.columns)}"]
    if exp["rows"] != len(got):
        return [f"rows exp={exp['rows']} got={len(got)}"]
    for c, e in exp["columns"].items():
        gc = got[c]
        gk = getattr(gc.dtype, "kind", "O")
        if e["kind"] != gk:
            bad.append(f"{c}: dtype kind exp={e['kind']} got={gk}")
            continue
        if np.issubdtype(gc.dtype, np.number):
            ev = np.array([np.nan if v is None else v for v in e["values"]], dtype=float)
            gv = gc.to_numpy(dtype=float)
            neq = ~(np.isnan(ev) & np.isnan(gv)) & (ev != gv)
            if neq.any():
                bad.append(f"{c}: {int(neq.sum())} diffs")
        else:
            neq = np.array(e["values"], dtype=object) != gc.astype(str).to_numpy(dtype=object)
            if neq.any():
                bad.append(f"{c}: {int(neq.sum())} diffs")
    return bad


def check_all(result_dir: str, answer_dir: str) -> list:
    """Failures, one string per query whose Spark result misses its answer."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    answers = sorted(glob.glob(os.path.join(answer_dir, "*.json.gz")))
    names = {os.path.basename(p)[:-len(".json.gz")] for p in answers}
    results = {d for d in os.listdir(result_dir) if os.path.isdir(os.path.join(result_dir, d))}
    failures = [f"{n}: no stored oracle answer" for n in sorted(results - names)]
    if not answers:
        failures.append(f"no oracle answers under {answer_dir}")
    for path in answers:
        name = os.path.basename(path)[:-len(".json.gz")]
        with gzip.open(path, "rt") as fh:
            exp = json.load(fh)
        files = glob.glob(os.path.join(result_dir, name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no result written")
            continue
        try:
            got = norm(con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(result_dir, name)}/*.parquet')").fetchdf())
            bad = compare(exp, got)
        except Exception as e:  # an unreadable result is a failed check
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            failures.append(f"{name}: " + "; ".join(bad))
    return failures


def make(sql_json: str, sf_dir: str, out_dir: str, prefixes: list) -> None:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(sql_json) as fh:
        sqls = json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    for p in prefixes:
        (name,) = [n for n in sqls if n.startswith(p + "_")]
        enc = encode(norm(con.execute(sqls[name]).fetchdf()))
        with gzip.open(os.path.join(out_dir, f"{name}.json.gz"), "wt") as fh:
            json.dump(enc, fh)
        print(f"{name}: {enc['rows']} rows")


if __name__ == "__main__":
    if len(sys.argv) < 5 or sys.argv[1] != "make":
        sys.exit(__doc__)
    make(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:])
