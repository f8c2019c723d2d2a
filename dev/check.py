#!/usr/bin/env python3
"""Dev-only oracle checker (mimics the driver's t2 protocol, stricter).

Usage: python3 dev/check.py <sfDir> <verifyOutDir>

Registers each testdata parquet as a DuckDB view, runs every SQL in
oracle_sql.json, and compares to the Spark-written parquet in
<verifyOutDir>/<name>/ — columns sorted by name, rows sorted by all
columns, exact value equality (with NaN==NaN).

Each PASS/FAIL line names a short sha256 of the oracle's canonical rows
and columns, so a change to the oracle texts is checked by `diff` of two
runs' outputs: equal digests mean equal rows.
"""
import sys, json, math, glob, hashlib
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for stable sort/compare across dtypes
    def cell(v):
        if isinstance(v, float):
            if math.isnan(v): return "NaN"
            return repr(v)  # full precision
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows), list(df.columns)

def digest(rows, cols):
    """Short sha256 of canon()'s output."""
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        label = name
        try:
            drows, dcols = canon(con.execute(sql).df())
            label = f"{name} [{digest(drows, dcols)}]"
            files = glob.glob(f"{outdir}/{name}/*.parquet")
            if not files:
                print(f"FAIL {label}: no spark output"); n_fail += 1; continue
            sdf = pd.concat([pd.read_parquet(f) for f in sorted(files)])
            srows, scols = canon(sdf)
            if scols != dcols:
                print(f"FAIL {label}: columns spark={scols} duck={dcols}"); n_fail += 1; continue
            if len(srows) != len(drows):
                print(f"FAIL {label}: rowcount spark={len(srows)} duck={len(drows)}"); n_fail += 1; continue
            if srows != drows:
                bad = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
                print(f"FAIL {label}: value mismatch, first diffs:")
                for a, b in bad:
                    print(f"  spark={a}\n  duck ={b}")
                n_fail += 1; continue
            print(f"PASS {label} ({len(srows)} rows)"); n_pass += 1
        except Exception as e:
            print(f"FAIL {label}: {type(e).__name__}: {e}"); n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed of {len(oracle)}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
