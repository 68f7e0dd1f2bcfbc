#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>
       python3 tools/check_correctness.py <sfDir> <verifyOutDir> --against <otherVerifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching oracle SQL from oracle_sql.json in DuckDB against the same
parquet tables, and compares: row count, column-name set, and a hash of
the value matrix with columns sorted by name and rows sorted by value.

With --against, compares two graft.Verify dumps instead (no DuckDB): each
query's results by the same canonical form, and the two oracle_sql.json
files as dicts. Two runs of the same code write different parquet bytes,
so this, not a byte compare, is the equivalence check between two builds.
"""
import json, sys, hashlib
import duckdb
import pandas as pd
import glob
import math

def canon(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        # No float->int normalization: the driver hashes dtype-faithfully,
        # so a DuckDB HUGEINT surfacing as float64 ("727.0") must FAIL here
        # exactly as it fails there (oracle SQL needs an explicit BIGINT cast).
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "isoformat"):
            s = v.isoformat()
            return s
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(rows), list(df.columns), h, rows

def read_dump(out_dir, name):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        raise FileNotFoundError("no spark output")
    return pd.concat([pd.read_parquet(f) for f in sorted(files)])

def diff(got, exp, sides):
    """None when the canonical forms agree, else what differs first."""
    gn, gc, gh, gr = canon(got)
    en, ec, eh, er = canon(exp)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if gn != en:
        return f"rows {gn} vs {en}"
    if gh != eh:
        bad = next((i, a, b) for i, (a, b) in enumerate(zip(gr, er)) if a != b)
        return (f"hash mismatch; first diff row {bad[0]}:\n"
                f"  {sides[0]}={bad[1]}\n  {sides[1]}={bad[2]}")
    return None

def main():
    args = sys.argv[1:]
    other = None
    if "--against" in args:
        i = args.index("--against")
        other = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir, out_dir = args
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    oracles_equal = True
    if other is None:
        con = duckdb.connect()
        for t in ["region","nation","customer","supplier","part","orders","lineitem",
                  "events","documents","embeddings"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        names, sides = sorted(oracle), ("spark", "duck ")
        expected = lambda name: con.execute(oracle[name]).df()
    else:
        other_oracle = json.load(open(f"{other}/oracle_sql.json"))
        oracles_equal = oracle == other_oracle
        changed = sorted(k for k in oracle.keys() | other_oracle.keys()
                         if oracle.get(k) != other_oracle.get(k))
        print("PASS oracle_sql.json: equal as dicts" if oracles_equal else
              f"FAIL oracle_sql.json: {len(changed)} entries differ: {changed[:10]}")
        names, sides = sorted(oracle.keys() | other_oracle.keys()), ("this ", "other")
        expected = lambda name: read_dump(other, name)
    for name in names:
        try:
            got = read_dump(out_dir, name)
            why = diff(got, expected(name), sides)
        except Exception as e:
            why = str(e)
        if why:
            print(f"FAIL {name}: {why}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail or not oracles_equal else 0)

if __name__ == "__main__":
    main()
