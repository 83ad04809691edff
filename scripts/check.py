#!/usr/bin/env python3
"""Local correctness self-check mirroring the driver's t2 gate:
run graft.Verify output vs DuckDB oracle_sql.json on the same tables.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np


def connect(sfdir):
    """A DuckDB connection with one view per `<sfdir>/*.parquet` table."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sfdir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints -> int64, floats -> float64, bools -> bool
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = connect(sfdir)
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

    fails, passes = [], []
    for name in sorted(oracle):
        resdir = os.path.join(outdir, name)
        files = glob.glob(os.path.join(resdir, "*.parquet"))
        if not files:
            fails.append((name, "no spark output"))
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = canon(con.sql(oracle[name]).df())
        except Exception as e:
            fails.append((name, f"error: {e}"))
            continue
        if list(got.columns) != list(want.columns):
            fails.append((name, f"columns differ: {list(got.columns)} vs {list(want.columns)}"))
            continue
        if len(got) != len(want):
            fails.append((name, f"row count {len(got)} vs {len(want)}"))
            continue
        ok = True
        for c in got.columns:
            g, w = got[c].values, want[c].values
            if pd.api.types.is_float_dtype(got[c]) and pd.api.types.is_float_dtype(want[c]):
                if not np.allclose(g.astype(float), w.astype(float), rtol=0, atol=0, equal_nan=True):
                    # exact mismatch; check approx to classify
                    approx = np.allclose(g.astype(float), w.astype(float), rtol=1e-9, atol=1e-12, equal_nan=True)
                    fails.append((name, f"col {c} float mismatch (approx_ok={approx})"))
                    ok = False
                    break
            else:
                gs, ws = pd.Series(g).astype(str), pd.Series(w).astype(str)
                if not gs.equals(ws):
                    idx = (gs != ws).idxmax()
                    fails.append((name, f"col {c} mismatch at row {idx}: {gs[idx]!r} vs {ws[idx]!r}"))
                    ok = False
                    break
        if ok:
            passes.append((name, len(got)))

    print(f"PASS {len(passes)} / {len(oracle)}")
    for n, r in passes:
        print(f"  ok   {n} ({r} rows)")
    for n, msg in fails:
        print(f"  FAIL {n}: {msg}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
