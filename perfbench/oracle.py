#!/usr/bin/env python3
"""DuckDB reference results for the curation workload.

Usage: python3 oracle.py <data_dir> <oracle_sql.json> <out_dir>

Runs each row's oracle SQL over the generated `documents` and `embeddings`
tables in <data_dir> and writes <out_dir>/<row>.parquet, with integers as
int64, floats as float64 and any other non-string object as its text, the
same normalisation the repository's oracle check applies. A row whose SQL
fails gets no file; the benchmark then counts that row's operations as
failed.
"""
import json
import os
import sys

import duckdb
import pandas as pd


def canon(df):
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: v if v is None or isinstance(v, str) else str(v))
    return df


def main(data_dir, sql_file, out_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    os.makedirs(out_dir, exist_ok=True)
    status = 0
    for row, sql in json.load(open(sql_file)).items():
        if not sql:
            print(f"{row}: no oracle SQL", file=sys.stderr)
            status = 1
            continue
        try:
            canon(con.sql(sql).df()).to_parquet(os.path.join(out_dir, f"{row}.parquet"), index=False)
        except Exception as e:  # reported per row; the other rows still get checked
            print(f"{row}: {e}", file=sys.stderr)
            status = 1
    return status


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
