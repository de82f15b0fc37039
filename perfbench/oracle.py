"""Checks the `queries` warm-up pass against the DuckDB oracle: each query's
`SparkEntry.oracleSql` runs in DuckDB over the same parquet tables, and the
engine's parquet output must match it exactly after sorting columns by name
and rows by value (floats compared bit for bit) — the suite's own compare
rule. Returns the (query, reason) pairs that failed."""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders', 'lineitem', 'events',
          'documents', 'embeddings')


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell(v):
    if isinstance(v, float):
        return v.hex() if not math.isnan(v) else 'nan'
    return str(v)


def check(data_dir, out_dir):
    con = duckdb.connect()
    con.execute(f"set temp_directory='{os.path.join(out_dir, 'duckdb-tmp')}'")
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, 'oracle_sql.json')) as f:
        oracle = json.load(f)
    with open(os.path.join(out_dir, 'ran.json')) as f:
        ran = json.load(f)
    bad = []
    for name in ran:
        if name not in oracle:
            continue  # no SQL equivalent: the engine's own specs cover it
        try:
            exp = _canon(con.sql(oracle[name]).df())
            got = _canon(pq.read_table(glob.glob(f'{out_dir}/{name}/*.parquet')).to_pandas())
        except Exception as e:  # an oracle or output error is a failed query
            bad.append((name, str(e)[:200]))
            continue
        if list(exp.columns) != list(got.columns):
            bad.append((name, f'columns {list(exp.columns)} != {list(got.columns)}'))
        elif len(exp) != len(got):
            bad.append((name, f'rows {len(exp)} != {len(got)}'))
        else:
            for c in exp.columns:
                diff = [i for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist()))
                        if _cell(a) != _cell(b)]
                if diff:
                    bad.append((name, f'column {c} differs at row {diff[0]}'))
                    break
    return bad
