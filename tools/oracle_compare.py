#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, load the Spark parquet result, sort columns by
name + rows by value, and compare row counts, int/float column kinds and
value hashes. The kind check matters because the value normalisation below
prints 0 and 0.0 alike, while a hash of the raw values tells them apart."""
import duckdb, json, glob, sys, math
import pandas as pd
from decimal import Decimal

OUT = sys.argv[1] if len(sys.argv) > 1 else '/tmp/vout4'
SF = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'

sqls = json.load(open(f'{OUT}/oracle_sql.json'))
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm_cell(v):
    if v is None: return 'NULL'
    if isinstance(v, float):
        if math.isnan(v): return 'NaN'
        return f'{v:.9g}'
    if isinstance(v, Decimal):
        return f'{float(v):.9g}'
    if isinstance(v, (int,)): return str(v)
    if isinstance(v, bool): return str(v).lower()
    return str(v)

def num_kind(dtype):
    """'int' or 'float' for a numeric pandas dtype, else None (not compared)."""
    return {'i': 'int', 'u': 'int', 'f': 'float'}.get(dtype.kind)

def canon(df):
    df = df[sorted(df.columns)]
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows)

fails, passes, noora = [], 0, []
for name in sorted(glob.glob(f'{OUT}/*/')):
    q = name.rstrip('/').split('/')[-1]
    files = glob.glob(f'{OUT}/{q}/*.parquet')
    if not files: continue
    spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if q not in sqls:
        noora.append((q, len(spark)))
        continue
    try:
        ora = con.execute(sqls[q]).fetchdf()
    except Exception as e:
        fails.append((q, f'ORACLE ERROR: {e}'))
        continue
    if len(ora) != len(spark):
        fails.append((q, f'rows {len(spark)} vs oracle {len(ora)}'))
        continue
    if sorted(ora.columns) != sorted(spark.columns):
        fails.append((q, f'schema {sorted(spark.columns)} vs {sorted(ora.columns)}'))
        continue
    kinds = [(c, num_kind(spark[c].dtype), num_kind(ora[c].dtype))
             for c in sorted(spark.columns)]
    bad = [(c, ks, ko) for c, ks, ko in kinds if ks and ko and ks != ko]
    if bad:
        fails.append((q, f'DTYPE MISMATCH (column, spark, oracle) {bad}'))
        continue
    cs, co = canon(spark), canon(ora)
    if cs != co:
        diff = [(a,b) for a,b in zip(cs,co) if a != b][:3]
        fails.append((q, f'VALUE MISMATCH e.g. {diff}'))
    else:
        passes += 1

print(f'PASS {passes}  NO_ORACLE {len(noora)}  FAIL {len(fails)}')
for q, n in noora: print(f'  no_oracle {q} rows={n}')
for q, msg in fails: print(f'  FAIL {q}: {msg}')
