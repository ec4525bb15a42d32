#!/usr/bin/env python3
"""Dev-only mirror of the driver's DuckDB-oracle compare (not part of the
engine; the engine is pure Scala/Spark). Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/selfcheck.py /tmp/verify_out /root/testdata/sf0.01

Every entry listed in <out>/verify_errors.json counts as a failure: Verify
could not write it, so <out>/<name> can only hold an earlier run's output.
"""
import duckdb, json, sys, glob

out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_out'
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f'{out}/oracle_sql.json'))
# Entries Verify could not build or write: whatever parquet <out>/<name>
# holds is an earlier run's, so these fail without a compare.
try:
    errors = json.load(open(f'{out}/verify_errors.json'))
except FileNotFoundError:
    errors = {'verify_errors.json': 'MISSING (Verify writes it on every run)'}
fails = [(name, f'VERIFY ERROR {msg}') for name, msg in sorted(errors.items())
         if not only or name in only]
for name, sql in sorted(oracle.items()):
    if (only and name not in only) or name in errors:
        continue
    spark_files = glob.glob(f'{out}/{name}/*.parquet')
    if not spark_files:
        fails.append((name, 'NO SPARK OUTPUT'))
        continue
    try:
        got = con.sql(f"SELECT * FROM '{spark_files[0]}'").df()
        exp = con.sql(sql).df()
    except Exception as e:
        fails.append((name, f'SQL ERROR {e}'))
        continue
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        fails.append((name, f'COLS got={list(got.columns)} exp={list(exp.columns)}'))
        continue
    if len(got) != len(exp):
        fails.append((name, f'ROWS got={len(got)} exp={len(exp)}'))
        continue
    if not got.astype(str).equals(exp.astype(str)):
        neq = (got.astype(str) != exp.astype(str)).any(axis=1)
        idx = neq[neq].index[:3]
        fails.append((name,
                      f'VALUES differ at rows {list(idx)}:\nGOT\n{got.loc[idx]}\nEXP\n{exp.loc[idx]}'))
    else:
        print(f'OK   {name} ({len(got)} rows)')
for name, msg in fails:
    print(f'FAIL {name}: {msg}')
n = len(only) if only else len(set(oracle) | set(errors))
print(f'\n{n - len(fails)}/{n} pass')
sys.exit(1 if fails else 0)
