#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare Verify output
parquet dirs against DuckDB oracle results (columns sorted by name, rows
sorted by all columns).

usage: check_oracle.py <out_dir> <sf_dir> [query ...]
With query names, only those queries are checked. Exits 1 on any failure.
"""
import duckdb, json, sys, os

if len(sys.argv) < 3:
    sys.exit(__doc__)
out_dir, sf_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
con = duckdb.connect()
for t in ["documents", "embeddings", "lineitem", "orders", "events", "region",
          "nation", "customer", "supplier", "part"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name in sorted(only - oracle.keys()):
    print(f"UNKNOWN QUERY {name}"); fails += 1
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    pdir = f"{out_dir}/{name}"
    if not os.path.isdir(pdir):
        print(f"MISSING OUTPUT {name}"); fails += 1; continue
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
        duck_df = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"ERROR {name}: {e}"); fails += 1; continue
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        print(f"SCHEMA MISMATCH {name}: {list(s.columns)} vs {list(d.columns)}")
        fails += 1; continue
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    d = d.sort_values(by=list(d.columns)).reset_index(drop=True)
    if len(s) != len(d):
        print(f"ROWCOUNT MISMATCH {name}: spark={len(s)} duck={len(d)}")
        fails += 1; continue
    try:
        eq = s.astype(str).equals(d.astype(str))
    except Exception:
        eq = False
    if not eq:
        print(f"VALUE MISMATCH {name} ({len(s)} rows)")
        diff = (s.astype(str) != d.astype(str)).any(axis=1)
        for i in diff[diff].index[:3]:
            print(f"  row {i}: spark={s.iloc[i].tolist()} duck={d.iloc[i].tolist()}")
        fails += 1
    else:
        print(f"OK {name} ({len(s)} rows)")
print(f"\n{'ALL OK' if fails == 0 else str(fails) + ' FAILURES'}")
sys.exit(1 if fails else 0)
