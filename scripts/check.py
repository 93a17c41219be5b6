#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query result
parquet written by graft.Verify, run the oracle SQL in DuckDB over the same
source tables and compare schema + values exactly (columns sorted by name,
rows in result order). Usage: check.py <sfDir> <verifyOutDir>"""
import atexit, json, sys, glob, os, shutil, tempfile
import duckdb
import pyarrow.parquet as pq

sf_dir, out_dir = sys.argv[1], sys.argv[2]
# DuckDB spills to `.tmp/` under the working directory by default; the
# largest oracles spill gigabytes, so give it a fresh directory outside
# the checkout and remove it at exit.
spill_dir = tempfile.mkdtemp(prefix="check_duckdb_spill_")
atexit.register(shutil.rmtree, spill_dir, ignore_errors=True)
con = duckdb.connect(config={"temp_directory": spill_dir})
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes, skips = [], [], []
for qdir in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(qdir.rstrip("/"))
    files = glob.glob(f"{qdir}/*.parquet")
    if not files:
        fails.append((name, "no spark output"))
        continue
    spark_tbl = pq.read_table(files[0])
    if name not in oracle:
        skips.append((name, spark_tbl.num_rows))
        continue
    try:
        duck_tbl = con.sql(oracle[name]).arrow()
    except Exception as e:
        fails.append((name, f"oracle error: {e}"))
        continue
    s_cols = sorted(spark_tbl.column_names)
    d_cols = sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        fails.append((name, f"cols spark={s_cols} duck={d_cols}"))
        continue
    s = spark_tbl.select(s_cols)
    d = duck_tbl.select(d_cols)
    if s.num_rows != d.num_rows:
        fails.append((name, f"rows spark={s.num_rows} duck={d.num_rows}"))
        continue
    schema_diff = [
        (c, str(s.schema.field(c).type), str(d.schema.field(c).type))
        for c in s_cols
        if str(s.schema.field(c).type) != str(d.schema.field(c).type)
    ]
    if schema_diff:
        fails.append((name, f"schema {schema_diff}"))
        continue
    sp, dp = s.to_pylist(), d.to_pylist()
    bad = None
    for i, (a, b) in enumerate(zip(sp, dp)):
        if a != b:
            bad = (i, a, b)
            break
    if bad:
        fails.append((name, f"row {bad[0]}: spark={bad[1]} duck={bad[2]}"))
    else:
        passes.append(name)

print(f"PASS ({len(passes)}): {' '.join(passes)}")
print(f"ROWS-ONLY ({len(skips)}): {' '.join(f'{n}={r}' for n, r in skips)}")
print(f"FAIL ({len(fails)}):")
for n, why in fails:
    print(f"  {n}: {str(why)[:400]}")
sys.exit(1 if fails else 0)
