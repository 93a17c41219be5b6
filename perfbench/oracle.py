"""Output check against DuckDB, with the comparison scripts/check.py makes:
the Spark output (one parquet file) and the DuckDB result of the oracle SQL
over the same parquet tables must have the same column names (sorted), the
same row count, the same arrow types, and equal rows in result order."""
import glob
import os

import duckdb
import pyarrow.parquet as pq


def compare(con, out_dir, sql):
    """None when the output matches, else the reason it does not."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return "no spark output"
    spark_tbl = pq.read_table(files[0])
    try:
        duck_tbl = con.sql(sql).arrow()
    except Exception as e:  # the oracle itself failing is a failed check
        return f"oracle error: {e}"
    s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f"cols spark={s_cols} duck={d_cols}"
    s, d = spark_tbl.select(s_cols), duck_tbl.select(d_cols)
    if s.num_rows != d.num_rows:
        return f"rows spark={s.num_rows} duck={d.num_rows}"
    diff = [(c, str(s.schema.field(c).type), str(d.schema.field(c).type))
            for c in s_cols
            if str(s.schema.field(c).type) != str(d.schema.field(c).type)]
    if diff:
        return f"schema {diff}"
    for i, (a, b) in enumerate(zip(s.to_pylist(), d.to_pylist())):
        if a != b:
            return f"row {i}: spark={a} duck={b}"
    return None


def check_all(data_dir, checks, workload):
    """Map item index -> failure reason (None = passed) for every check
    entry the benchmark JVM wrote. A plan item without oracle SQL was
    compiled (winner found and lowered) but not executed; any other item
    must carry oracle SQL."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    result = {}
    for c in checks:
        i = int(c["item"])
        if "error" in c:
            result[i] = c["error"]
        elif "oracle" in c:
            result[i] = compare(con, c["dir"], c["oracle"])
        else:
            result[i] = None if workload == "plan" else "no oracle SQL"
    return result
