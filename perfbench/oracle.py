"""Output checks against the DuckDB oracle (`SparkEntry.oracleSql`).

Results are canonicalised by the engine's own oracle gate
(scripts/check_oracle.py, imported from the checkout): columns sorted by
name, rows sorted, floats at full round-trip precision, so a one-ulp
difference fails; decimal and timestamp output columns fail as they do
there. This module adds what the benchmark's outputs need: hive-partitioned
and empty Spark outputs, and materialized CTEs.
"""
import glob
import json
import os
import re
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from check_oracle import BANNED_TYPES, canon  # noqa: E402


def read_spark(path):
    """A Spark parquet output dir (hive partition columns included). An
    output with no rows may have no data files: (None, []). Raises on a
    column type the gate bans."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if files:
        tbl = pq.read_table(files)
    elif glob.glob(os.path.join(path, "*=*", "*.parquet")):
        tbl = pq.read_table(path, partitioning="hive")
    else:
        return None, []
    bad = [f.name for f in tbl.schema if any(b in str(f.type).lower() for b in BANNED_TYPES)]
    if bad:
        raise ValueError(f"decimal/timestamp columns {bad}")
    cols = tbl.schema.names
    rows = list(zip(*[tbl.column(c).to_pylist() for c in cols])) if tbl.num_rows else []
    return cols, rows


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for f in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def materialized(sql):
    """The same query with every CTE marked MATERIALIZED. Results are
    unchanged; without it DuckDB re-evaluates the dedup CTEs inside each
    step of the recursive connected-components CTE (about 10x slower)."""
    return re.sub(r"(^|\n|, ?|RECURSIVE )(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def compare(con, sql, out_dir):
    """(ok, detail) for one query: the DuckDB result vs the Spark output."""
    try:
        res = con.execute(materialized(sql))
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    except Exception as e:  # the oracle itself failing is a failed check
        return False, f"oracle error: {str(e).splitlines()[0][:200]}"
    try:
        spark_cols, spark_rows = read_spark(out_dir)
    except Exception as e:
        return False, f"spark output unreadable: {e}"
    if spark_cols is None:  # no data files: right only if the oracle has no rows
        return not duck_rows, f"rows duck={len(duck_rows)} spark=0"
    if sorted(duck_cols) != sorted(spark_cols):
        return False, f"columns duck={sorted(duck_cols)} spark={sorted(spark_cols)}"
    a, b = canon(duck_rows, duck_cols), canon(spark_rows, spark_cols)
    if a == b:
        return True, f"{len(a)} rows"
    diff = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    return False, f"rows duck={len(a)} spark={len(b)}, first difference at row {diff}"


def check_dir(input_dir, results_dir, outputs):
    """Compare each named output under results_dir with its oracle SQL.

    `outputs` maps an output dir name to the oracle query name. Returns
    {output name: (ok, detail)}."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = connect(input_dir)
    try:
        return {out: compare(con, sqls[q], os.path.join(results_dir, out))
                for out, q in outputs.items()}
    finally:
        con.close()
