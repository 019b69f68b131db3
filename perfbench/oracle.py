"""DuckDB oracle check of the benchmark's collected results.

Each query's rows from the last pass (written by the client as parquet)
are compared with the query's oracle SQL run in DuckDB over the same
inputs, with the rule and the helpers of tools/check.py: same column names,
same row count, rows sorted, floats equal within rtol 1e-5 and atol 1e-8.
Staged paths in the oracle SQL, written against `/tmp/graft_stage/sf0.01/`,
are pointed at the run's own staging directory, as graft.Verify does for
other scales.
"""
import glob
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# the comparison rule is the repository's own oracle check
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import TABLES, eq, norm  # noqa: E402

STAGE_PREFIX = "/tmp/graft_stage/sf0.01/"


def _sort_key(row):
    # as tools/check.py: non-float values first (every query carries a
    # deterministic key), coarsely rounded floats last so ulp noise cannot
    # reorder rows
    stable = tuple(str(x) for x in row if not isinstance(x, float))
    floats = tuple(f"{x:.2e}" for x in row if isinstance(x, float))
    return stable, floats


def compare(spark_tbl, duck_tbl):
    """None when the tables match, else the reason they do not."""
    scols, dcols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if scols != dcols:
        return f"schema mismatch: graft={scols} oracle={dcols}"
    if spark_tbl.num_rows != duck_tbl.num_rows:
        return f"row count mismatch: graft={spark_tbl.num_rows} oracle={duck_tbl.num_rows}"
    srows = sorted((tuple(norm(r[c]) for c in scols) for r in spark_tbl.to_pylist()),
                   key=_sort_key)
    drows = sorted((tuple(norm(r[c]) for c in dcols) for r in duck_tbl.to_pylist()),
                   key=_sort_key)
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        if not all(eq(a, b) for a, b in zip(sr, dr)):
            return f"value mismatch at sorted row {i}: graft={sr} oracle={dr}"
    return None


def check(queries, oracle_sql, data_dir, stage_dir, results_dir):
    """Returns {query: reason} for every query whose result is missing,
    empty or different from the oracle's."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    failures = {}
    for q in queries:
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            failures[q] = "no result from the last pass"
            continue
        spark_tbl = pa.concat_tables([pq.read_table(f) for f in files])
        if spark_tbl.num_rows == 0:
            failures[q] = "empty result"
            continue
        sql = oracle_sql[q].replace(STAGE_PREFIX, stage_dir.rstrip("/") + "/")
        try:
            duck_tbl = con.sql(sql).arrow()
        except duckdb.Error as e:
            failures[q] = f"oracle SQL error: {e}"
            continue
        reason = compare(spark_tbl, duck_tbl)
        if reason is not None:
            failures[q] = reason[:300]
    con.close()
    return failures
