"""Oracle gate: compare a member's written output with its `Registry.oracles`
SQL run by DuckDB over the same generated input.

The comparison rules are those of the repo's tools/check_oracle.py (imported
from there, not copied): column names sorted, rows sorted, exact values, then
the pandas CSV rendering that the correctness hashes are taken over.
"""
import glob
import importlib.util
import os

import duckdb
import pyarrow.parquet as pq

_rules = None


def rules(repo):
    global _rules
    if _rules is None:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(repo, "tools", "check_oracle.py"))
        _rules = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_rules)
    return _rules


def connect(input_dir):
    """DuckDB views over every table of `input_dir` (file or part directory)."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def compare(repo, con, sql, out_path):
    """None if the output at `out_path` matches the oracle, else the reason.
    Also returns the sorted Spark and DuckDB rows for finer attribution."""
    r = rules(repo)
    spark_tbl = pq.read_table(out_path)
    duck = con.execute(sql).fetch_arrow_table()
    sc, dc = sorted(spark_tbl.column_names), sorted(duck.column_names)
    if sc != dc:
        return f"columns {sc} vs {dc}", None, None
    _, sr = r.rows_of(spark_tbl)
    _, dr = r.rows_of(duck)
    if len(sr) != len(dr):
        return f"rows {len(sr)} vs {len(dr)}", sr, dr
    diff = sum(1 for a, b in zip(sr, dr) if a != b)
    if diff:
        return f"{diff}/{len(sr)} rows differ", sr, dr
    if r.csv_render(spark_tbl) != r.csv_render(duck):
        return "values equal but CSV renderings differ (dtype skew)", sr, dr
    return None, sr, dr
