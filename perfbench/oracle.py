"""DuckDB oracle comparison for analytics_mix ops.

The canonical form is the one of graft's tools/oracle_compare.py: columns
sorted by name, every value rendered with str() (None as "null"), rows
sorted by all columns. A query's oracle result is computed once per run,
outside the timed ops, and each op's saved rows are compared with it.
"""
import os

import duckdb


def canon(df):
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        df[c] = df[c].map(lambda v: "null" if v is None else str(v))
    return df.sort_values(by=cols).reset_index(drop=True)


def connect(data_dir):
    """A DuckDB connection with one view per parquet table in data_dir."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM parquet_scan('{data_dir}/{f}')")
    return con


def mismatch(got, exp):
    """None when the canonical forms agree, else why they differ."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"schema: spark={list(g.columns)} oracle={list(e.columns)}"
    if len(g) != len(e):
        return f"rows: spark={len(g)} oracle={len(e)}"
    if not g.equals(e):
        diff = (g != e).any(axis=1)
        i = diff[diff].index[0]
        return f"row {i}: spark={g.loc[i].to_dict()} oracle={e.loc[i].to_dict()}"
    return None


class Oracle:
    def __init__(self, data_dir, sql_by_query):
        self.con = connect(data_dir)
        self.sql = sql_by_query
        self.expected = {}

    def check(self, query, rows_dir):
        """Failures of one op whose rows were saved as parquet in rows_dir."""
        if query not in self.expected:
            self.expected[query] = self.con.execute(self.sql[query]).fetchdf()
        got = self.con.execute(f"SELECT * FROM parquet_scan('{rows_dir}/*.parquet')").fetchdf()
        why = mismatch(got, self.expected[query])
        return [] if why is None else [f"oracle mismatch: {why}"]
