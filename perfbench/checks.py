"""Output checks against DuckDB, run outside the timed region.

The comparison is the query-registry gate's, `tools/check.py`: row count,
sorted column names, and its order-insensitive value hash (columns sorted
by name, rows canonicalized to strings with doubles to 12 significant
digits, rows sorted, then SHA-256). Its functions are loaded from that
file, not copied.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

from querytable import CHECKS


def _registry_gate():
    """tools/check.py of this checkout, loaded as a module. Loading it
    prepends its own repository path to sys.path; the path is restored so
    this checkout's package stays the one imported."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "registry_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    path = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = path
    return mod


_gate = _registry_gate()
TABLES = _gate.TABLES
fingerprint = _gate.frame_fingerprint


class Oracle:
    """DuckDB over the generated tables of one scale factor."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def check(self, name: str, df) -> str | None:
        """Run the check for headline query `name` on DataFrame `df`;
        None when it passes, else what differed."""
        kind, sql = CHECKS[name]
        if kind == "oracle":
            from f1_data_pipeline_spark.queries import ORACLE

            rows = [tuple(r) for r in df.collect()]
            res = self.con.execute(ORACLE[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if len(rows) != len(drows):
                return f"rows {len(rows)} vs oracle {len(drows)}"
            if sorted(df.columns) != sorted(dcols):
                return f"columns {sorted(df.columns)} vs oracle {sorted(dcols)}"
            if fingerprint(df.columns, rows) != fingerprint(dcols, drows):
                return "value hash differs from oracle"
            return None
        got, want = df.count(), self.scalar(sql)
        if kind == "rows" and got != want:
            return f"rows {got}, expected {want}"
        if kind == "min_rows" and got < want:
            return f"rows {got}, expected at least {want}"
        return None
