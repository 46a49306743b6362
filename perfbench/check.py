"""Output check for one benchmark run.

For every query of the run's last timed pass the harness dumped the
returned DataFrame to `<out>/<name>/a`. A query with oracle SQL is
compared against that SQL run in DuckDB over the same generated
tables, canonicalized the way `tools/compare.py` does it. A rows-only
query must be non-empty, and its order-insensitive fingerprint must
match that of an independent second run dumped to `<out>/<name>/b`.
"""
import hashlib
import importlib.util
import json
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compare_module():
    path = os.path.join(ROOT, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(frame, canon):
    """Order-insensitive digest of a result: its canonical form's CSV."""
    return hashlib.sha256(canon(frame).to_csv(index=False).encode()).hexdigest()


def check(data_dir, out_dir, names):
    """Returns {query name: failure reason} for the names that fail."""
    compare = _compare_module()
    con = duckdb.connect()
    for t in compare.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name in names:
        def read(side):
            return con.sql(
                f"SELECT * FROM '{out_dir}/{name}/{side}/*.parquet'").df()
        try:
            got = read("a")
            if name in oracle:
                g, w = compare.canon(got), compare.canon(con.sql(oracle[name]).df())
                if list(g.columns) != list(w.columns):
                    bad[name] = f"columns {list(g.columns)} != {list(w.columns)}"
                elif len(g) != len(w):
                    bad[name] = f"rows {len(g)} != oracle {len(w)}"
                elif not g.equals(w):
                    bad[name] = "values differ from oracle"
            elif got.empty:
                bad[name] = "rows-only result is empty"
            elif fingerprint(got, compare.canon) != fingerprint(read("b"), compare.canon):
                bad[name] = "rows-only fingerprint differs between two runs"
        except Exception as e:  # a missing or unreadable dump fails the query
            bad[name] = f"check error: {str(e).splitlines()[0][:160]}"
    return bad
