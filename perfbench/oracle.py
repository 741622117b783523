"""DuckDB oracle for the benchmark's results.

Runs each query's ``SparkEntry.oracleSql`` over views named after the
generated tables and compares with graft's result the way
``scripts/verify_local.py`` does: columns sorted by name, rows sorted,
exact values, and the same dtype class per column.
"""
import glob
import math
import os

import duckdb


def _connect(data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def expected(data_dir, sqls):
    """name -> expected DataFrame (or the oracle's error message)."""
    con, out = _connect(data_dir), {}
    for name, sql in sorted(sqls.items()):
        try:
            out[name] = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a mismatch, not a crash
            out[name] = f"oracle error: {e}"
    return out


def _tclass(dt):
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "timestamp", "m": "interval"}.get(dt.kind, "obj")


def _rows(df, cols):
    return sorted((tuple(x.item() if hasattr(x, "item") else x for x in row)
                   for row in df[cols].itertuples(index=False)), key=repr)


def _same(a, b):
    return repr(a) == repr(b) or all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and math.isnan(x) and math.isnan(y))
        for x, y in zip(a, b))


def compare(result_dir, exp):
    """None when graft's parquet result equals ``exp``, else the reason."""
    if isinstance(exp, str):
        return exp
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result"
    got = duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{os.path.join(result_dir, '*.parquet')}')").fetchdf()
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"schema {gcols} vs {ecols}"
    drift = [c for c in gcols if _tclass(got[c].dtype) != _tclass(exp[c].dtype)]
    if drift:
        return f"dtype drift in {drift}"
    g, e = _rows(got, gcols), _rows(exp, ecols)
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for i, (a, b) in enumerate(zip(g, e)):
        if not _same(a, b):
            return f"row {i}: graft {a!r} vs duckdb {b!r}"
    return None
