"""Output checks of the query workloads, run after the timed passes.

A query with a DuckDB oracle is compared with it on the same tables by
the rule of `tools/check_oracle.py`: columns sorted by name, DuckDB
type parity, the same row count, and every value equal in emitted
order (floats exactly). A query without an oracle must return rows,
with the column names and types recorded in `expected_schemas.json`.
"""
import glob
import json
import math
import os

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
SCHEMAS = os.path.join(HERE, "expected_schemas.json")


def _norm(v):
    if isinstance(v, (list, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if v is None:
        return "None"
    return v


def _eq(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    if isinstance(a, (int, np.integer)) and isinstance(b, (int, np.integer)):
        return int(a) == int(b)
    return str(a) == str(b)


def _schema(con, res):
    rel = con.sql(f"SELECT * FROM read_parquet('{res}/*.parquet') LIMIT 0")
    return sorted([c, str(t)] for c, t in zip(rel.columns, rel.types))


def oracle_diff(con, res, sql):
    """None when the result directory `res` matches the oracle SQL."""
    got = con.sql(f"SELECT * FROM read_parquet('{res}/*.parquet')").df()
    exp = con.sql(sql).df()
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    gt = dict((c, t) for c, t in _schema(con, res))
    et = con.sql(f"SELECT * FROM ({sql}) q LIMIT 0")
    et = dict(zip(et.columns, map(str, et.types)))
    bad = {c: (gt.get(c), et.get(c)) for c in gt if gt.get(c) != et.get(c)}
    if bad:
        return f"types {bad}"
    if len(got) != len(exp):
        return f"{len(got)} rows != oracle {len(exp)}"
    try:  # equal frames pass; anything else gets the cell-by-cell rule
        if got.reset_index(drop=True).equals(exp.reset_index(drop=True)):
            return None
    except (TypeError, ValueError):
        pass
    for i, (gr, er) in enumerate(zip(got.itertuples(index=False), exp.itertuples(index=False))):
        for j, (g, e) in enumerate(zip(gr, er)):
            if not _eq(_norm(g), _norm(e)):
                return f"row {i} {got.columns[j]}: {g!r} != oracle {e!r}"
    return None


def check_queries(data_dir, check_dir, names, oracles):
    """Maps each query name that fails its check to the reason."""
    with open(SCHEMAS) as f:
        schemas = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for n in names:
        res = os.path.join(check_dir, n)
        if not glob.glob(f"{res}/*.parquet"):
            bad[n] = "no result written"
            continue
        try:
            if n in oracles:
                why = oracle_diff(con, res, oracles[n])
            elif n not in schemas:
                why = "no expected schema recorded"
            elif con.sql(f"SELECT count(*) FROM read_parquet('{res}/*.parquet')").fetchone()[0] == 0:
                why = "empty result"
            elif _schema(con, res) != schemas[n]:
                why = f"schema {_schema(con, res)} != expected {schemas[n]}"
            else:
                why = None
        except Exception as e:  # a check that cannot run is a failed check
            why = f"{type(e).__name__}: {e}".splitlines()[0]
        if why:
            bad[n] = why
    return bad
