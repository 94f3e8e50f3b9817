"""Reply checks: DuckDB over the same parquet for statements with an
oracle, shape digests for the rest.

Value comparison follows the engine's correctness gate: columns are
sorted by name, row counts must match, and every value must be equal in
row order (NaN equals NaN). Replies arrive as JSON, so both sides are
first brought to JSON's value space: timestamps and dates become their
ISO text, decimals become floats.
"""
import datetime
import decimal
import math
import os
import re

import duckdb

from .build import TABLES

_TS = re.compile(r"^\d{4}-\d\d-\d\d[ T]\d\d:\d\d(:\d\d(\.\d+)?)?$")


def connect(data_dir):
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False,
                                 "threads": 2})
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def key_ranges(con):
    """What the lookup templates draw literals from: one past the largest
    key of each keyed table, the events' user ids and event types."""
    out = {t: con.execute(f"SELECT MAX({k}) + 1 FROM {t}").fetchone()[0]
           for t, k in [("orders", "o_orderkey"), ("customer", "c_custkey"),
                        ("part", "p_partkey"), ("supplier", "s_suppkey"),
                        ("events", "user_id")]}
    out["event_types"] = [r[0] for r in con.execute(
        "SELECT DISTINCT event_type FROM events ORDER BY 1").fetchall()]
    return out


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, str) and _TS.match(v):
        return datetime.datetime.fromisoformat(v.replace("T", " ")).isoformat(sep=" ")
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def expected(con, sql):
    """(columns, rows) of the oracle statement."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def compare(exp, got_cols, got_rows):
    """None when the reply matches the oracle result, else a reason."""
    ecols, erows = exp
    if sorted(ecols) != sorted(got_cols):
        return f"columns exp={sorted(ecols)} got={sorted(got_cols)}"
    if len(erows) != len(got_rows):
        return f"rows exp={len(erows)} got={len(got_rows)}"
    eidx = {c: i for i, c in enumerate(ecols)}
    gidx = {c: i for i, c in enumerate(got_cols)}
    for c in sorted(ecols):
        for r, (erow, grow) in enumerate(zip(erows, got_rows)):
            a, b = _norm(erow[eidx[c]]), _norm(grow[gidx[c]])
            if a != b:
                return f"col={c} row={r} exp={a!r} got={b!r}"
    return None
