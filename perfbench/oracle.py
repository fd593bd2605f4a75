"""Compare dumped query results with their DuckDB oracle SQL.

The rules are those of the repository's correctness gate, imported
from tools/check.py: columns compared by sorted name, rows sorted by
all columns, exact equality for non-floats and a 1e-9 relative
tolerance for floats.
"""
import hashlib
import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import TABLES, cells_equal, norm_cell  # noqa: E402


def _plain(v):
    """DuckDB returns list cells as numpy arrays, which check.py's rules
    do not handle; as lists they compare cell by cell."""
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        return _plain(v.tolist())
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def _sort_key(row):
    # tools/check.py's sort key: floats rounded so that rows within the
    # tolerance sort alike on both sides
    def k(v):
        if isinstance(v, float) and not math.isnan(v):
            return repr(round(v, 6))
        if isinstance(v, tuple):
            return "(" + ",".join(k(x) for x in v) + ")"
        return repr(v)
    return tuple(k(v) for v in row)


def _rows(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(_plain(v)) for v in r)
            for r in df[cols].itertuples(index=False)]
    return cols, sorted(rows, key=_sort_key)


def data_fingerprint(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isfile(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isfile(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(dump_dir, data_dir, cache_dir=None):
    """{query: None if it matches its oracle, else a reason} for every
    dumped query that has oracle SQL.  With `cache_dir`, oracle results
    are kept as parquet keyed by the SQL text and the input bytes, so a
    run pays DuckDB only for an oracle it has not seen."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = connect(data_dir)
    fp = data_fingerprint(data_dir) if cache_dir else None
    out = {}
    for name, sql in sorted(oracle.items()):
        got = os.path.join(dump_dir, name)
        if not os.path.isdir(got):
            out[name] = "no result dumped"
            continue
        try:
            if cache_dir:
                key = hashlib.sha256((fp + "\0" + sql).encode()).hexdigest()
                cached = os.path.join(cache_dir, key + ".parquet")
                if not os.path.isfile(cached):
                    os.makedirs(cache_dir, exist_ok=True)
                    tmp = cached + f".{os.getpid()}.tmp"
                    con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
                    os.replace(tmp, cached)
                odf = con.sql(f"SELECT * FROM read_parquet('{cached}')").df()
            else:
                odf = con.sql(sql).df()
            sdf = con.sql(f"SELECT * FROM read_parquet('{got}/*.parquet')").df()
        except Exception as e:  # a failing oracle or unreadable dump
            out[name] = f"load error: {e}"
            continue
        ocols, orows = _rows(odf)
        scols, srows = _rows(sdf)
        if ocols != scols:
            out[name] = f"columns differ oracle={ocols} result={scols}"
        elif len(orows) != len(srows):
            out[name] = f"rowcount oracle={len(orows)} result={len(srows)}"
        else:
            bad = next((i for i, (o, s) in enumerate(zip(orows, srows))
                        if not all(cells_equal(a, b) for a, b in zip(o, s))), None)
            out[name] = None if bad is None else (
                f"row {bad} oracle={orows[bad]} result={srows[bad]}")
    return out


def dumped_rowcounts(dump_dir):
    """{query: rows} for every result dumped under `dump_dir`."""
    con = duckdb.connect()
    out = {}
    for name in sorted(os.listdir(dump_dir)):
        d = os.path.join(dump_dir, name)
        if os.path.isdir(d):
            out[name] = con.sql(
                f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
    return out
