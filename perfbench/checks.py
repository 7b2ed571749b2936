"""Correctness gates. Each returns a list of error strings (empty = pass),
so one failed comparison fails the run and says why.

The expected side never comes from the program under test: DuckDB runs
the registered oracle SQL, and the CDC expectation is the per-key argmax
computed here from the op files that were landed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import pyarrow.parquet as pq

MAX_REPORTED = 5


def _norm(v):
    # the oracle-parity normalisation of tests/test_oracle_parity.py
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.12g}"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_mismatch(data_dir: str, tables, oracle_sql: str, cols, rows) -> str | None:
    """Compare a query's collected rows with its DuckDB oracle over the
    same parquet files: column set, row count, order-insensitive values."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        rel = con.sql(oracle_sql)
        ocols, orows = rel.columns, rel.fetchall()
    finally:
        con.close()
    if sorted(cols) != sorted(ocols):
        return f"column sets differ: {sorted(cols)} vs {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"row counts differ: {len(rows)} vs oracle {len(orows)}"
    bad = [(a, b) for a, b in zip(_rowset(cols, rows), _rowset(ocols, orows)) if a != b]
    return f"value mismatches: {bad[:MAX_REPORTED]}" if bad else None


# ---------------------------------------------------------------------------
# cdc_stream
# ---------------------------------------------------------------------------


def cdc_model(paths) -> dict[int, tuple]:
    """Per-key argmax over every op in ``paths``: key -> (seq, op, v),
    highest seq first, a delete winning a seq tie."""
    model: dict[int, tuple] = {}
    for p in paths:
        t = pq.read_table(p)
        for k, s, o, v in zip(*(t.column(c).to_pylist() for c in ("k", "seq", "op", "v"))):
            cur = model.get(k)
            if cur is None or (s, o == "D") > (cur[0], cur[1] == "D"):
                model[k] = (s, o, v)
    return model


def cdc_state_mismatch(rows, model: dict) -> list[str]:
    """``rows``: (k, seq, op, v) rows of the applied state (deletes
    included as op='D' rows); ``model``: the expected argmax per key."""
    got = {r["k"]: (r["seq"], r["op"], r["v"]) for r in rows}
    errs = []
    missing, extra = sorted(set(model) - set(got)), sorted(set(got) - set(model))
    if missing:
        errs.append(f"{len(missing)} keys missing, e.g. {missing[:MAX_REPORTED]}")
    if extra:
        errs.append(f"{len(extra)} unexpected keys, e.g. {extra[:MAX_REPORTED]}")
    wrong = [(k, got[k], model[k]) for k in sorted(set(got) & set(model)) if got[k] != model[k]]
    if wrong:
        errs.append(f"{len(wrong)} keys with the wrong latest op, e.g. {wrong[:MAX_REPORTED]}")
    return errs


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(
            os.path.getsize(os.path.join(d, f)) for f in files if not f.startswith(("_", "."))
        )
    return total

