"""Correctness gates, computed independently of the engine.

The lake oracle is last-writer-wins written as one DuckDB query over the
changelog parquet the benchmark generated; the engine's Spark code paths
(normalization, LWW, merge-on-read) play no part in it.
"""

from __future__ import annotations

import duckdb

# strip the characters Python's str.strip() strips, then lower; '' -> NULL
_CLEAN_SOURCE = (
    "nullif(lower(trim(source, chr(32)||chr(9)||chr(10)||chr(11)||chr(12)||chr(13))), '')"
)


def lww_state(files: list[str], *, below_seq: int | None = None, keys: list[str] | None = None) -> dict:
    """doc_id -> (tokens, n_tok, source) of the live rows after applying
    every event in ``files`` (with ``event_sequence < below_seq``) in
    sequence order; deletes remove the key."""
    where = []
    params: list = [files]
    if below_seq is not None:
        where.append("event_sequence < ?")
        params.append(below_seq)
    if keys is not None:
        where.append("list_contains(?, doc_id)")
        params.append(list(keys))
    sql = f"""
        WITH ev AS (
            SELECT event_sequence, op, doc_id, tokens, {_CLEAN_SOURCE} AS source
            FROM read_parquet(?)
            {"WHERE " + " AND ".join(where) if where else ""}
        ), win AS (
            SELECT * FROM ev
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_sequence DESC) = 1
        )
        SELECT doc_id, tokens, len(tokens) AS n_tok, source FROM win WHERE op <> 'delete'
    """
    with duckdb.connect() as con:
        rows = con.execute(sql, params).fetchall()
    return {d: (tuple(t), int(n), s) for d, t, n, s in rows}


def lake_rows(rows) -> dict:
    """Spark rows of the lake's public schema, in the oracle's shape."""
    return {
        r["doc_id"]: (tuple(r["tokens"]), None if r["n_tok"] is None else int(r["n_tok"]), r["source"])
        for r in rows
    }


def diff_count(got: dict, want: dict) -> int:
    """Keys missing, extra, or carrying a different row."""
    return sum(1 for k in got.keys() | want.keys() if got.get(k) != want.get(k))


def _cell(v):
    """One value in a comparable form: floats rounded to 6 decimals,
    arrays element-wise, nulls (None/NaN/NA) as None."""
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NA or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return round(float(v), 6)
    return str(v)


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted((tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False)), key=repr)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def frames_match(got, want) -> str | None:
    """None when two pandas frames hold the same rows in any order, with
    the same column names; otherwise the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for i, (a, b) in enumerate(zip(_rows(got), _rows(want))):
        if not _close(a, b):
            return f"sorted row {i}: {a!r} vs {b!r}"
    return None
