"""Output checks: DuckDB oracles for catalog queries and an
order-independent digest for the note dump.

``normalize``/``frames_match`` follow the repository's parity contract:
columns sorted by name, datetimes at microseconds, floats as float64,
integer widths unified, rows sorted, then exact equality with NULL
matching NULL.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


def duck_connection(lake_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(lake_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _hashable(v):
    if isinstance(v, (list, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    return v


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s) or (
            s.dtype == object and all(isinstance(v, int) for v in s.dropna().head(5))
        ):
            try:
                out[c] = s.astype("float64")
            except (TypeError, ValueError):
                pass
        elif s.dtype == object:
            out[c] = s.map(_hashable)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """``None`` when equal after normalization, else the first difference."""
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        eq = (av == bv) | (av.isna() & bv.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"{c}: {(~eq).sum()} mismatches, first {av.iloc[i]!r} vs {bv.iloc[i]!r}"
    return None


def note_digest(notes) -> tuple[int, int]:
    """``(rows, digest)`` of NOTE-shaped rows (a pandas frame or an Arrow
    table): the sum of one hash per row, so independent of row order,
    over columns cast to one type each, so independent of the integer
    widths and date types either side uses."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("notes", notes)
        rows, digest = con.sql(
            "SELECT count(*), sum(hash(NOTE_ID::BIGINT, PERSON_ID::BIGINT, "
            "NOTE_DATE::DATE, PROVIDER_ID::BIGINT, NOTE_TEXT::VARCHAR)) FROM notes"
        ).fetchone()
    finally:
        con.close()
    return rows, int(digest or 0)
