"""Checks collected results against the DuckDB oracle with the rules of
tools/compare.py: columns compared by name, rows in order, cell by cell,
NaN-aware and list-aware, and an integer column never equal to a float
column."""
import math

import duckdb
import numpy as np
import pandas as pd


def connect(tables, temp_dir):
    """A DuckDB connection with one view per {name: parquet path}, spilling,
    if it must, under `temp_dir`."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def _equal(a, b):
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, (list, tuple)) or "ndarray" in str(type(a)):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(_equal(x, y) for x, y in zip(la, lb))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def diff(got, want):
    """None when the frames match, else a one-line reason."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"rowcount {len(got)} != oracle {len(want)}"
    for c in got.columns:
        gi, wi = (pd.api.types.is_integer_dtype(got[c]),
                  pd.api.types.is_integer_dtype(want[c]))
        gf, wf = (pd.api.types.is_float_dtype(got[c]),
                  pd.api.types.is_float_dtype(want[c]))
        if (gi and wf) or (gf and wi):
            return f"dtype col={c} {got[c].dtype} vs oracle {want[c].dtype}"
    for c in got.columns:
        if _column_equal(got[c], want[c]):
            continue
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _equal(a, b):
                return f"col={c} row={i} got={a!r} oracle={b!r}"
    return None


def _column_equal(g, w):
    """A vectorized True when two columns are equal under _equal's rules;
    False means "not shown equal", and the caller compares cell by cell."""
    a, b = g.to_numpy(), w.to_numpy()
    if a.dtype.kind in "iub" and b.dtype.kind in "iub":
        return bool((a == b).all())
    if a.dtype.kind == "f" and b.dtype.kind == "f":
        return bool(((a == b) | (np.isnan(a) & np.isnan(b))).all())
    try:
        return bool(g.equals(w))
    except (TypeError, ValueError):
        return False


def check(con, sql, result_path):
    """None when the parquet result at `result_path` equals the oracle.
    Safe to call from several threads on one connection."""
    try:
        want = con.cursor().execute(sql).fetchdf()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {str(e).splitlines()[0][:200]}"
    return diff(pd.read_parquet(result_path), want)
