"""Output checks: each query's Spark result against DuckDB SQL over the
same generated parquet.

Registry rows use the registry checker's own normalisation and
comparison (``tools/check_oracle.py``: row count, column names, column
types, then order-insensitive values at its float rounding).  The
``flox_big`` rows are too large for row tuples, so they compare as
arrays: both sides sorted by their key columns, keys exactly, values
within a relative 1e-9, NaN and null alike.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow as pa


def duck(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        src = f"{data_dir}/{t}.parquet"
        if t == "big":
            src += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _py_rows(tbl: pa.Table) -> list[tuple]:
    cols = []
    for c in tbl.columns:
        vals = c.to_pylist()
        if pa.types.is_timestamp(c.type) and c.type.tz is not None:
            vals = [
                v.astimezone(dt.timezone.utc).replace(tzinfo=None) if v is not None else None
                for v in vals
            ]
        cols.append(vals)
    return list(zip(*cols))


def registry_mismatch(sdf, result: pa.Table, con, sql: str) -> str | None:
    """None when ``result`` (the collected ``sdf``) matches the oracle,
    else a one-line reason."""
    from tools.check_oracle import rows_key, type_mismatches

    orel = con.sql(sql)
    orows = orel.fetchall()
    srows = _py_rows(result)
    if len(srows) != len(orows):
        return f"rows {len(srows)} != {len(orows)}"
    if sorted(result.column_names) != sorted(orel.columns):
        return f"columns {sorted(result.column_names)} != {sorted(orel.columns)}"
    tmis = type_mismatches(sdf, orel)
    if tmis:
        return f"types {tmis}"
    a = rows_key(srows, result.column_names)
    b = rows_key(orows, orel.columns)
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return f"{len(bad)} value diffs, first {bad[0]}" if bad else None


def _sorted_arrays(tbl: pa.Table, keys: list[str]) -> dict[str, np.ndarray]:
    """Every column as float64 (null -> NaN) in key order; the outputs
    compared this way hold ids, group labels and doubles, all exact in
    float64."""
    tbl = tbl.take(pc.sort_indices(tbl, [(k, "ascending") for k in keys]))
    return {
        c: pc.cast(tbl[c], pa.float64()).to_numpy(zero_copy_only=False)
        for c in tbl.column_names
    }


def numeric_mismatch(result: pa.Table, con, sql: str) -> str | None:
    """Array comparison for large numeric outputs: the columns that are
    not floating point on the oracle side are keys and must match
    exactly, the rest within a relative 1e-9."""
    want = con.sql(sql).arrow()
    if result.num_rows != want.num_rows:
        return f"rows {result.num_rows} != {want.num_rows}"
    if sorted(result.column_names) != sorted(want.column_names):
        return f"columns {sorted(result.column_names)} != {sorted(want.column_names)}"
    keys = [c for c in want.column_names if not pa.types.is_floating(want[c].type)]
    a = _sorted_arrays(result.select(want.column_names), keys)
    b = _sorted_arrays(want, keys)
    for c in want.column_names:
        x, y = a[c], b[c]
        if c in keys:
            same = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            same = np.isclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True)
        if not same.all():
            i = int(np.argmin(same))
            return f"{c}: {int((~same).sum())} diffs, first {x[i]!r} != {y[i]!r}"
    return None
