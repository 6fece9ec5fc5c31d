"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: numpy's PCG64 draws
the values and pyarrow writes them as parquet, so the same seed gives
byte-identical inputs and another seed gives inputs of the same size and
shape with different content.

``tpch_like`` writes the sf0.1-shaped tables the registry queries read
(``lineitem events embeddings``), with the value
domains, duplicate structure and row counts of the repository's test
tables.  ``long_array`` writes the ``flox_big`` long-format array.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.1 test tables
SF01_ROWS = {
    "lineitem": 600_000,
    "events": 100_000,
    "embeddings": 2_000,
}

def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the draws of another
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _strings(codes: np.ndarray, labels: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(codes.astype(np.int32)), pa.array(labels)
    ).cast(pa.string())


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def lineitem(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n).astype(np.float64)
    day = r.integers(0, 2499, n)
    return pa.table({
        "l_orderkey": r.integers(0, n // 4, n),
        "l_partkey": r.integers(0, n // 30, n),
        "l_suppkey": r.integers(0, max(n // 600, 1), n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _strings(r.integers(0, 3, n), ["A", "N", "R"]),
        "l_linestatus": _strings(r.integers(0, 2, n), ["F", "O"]),
        "l_shipdate": _ts("1995-01-02", day * 86400.0),
    })


def events(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "events")
    secs = np.sort(r.uniform(0.0, 30 * 86400.0, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": r.integers(0, max(n * 3 // 200, 1), n),
        "event_type": _strings(
            r.integers(0, 5, n), ["click", "error", "purchase", "signup", "view"]
        ),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    r = _rng(seed, "embeddings")
    x = r.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": vecs,
        "label": r.integers(0, 10, n).astype(np.int32),
    })


GENERATORS = {
    "lineitem": lineitem,
    "events": events,
    "embeddings": embeddings,
}


def tpch_like(seed: int, out_dir: str, tables: list[str]) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each named sf0.1 table;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        t = GENERATORS[name](seed, SF01_ROWS[name])
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# flox_big shape: one row per array element, ~30 elements per
# high-cardinality group, 6 coarse groups, 5 % NaN values and 1 %
# missing labels in each grouper
BIG_ROWS_PER_HK = 30
BIG_NAN_FRAC = 0.05
BIG_NULL_LABEL_FRAC = 0.01


def long_array(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "long_array")
    v = r.standard_normal(n) * 10.0 + 100.0
    v[r.random(n) < BIG_NAN_FRAC] = np.nan
    k = r.integers(0, 6, n)
    hk = r.integers(0, max(n // BIG_ROWS_PER_HK, 1), n)
    return pa.table({
        "id": np.arange(n, dtype=np.int64),
        "k": pa.array(k, mask=r.random(n) < BIG_NULL_LABEL_FRAC),
        "hk": pa.array(hk, mask=r.random(n) < BIG_NULL_LABEL_FRAC),
        "v": v,
    })


def write_long_array(seed: int, n: int, out_dir: str, parts: int = 8) -> int:
    """Write the array as ``<out_dir>/big.parquet/part-NNNNN.parquet``
    in ``id`` order, split into ``parts`` files so the scan splits
    across cores."""
    path = os.path.join(out_dir, "big.parquet")
    os.makedirs(path, exist_ok=True)
    t = long_array(seed, n)
    step = -(-n // parts)
    for p in range(parts):
        pq.write_table(t.slice(p * step, step), os.path.join(path, f"part-{p:05d}.parquet"))
    return t.num_rows
