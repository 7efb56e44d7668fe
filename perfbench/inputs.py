"""Seeded inputs for the benchmark: a lineitem-shaped table and the
order-insensitive content hash both sides of every check agree on.

The table has the column names and types of the TPC-H-like ``lineitem``
fixture the repository's queries read, plus ``id``: the row's position in
the Parquet file, which is the record key.  Keys are therefore a property
of the file, not of how Spark happens to partition a read of it.

The content hash of a row is an integer in ``[0, 2**31 - 1)`` computed from
every column; a relation's hash is the sum over its rows, so it ignores
row order.  :data:`ROW_HASH_SQL` computes it in Spark and :func:`row_hash`
in numpy, with the same 64-bit integer arithmetic.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Column order of the generated table (``id`` first, then lineitem's).
COLUMNS = (
    "id",
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
)

_EPOCH_1992_US = 694_224_000 * 1_000_000
_DAY_US = 86_400 * 1_000_000
_MOD = 2_147_483_647

#: Spark SQL twin of :func:`row_hash`; doubles are whole cents by
#: construction, so ``round(x * 100)`` is exact on both sides.
ROW_HASH_SQL = (
    "pmod(id * 1000003 + l_orderkey * 7919 + l_partkey * 104729"
    " + l_suppkey * 31 + l_linenumber * 17"
    " + cast(round(l_quantity * 100) as bigint) * 13"
    " + cast(round(l_extendedprice * 100) as bigint) * 3"
    " + cast(round(l_discount * 100) as bigint) * 101"
    " + cast(round(l_tax * 100) as bigint) * 103"
    " + ascii(l_returnflag) * 7 + ascii(l_linestatus) * 11"
    f" + unix_micros(cast(l_shipdate as timestamp)) * 5, {_MOD})"
)


def lineitem(n: int, seed: int, first_id: int = 0) -> dict[str, np.ndarray]:
    """``n`` rows as numpy columns (strings as 1-char arrays, timestamps as
    epoch microseconds).  Same ``seed`` and ``n``, same rows."""
    rng = np.random.default_rng(seed)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price_cents = rng.integers(90_000, 200_000, n)
    return {
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "l_orderkey": rng.integers(1, 150_001, n, dtype=np.int64),
        "l_partkey": rng.integers(1, 20_001, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.rint(qty * price_cents) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _EPOCH_1992_US + rng.integers(0, 2_526, n, dtype=np.int64) * _DAY_US,
    }


def to_arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = []
    for name in COLUMNS:
        v = cols[name]
        if name == "l_shipdate":
            arrays.append(pa.array(v, type=pa.timestamp("us")))
        elif v.dtype.kind == "U":
            arrays.append(pa.array(v.tolist(), type=pa.string()))
        else:
            arrays.append(pa.array(v))
    return pa.table(arrays, names=list(COLUMNS))


def write_parquet(cols: dict[str, np.ndarray], path: str) -> int:
    """Write the columns as one Parquet file (one row group, like the
    repository's fixtures); returns its size in bytes."""
    pq.write_table(to_arrow(cols), path)
    return pa.OSFile(path).size()


def row_hash(cols: dict[str, np.ndarray]) -> np.ndarray:
    """Per-row content hash, equal to :data:`ROW_HASH_SQL` row by row."""
    i64 = np.int64
    h = (
        cols["id"].astype(i64) * 1000003
        + cols["l_orderkey"].astype(i64) * 7919
        + cols["l_partkey"].astype(i64) * 104729
        + cols["l_suppkey"].astype(i64) * 31
        + cols["l_linenumber"].astype(i64) * 17
        + np.rint(cols["l_quantity"] * 100).astype(i64) * 13
        + np.rint(cols["l_extendedprice"] * 100).astype(i64) * 3
        + np.rint(cols["l_discount"] * 100).astype(i64) * 101
        + np.rint(cols["l_tax"] * 100).astype(i64) * 103
        + np.char.encode(cols["l_returnflag"]).view(np.uint8).astype(i64) * 7
        + np.char.encode(cols["l_linestatus"]).view(np.uint8).astype(i64) * 11
        + cols["l_shipdate"].astype(i64) * 5
    )
    return np.mod(h, _MOD)


def take(cols: dict[str, np.ndarray], idx) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in cols.items()}


def concat(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in COLUMNS}
