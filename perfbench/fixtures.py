"""Seeded synthetic inputs with the columns and value ranges of the
TPC-H-shaped ``lineitem`` and ``orders`` fixture tables (FIXTURES.md
group A), plus the cell encodings the store is expected to hold, computed
in plain Python so they are independent of the engine.

The benchmark may read nothing outside its checkout, so it generates its
inputs instead of reading the fixture files. The same seed always gives
the same tables.
"""

from __future__ import annotations

import struct
import zlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa

_EPOCH = datetime(1992, 1, 1)


def _days(rng: np.random.Generator, n: int, span: int) -> list[datetime]:
    return [_EPOCH + timedelta(days=int(d)) for d in rng.integers(0, span, n)]


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4 + 1, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array(_days(rng, n, 3650), pa.timestamp("us")),
    })


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(rng.integers(100000, 50000000, n) / 100.0),
        "o_orderdate": pa.array(_days(rng, n, 3650), pa.timestamp("us")),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)
        ),
    })


def skewed_index(rng: np.random.Generator, n: int, size: int | None = None):
    """Indexes in [0, n) drawn with a Zipf-like skew (s = 1.1) over a
    seeded permutation, so a few keys take most of the lookups."""
    perm = rng.permutation(n)
    weights = 1.0 / np.arange(1, n + 1) ** 1.1
    return perm[rng.choice(n, size=size, p=weights / weights.sum())]


# ----------------------------------------------------------- cell bytes ---


def encode(value, hive_type: str) -> bytes:
    """The bytes a cell of ``hive_type`` holds (Cassandra marshaling:
    fixed-width big-endian numbers, epoch-millis timestamps, UTF-8 text)."""
    if hive_type == "bigint":
        return struct.pack(">q", int(value))
    if hive_type == "double":
        return struct.pack(">d", float(value))
    if hive_type == "string":
        return str(value).encode("utf-8")
    if hive_type == "timestamp":
        v = value if isinstance(value, datetime) else value.to_pydatetime()
        return struct.pack(">q", int(v.replace(tzinfo=timezone.utc).timestamp() * 1000))
    raise ValueError(hive_type)


def cell_bytes(rk: bytes, col: bytes, value: bytes | None) -> int:
    """User bytes of one cell: key, column name, value and the 8-byte
    write timestamp."""
    return len(rk) + len(col) + len(value or b"") + 8


def cell_crc(rk: bytes, col: bytes, value: bytes | None) -> int:
    """CRC-32 of key‖column‖value, the same digest Spark's ``crc32``
    computes over ``concat(row_key, column_name, coalesce(value, ''))``."""
    return zlib.crc32(rk + col + (value or b""))
