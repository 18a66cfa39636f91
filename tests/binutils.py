"""Dependency-free binary test helpers (no Spark, no DuckDB)."""

from __future__ import annotations


def snappy_uvarint(n: int) -> bytes:
    """Base-128 uvarint: the length preamble of a raw snappy block."""
    out = bytearray()
    while True:
        b7 = n & 0x7F
        n >>= 7
        if n:
            out.append(b7 | 0x80)
        else:
            out.append(b7)
            return bytes(out)
