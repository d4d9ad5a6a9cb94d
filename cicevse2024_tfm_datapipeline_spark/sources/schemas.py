"""Names of the synthetic tables (driver-provided parquet, TESTDATA.md)
behind the oracle-checked query surface (FIXTURES.md §B)."""

from __future__ import annotations

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
