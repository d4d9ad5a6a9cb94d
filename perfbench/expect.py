"""Expected outputs, computed with DuckDB before anything is timed.

- Registered queries: the row count of each query's ``oracle_sql`` twin
  over the generated tables.
- The power pipeline: ``n_windows`` per split and the selected feature
  list, from the generated fixture: group sizes come from DuckDB, the
  chronological-split and sliding-window arithmetic is the reference's
  (``int(frac * n)`` sizes with the small-group guard; one window per row
  from the ``seq_len``-th on, every ``step`` rows).
"""

from __future__ import annotations

import math
import os

import duckdb


def connect(table_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        path = os.path.join(table_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_row_counts(con: duckdb.DuckDBPyConnection, oracles: dict[str, str]) -> dict[str, int]:
    return {
        name: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        for name, sql in oracles.items()
    }


def split_sizes(n: int, train_frac: float, val_frac: float) -> tuple[int, int, int]:
    """Train/val/test sizes of one group (``operators.split`` semantics)."""
    ntr, nva = math.floor(train_frac * n), math.floor(val_frac * n)
    if ntr + nva >= n:
        ntr = max(1, ntr)
        nva = max(0, min(n - ntr - 1, nva))
    return ntr, nva, n - ntr - nva


def n_windows(group_sizes, seq_len: int, step: int, train_frac: float, val_frac: float) -> dict[str, int]:
    """Windows per split over groups of the given sizes."""
    out = {"train": 0, "val": 0, "test": 0}
    for n in group_sizes:
        for split, m in zip(out, split_sizes(n, train_frac, val_frac)):
            if m >= seq_len:
                out[split] += (m - seq_len) // step + 1
    return {k: v for k, v in out.items() if v}


def power_group_sizes(con: duckdb.DuckDBPyConnection, charging_threshold: float = 100.0) -> list[int]:
    """Rows per (attack, state) group of ``power_view`` over ``events``."""
    rows = con.execute(
        f"""SELECT count(*) FROM events
            GROUP BY event_type, value >= {charging_threshold}"""
    ).fetchall()
    return [r[0] for r in rows]
