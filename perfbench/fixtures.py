"""Seeded input generators for the benchmark workloads.

Everything the workloads read is written here from ``--seed`` with NumPy
and pyarrow in this one process: no Spark, no network, nothing read from
outside the work directory. The tables follow the schemas and value
domains of the repository's synthetic scale factors (TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``), so every
registered query and ``plans.common.power_view`` read them unchanged.

Row counts are the sf0.1 counts (``SF01_ROWS``); ``events`` can be sized
separately because the modality workload sizes it on its own.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at sf0.1, the roster's scale factor.
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

TABLES = tuple(SF01_ROWS)

_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("red", "blue", "hot", "new", "large", "small", "old", "green")
_PART_NOUN = ("bolt", "ring", "rod", "plate", "anvil", "nut", "gear", "pipe")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_US_PER_DAY = 86_400 * 1_000_000
_EVENTS_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
_TPCH_T0_US = 788_918_400 * 1_000_000  # 1995-01-01 00:00:00 UTC


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(n: int, rng: np.random.Generator) -> pa.Table:
    """``n`` events over 30 days, ts strictly increasing with event_id;
    about 1.5 % as many users as rows; ``value`` exponential with mean 50
    (so about 13 % of rows are at or above the 100.0 charging threshold)."""
    span = 30 * _US_PER_DAY
    # distinct sorted offsets: a sorted uniform draw plus the row index
    # keeps them strictly increasing without a uniqueness pass
    offs = np.sort(rng.integers(0, span - n, n)) + np.arange(n)
    users = max(1, n * 15 // 1000)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts_us(_EVENTS_T0_US + offs),
            "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(n: int, rng: np.random.Generator) -> pa.Table:
    """Bag-of-words documents, 10–100 tokens from a 30-word vocabulary.
    About 5 % are near-duplicates of an earlier document (one extra
    ``dup`` token) and a handful are exact copies, so the dedup queries
    have work to find."""
    texts: list[str] = []
    n_words = rng.integers(10, 101, n)
    near = rng.random(n) < 0.05
    exact = set(rng.choice(np.arange(1, n), size=min(8, n - 1), replace=False).tolist()) if n > 1 else set()
    for i in range(n):
        if i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        elif near[i] and i > 0:
            base = texts[int(rng.integers(0, i))].split()
            base.insert(int(rng.integers(0, len(base) + 1)), "dup")
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def embeddings_table(n: int, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    """Unit vectors clustered around 10 label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype="int32")), flat),
            "label": pa.array(labels.astype("int32")),
        }
    )


def _tpch_tables(rows: dict[str, int], rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li = rows["orders"], rows["lineitem"]
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype="int32")), "r_name": pa.array(list(_REGIONS))}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
                "p_name": pa.array(
                    [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _ts_us(_TPCH_T0_US + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
                "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype("int64")),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _ts_us(_TPCH_T0_US + rng.integers(1, 2500, n_li) * _US_PER_DAY),
            }
        ),
    }
    return out


def write_tables(
    out_dir: str, seed: int, tables: tuple[str, ...] = TABLES, events_rows: int | None = None
) -> dict[str, int]:
    """Write the named tables as ``<out_dir>/<name>.parquet`` (one row group
    each, footer statistics on, as the reader's metadata paths expect).
    Returns ``{name: rows}``. Each table draws from its own seeded stream,
    so a table's content depends only on ``seed``, its name and its size."""
    os.makedirs(out_dir, exist_ok=True)
    rows = dict(SF01_ROWS)
    if events_rows is not None:
        rows["events"] = events_rows
    counts: dict[str, int] = {}
    tpch: dict[str, pa.Table] | None = None
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        if name == "events":
            table = events_table(rows[name], rng)
        elif name == "documents":
            table = documents_table(rows[name], rng)
        elif name == "embeddings":
            table = embeddings_table(rows[name], rng)
        else:
            if tpch is None:
                tpch = _tpch_tables(rows, np.random.default_rng([seed, 99]))
            table = tpch[name]
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
        counts[name] = table.num_rows
    return counts
