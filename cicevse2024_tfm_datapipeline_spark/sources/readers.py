"""Scan operators (SURVEY §2.1).

Parquet is the engine's primary columnar source — scans get predicate
pushdown, column pruning and row-group skipping from Catalyst for free.
CSV scans replicate the reference's ingest shapes (S1 power, S2 host
positional, S3 multi-file with filename labels); JSON handles the artifact
lake (S7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.sources.schemas import TABLE_NAMES


def table_names() -> tuple[str, ...]:
    return TABLE_NAMES


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark rejects them
    unless read as long. Detected once per path from parquet footer
    metadata (driver-side, no data scan)."""
    if path in _NANO_CACHE:
        return _NANO_CACHE[path]
    cols: list[str] = []
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        for field in schema:
            if str(field.type) == "timestamp[ns]":
                cols.append(field.name)
    except Exception:  # noqa: BLE001 — fall back to plain read
        pass
    _NANO_CACHE[path] = cols
    return cols


_NANO_CACHE: dict[str, list[str]] = {}

#: below this byte size a split-starved scan is left alone: the
#: repartition's shuffle would cost more than the serial scan saves, and
#: small frames are broadcast-join candidates where an extra exchange on
#: the build side is pure loss (keeps region/nation/supplier/part/customer
#: unshuffled at every SF).
_UNSTARVE_MIN_BYTES = 512 << 10

#: keyed on (path, mtime_ns, size) so a regenerated scale-factor
#: directory in a long-lived session invalidates naturally (r06 ADVICE:
#: a plain path key kept serving the stale footer after a rewrite)
_SPLIT_CACHE: dict[tuple[str, int, int], tuple[int, int]] = {}


def _footer_groups(f: str) -> int:
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f).metadata.num_row_groups
    except Exception:  # noqa: BLE001 — treat as unsplittable
        return 1


def _file_splits(path: str) -> tuple[int, int]:
    """(byte size, parquet row-group count) from the footer — driver-side,
    cached, no data scan. Row groups bound the scan's REAL parallelism:
    Spark's byte-range splits assign each row group to the split holding
    its midpoint, so a single-row-group file is one task no matter how
    many splits planning creates.

    Handles both layouts: a single ``.parquet`` file (the synthetic
    fixtures) and a directory-style dataset (the norm on real lakes —
    sizes and row-group counts are summed over the part files; r06 ADVICE
    flagged the silent ~4 KB-dirent no-op the single-file assumption
    produced on directories)."""
    st = os.stat(path)
    if os.path.isdir(path):
        parts = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        # key on the PART files' own (mtime_ns, size) — a part rewritten
        # in place (open/truncate, same name) changes neither the
        # directory's mtime nor its size, so a dir-level key would serve
        # a stale footer count (r07 ADVICE). A part can vanish between
        # listdir and stat (a concurrent Spark overwrite swapping part
        # files) — skip it rather than fail the read; the next call
        # re-lists and re-keys anyway (r08 ADVICE).
        stats = []
        surviving = []
        for p in parts:
            try:
                stats.append(os.stat(p))
                surviving.append(p)
            except FileNotFoundError:
                continue
        parts = surviving
        key = (
            path,
            max((s.st_mtime_ns for s in stats), default=st.st_mtime_ns),
            sum(s.st_size for s in stats),
            len(parts),
        )
        if key not in _SPLIT_CACHE:
            size = sum(s.st_size for s in stats)
            groups = sum(_footer_groups(p) for p in parts) if parts else 1
            _SPLIT_CACHE[key] = (size, max(1, groups))
        return _SPLIT_CACHE[key]
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _SPLIT_CACHE:
        _SPLIT_CACHE[key] = (st.st_size, max(1, _footer_groups(path)))
    return _SPLIT_CACHE[key]


_ROW_COUNT_CACHE: dict[tuple, int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """EXACT row count of a synthetic table from parquet footer metadata —
    driver-side, no Spark job (r11 optimization round, guide §5). Parquet
    footers carry the exact row count, so this equals ``count()`` on the
    unfiltered scan at any scale while scheduling zero tasks; at 100 TB
    the count() it replaces is a full metadata-scan job over every file.
    Cached on the same (mtime, size) fingerprint as the plan cache."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (path, *_dataset_fingerprint(path))
    if key not in _ROW_COUNT_CACHE:
        if os.path.isdir(path):
            total = 0
            for f in sorted(os.listdir(path)):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    total += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            _ROW_COUNT_CACHE[key] = total
        else:
            _ROW_COUNT_CACHE[key] = pq.ParquetFile(path).metadata.num_rows
    return _ROW_COUNT_CACHE[key]


_COL_MINMAX_CACHE: dict[tuple, tuple] = {}


def table_column_minmax(sf_dir: str, name: str, column: str) -> tuple:
    """EXACT (min, max) of one column from parquet footer statistics —
    driver-side, no Spark job (r12, the table_row_count discipline: an
    input-table property read from metadata, fingerprint-cached). Raises
    if any row group lacks stats for the column; callers use this only
    to size literal bucket grids, where correctness never depends on the
    values (a wrong grid skews bucket balance, not results)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (path, column, *_dataset_fingerprint(path))
    if key not in _COL_MINMAX_CACHE:
        files = (
            [
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
            if os.path.isdir(path)
            else [path]
        )
        lo = hi = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(column)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError(
                        f"no parquet min/max statistics for {name}.{column}"
                    )
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            raise ValueError(f"no row groups in {path}")
        _COL_MINMAX_CACHE[key] = (lo, hi)
    return _COL_MINMAX_CACHE[key]


def _unstarve(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Split-starved-scan mitigation: when the parquet layout physically
    caps scan parallelism far below the cluster (single-file single-
    row-group inputs — the synthetic tables are exactly this), add one
    round-robin repartition so a CPU-DENSE narrow stage (shingle
    explosion, per-pair verification) runs wide instead of serializing
    into one task.

    OPT-IN per query (``load_table(..., wide=True)``), never the loader
    default: the A/B on the 58-query bench showed it is a tradeoff, not a
    free win — shingle-heavy plans gain 2.5x (prefix-filter 4.8→1.9 s,
    fuzzy pipeline 4.5→2.2 s at sf0.1) but every LIGHT query on the same
    table pays a flat ~+0.3 s (extra exchange + lost scan-stage fusion;
    their own first shuffle already provides all the parallelism their
    cheap narrow work needs). The operator that knows its narrow stage is
    CPU-dense requests width; everything else keeps the fused single-
    stage scan. Decided entirely driver-side from the footer; at
    production scale a 100 TB table yields thousands of row-group splits
    and this is a provable no-op — the branch exists for the long tail
    of small/badly-written files, which real lakes are full of too."""
    size, groups = _file_splits(path)
    if size < _UNSTARVE_MIN_BYTES:
        return df
    target = spark.sparkContext.defaultParallelism
    if groups >= max(2, target // 2):
        return df
    return df.repartition(target)


#: analyzed-plan cache for the base table scans (r11 optimization round,
#: guide §5 — the driver should do almost no work). Every ``load_table``
#: call used to pay the full JVM DataSource resolution again (file
#: listing, parquet footer schema inference, the nano-timestamp
#: withColumn analysis): measured ~0.15-0.3 s per call driver-side, with
#: ~100+ calls across the 58-query bench roster — a double-digit share
#: of the whole bench on pure plan re-construction. A DataFrame is an
#: immutable logical plan, NOT data: caching the object reuses the
#: resolved scan plan while every action still computes from parquet
#: (nothing is persisted — no .cache(), no materialization; the rules'
#: no-result-caching line is about results, and this holds none).
#: Keyed on the session's applicationId (a restarted session gets fresh
#: JVM refs) and the dataset fingerprint (file/dir mtime+size, the
#: _SPLIT_CACHE discipline) so a rewritten table invalidates naturally.
_TABLE_PLAN_CACHE: dict[tuple, DataFrame] = {}
_TABLE_PLAN_CACHE_MAX = 256


def _dataset_fingerprint(path: str) -> tuple[int, int]:
    """(max mtime_ns, total byte size) of a parquet file or dataset dir —
    part-file granularity for directories (dir mtime misses in-place part
    rewrites, the r07 ADVICE case)."""
    st = os.stat(path)
    if os.path.isdir(path):
        mt, size = st.st_mtime_ns, 0
        for f in os.listdir(path):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                try:
                    ps = os.stat(os.path.join(path, f))
                except FileNotFoundError:
                    continue
                mt = max(mt, ps.st_mtime_ns)
                size += ps.st_size
        return (mt, size)
    return (st.st_mtime_ns, st.st_size)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = False
) -> DataFrame:
    """Load one synthetic table. Parquet scan → pushdown-friendly.

    ``wide=True`` requests the split-starved-scan mitigation (see
    ``_unstarve``) — for plans whose narrow stage is CPU-dense enough
    that a one-task scan would serialize it.

    Nanosecond timestamps are read as long and truncated to microseconds
    with integer division (``div`` — float division would lose precision
    above 2^53 nanos), matching how micro-resolution engines (e.g. DuckDB)
    ingest TIMESTAMP_NS.

    The resolved scan DataFrame is cached per (session, dataset
    fingerprint) — see ``_TABLE_PLAN_CACHE``. Consequence: two
    ``load_table`` calls for the same table now return the SAME plan
    object, so joins between them are shared-lineage self-joins (Spark's
    DeduplicateRelations handles these; the full oracle gate re-ran green
    over all 340 queries after this change).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # the driver may hand us ITS session: pin the runtime-settable confs
    # the oracle comparison depends on (UTC day-bucketing ≡ DuckDB's
    # naive timestamps). Runs on every call, cache hit or not (~1 ms,
    # idempotent) so a caller that reset the timezone is always re-pinned.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (
        spark.sparkContext.applicationId,
        path,
        wide,
        *_dataset_fingerprint(path),
    )
    hit = _TABLE_PLAN_CACHE.get(key)
    if hit is not None:
        return hit
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nano_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    df = _unstarve(spark, df, path) if wide else df
    if len(_TABLE_PLAN_CACHE) >= _TABLE_PLAN_CACHE_MAX:
        # evict the oldest entry (dicts keep insertion order)
        del _TABLE_PLAN_CACHE[next(iter(_TABLE_PLAN_CACHE))]
    _TABLE_PLAN_CACHE[key] = df
    return df


# --- S1: power CSV scan (func_aux/func_preproc.py:128-136) -------------

def scan_power_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan + ``time`` parse + charging flag.

    Reference sorts globally after load; the engine keeps ordering lazy
    (downstream window specs order explicitly) so the scan itself never
    forces a range-shuffle at 100 TB.
    """
    df = spark.read.csv(path, header=True, inferSchema=True)
    return (
        df.withColumn("timestamp", F.to_timestamp(F.col("time")))
        .withColumn("state_bin", (F.col("State") == F.lit("charging")).cast("int"))
    )


# --- S2: host wide-CSV scan (func_aux/func_preproc.py:537-589) ----------

def scan_host_csv(spark: SparkSession, path: str) -> DataFrame:
    """Positional schema: every column left of ``State`` is an event
    counter; they are coerced to double (null on failure), ``time`` is
    excluded, and a file-order ``timestamp`` is derived.

    The reference uses the pandas row index as time
    (``func_preproc.py:584``); a distributed engine has no global row
    order on read, so the scan materializes one over a monotonic
    file-position key — done once, at ingest, via the two-phase prefix
    scan (no unpartitioned window even here).
    """
    df = spark.read.csv(path, header=True)
    cols = df.columns
    if "State" not in cols:
        raise ValueError("host CSV must contain a 'State' column")
    feature_cols = [c for c in cols[: cols.index("State")] if c.lower() != "time"]
    keep = [F.col(c).try_cast("double").alias(c) for c in feature_cols]
    keep += [F.col(c) for c in cols[cols.index("State"):]]
    df = df.select(*keep).withColumn("__file_pos", F.monotonically_increasing_id())
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_row_number

    df = global_row_number(df, ["__file_pos"], "__ingest_rn")
    return (
        df.withColumn("timestamp", (F.col("__ingest_rn") - F.lit(1)).cast("double"))
        .drop("__file_pos", "__ingest_rn")
    )


# --- S3: multi-file scan with filename labels (network) -----------------

def scan_network_dir(spark: SparkSession, glob_path: str) -> DataFrame:
    """One logical scan over many CSVs; ``input_file_name()`` replaces the
    reference's per-file loop + tag (pipeline_trainingmodels_network.py:186-209).
    Label = filename stem tokens after the second '-' joined by spaces
    (``:158-164``).
    """
    df = spark.read.csv(glob_path, header=True, inferSchema=True)
    stem = F.regexp_replace(F.element_at(F.split(F.input_file_name(), "/"), -1), r"\.csv$", "")
    label = F.regexp_replace(F.regexp_replace(stem, r"^[^-]*-[^-]*-", ""), "-", " ")
    return (
        df.withColumn("source_file", stem)
        .withColumn("label_mul_raw", label)
        .withColumn("evse", F.upper(F.trim(F.substring(F.element_at(F.split(stem, "-"), 2), 0, 1))))
    )


# --- S7: recursive JSON artifact scan (func_aux/func_plot.py:648-697) ----

def scan_metrics_lake(spark: SparkSession, root: str) -> DataFrame:
    """Recursive scan of per-run ``metrics.json`` artifacts.

    ``recursiveFileLookup`` + ``input_file_name`` recovers the run dir so
    metrics can be equi-joined (J2) with sibling config.json rows.
    """
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "metrics.json")
        # multiLine: artifacts are pretty-printed per-run JSON documents
        # (KB-sized — non-splittability is irrelevant at this cardinality)
        .option("multiLine", "true")
        .json(root)
    )
    run_dir = F.regexp_replace(F.input_file_name(), r"/metrics\.json$", "")
    return df.withColumn("run_dir", run_dir)


def scan_config_lake(spark: SparkSession, root: str) -> DataFrame:
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "config.json")
        .option("multiLine", "true")
        .json(root)
    )
    run_dir = F.regexp_replace(F.input_file_name(), r"/config\.json$", "")
    return df.withColumn("run_dir", run_dir)


def join_metrics_with_configs(metrics: DataFrame, configs: DataFrame) -> DataFrame:
    """J2: artifact equi-join on run_dir (func_aux/func_plot.py:664-689)."""
    return metrics.join(configs, "run_dir", "inner")


def register_synthetic_datasource(spark) -> None:
    """Register the ``synthgen`` custom Python data source (Spark 4
    DataSource API, ``pyspark.sql.datasource``): a deterministic
    partition-parallel generator — the engine's template for plugging a
    non-file system (internal service, bespoke format) into the DataFrame
    layer. Each InputPartition yields its own closed-form slice, so the
    scan is embarrassingly parallel and rerun-stable: row i carries
    (id, val = (i*i) mod 997, grp = i mod 7).

    Options: ``rows`` (total row count), ``parts`` (input partitions).
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _SynthReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("rows", 1000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            step = (self.n + self.parts - 1) // self.parts
            return [
                InputPartition((p * step, min((p + 1) * step, self.n)))
                for p in range(self.parts)
                if p * step < self.n
            ]

        def read(self, partition):
            lo, hi = partition.value
            for i in range(lo, hi):
                yield (i, (i * i) % 997, i % 7)

    class _SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "synthgen"

        def schema(self):
            return "id bigint, val bigint, grp int"

        def reader(self, schema):
            return _SynthReader(self.options)

    spark.dataSource.register(_SynthSource)
