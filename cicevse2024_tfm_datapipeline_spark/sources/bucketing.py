"""Bucketed-table support: co-located joins without a shuffle.

Writing both sides of a recurring join bucketed by the join key
(``bucketBy(n, key).sortBy(key)``) lets Spark plan the join with zero
exchanges — each bucket pair joins locally. This is the storage-level
answer for the engine's recurring fact-fact joins (e.g. window features ⋈
predictions at re-evaluation time) at 100 TB.

Requires a warehouse-backed saveAsTable (buckets are a table property,
not a parquet-file property).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Buckets are sorted by ``bucket_col``. With ``path``, the table is external (bucket metadata still lives
    in the session catalog — buckets are a table property, not a
    parquet-file property); without it, it lands in the warehouse dir."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a stale table location (e.g. from a previous session whose
    # metastore is gone) blocks CTAS — clear it
    import shutil
    from urllib.parse import urlparse

    if path is None:
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = urlparse(warehouse).path or warehouse
        target = f"{loc.rstrip('/')}/{table.lower()}"
    else:
        target = urlparse(path).path or path
    shutil.rmtree(target, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Inner-join two same-bucketed tables on the bucket key — verify with
    .explain(): no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")
