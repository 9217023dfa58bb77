"""Bucketed-table storage layout: the co-located-join path.

At 100 TB the fact-fact joins (orders x lineitem here; selected-keys x
pages in the crawl) dominate shuffle volume. Spark's storage-side answer
is bucketing: both relations are hash-partitioned BY THE SAME KEY INTO
THE SAME NUMBER OF BUCKETS at write time, so a later equi-join on that
key is exchange-free — each task zips bucket i with bucket i. The crawl
engine gets the equivalent effect dynamically (a Bloom-pruned
shuffle-hash join, plans/round.py); this module is the static
layout for the warehouse-style analytics tables, where the write is
amortized over every downstream join and aggregation.

``spark.table`` + ``bucketBy`` metadata lives in the session catalog —
Spark only exploits bucketing for tables read through the catalog, not
bare parquet paths. Tables are written under the session's warehouse
dir; the layout survives as parquet + _SUCCESS with bucket-id file
names, the metadata as long as the catalog (in-memory catalog here; a
HMS/Glue/Unity catalog on a real cluster).

Sort-within-buckets (``sortBy``) additionally lets the join skip its
per-task sort (SortMergeJoin reads presorted runs) and gives
row-group-level min/max pruning on the sort key.

Scale guidance encoded in the helper defaults: bucket count should be
sized so one bucket of the LARGER table fits an executor core's memory
slice (1-4 GB of parquet per bucket); both sides MUST agree on count,
or Spark falls back to shuffling the mismatched side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Write ``df`` as a bucketed (optionally sorted) parquet table in
    the session catalog, overwriting any previous layout.

    The pre-write ``repartition(n_buckets, bucket_col)`` uses the SAME
    Murmur3 hash family as bucketing, so each write task holds exactly
    one bucket -> one file per bucket (instead of tasks x buckets small
    files), and single-file buckets are what lets Spark trust the
    ``sortBy`` order and skip the join-side sort."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the in-memory catalog forgets tables across sessions but the
    # warehouse directory survives; an orphan location blocks CREATE, so
    # clear it (real deployments use a persistent catalog and plain
    # mode=overwrite)
    import shutil
    from pathlib import Path
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = Path(wh) / table.lower()
    if loc.exists():
        shutil.rmtree(loc, ignore_errors=True)

    df = df.repartition(n_buckets, df[bucket_col])
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — REQUIRED for Spark to use the bucket metadata."""
    return spark.table(table)
