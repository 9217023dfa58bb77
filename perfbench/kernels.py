"""Kernel micro-timings through the package's public functions.

Each kernel runs over a fixed batch built from the workload's corpus and
cached in memory first, so the timing holds the kernel and its plan, not
the parquet scan. The sink is ``noop``: every output row is computed and
dropped. One untimed pass warms the plan; the result is the median of
``REPEATS`` timed passes, as rows per second.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from don_crawler_spark.functions.bloom import BLOOM_SCHEMA, make_merge_fn, make_probe_fn
from don_crawler_spark.functions.extract import links_native_col, with_extracted_description
from don_crawler_spark.functions.robots import apply_robots_filter
from don_crawler_spark.functions.urls import add_canonical_url, host_col, path_col
from don_crawler_spark.operators.dedup import simhash_native_col

REPEATS = 3


def _noop(*dfs) -> None:
    for df in dfs:
        df.write.mode("overwrite").format("noop").save()


def _rate(rows: int, *dfs) -> float:
    _noop(*dfs)
    walls = []
    for _ in range(REPEATS):
        t0 = time.monotonic()
        _noop(*dfs)
        walls.append(time.monotonic() - t0)
    return rows / statistics.median(walls)


def _cached(df):
    df = df.persist()
    return df, df.count()


def kernel_rates(spark, corpus: str, cfg) -> dict[str, float]:
    pages, n_pages = _cached(
        spark.read.parquet(f"{corpus}/pages.parquet").select("url", "html")
    )
    texts, _ = _cached(with_extracted_description(pages, "html", "text")
                       .select("url", "text"))
    hrefs, n_hrefs = _cached(pages.select(
        F.col("url").alias("src_url"),
        F.explode(links_native_col(F.col("html"))).alias("href"),
    ))
    links, n_links = _cached(
        add_canonical_url(hrefs, "href", "src_url", "url").select(
            F.xxhash64("url").alias("url_hash"),
            host_col(F.col("url")).alias("host"),
            path_col(F.col("url")).alias("path"),
        )
    )
    bucket = F.pmod(F.col("url_hash"), F.lit(cfg.bloom_buckets)).cast("int")
    delta, n_delta = _cached(
        pages.select(F.xxhash64("url").alias("url_hash"))
        .select(bucket.alias("bucket"), "url_hash")
    )
    merge = make_merge_fn(cfg.bloom_m_bits, cfg.bloom_num_hashes)
    empty = spark.createDataFrame([], BLOOM_SCHEMA)

    def merged():
        return delta.groupBy("bucket").cogroup(empty.groupBy("bucket")) \
            .applyInPandas(merge, BLOOM_SCHEMA)

    bloom, _ = _cached(merged())
    probe = (
        links.select(bucket.alias("bucket"), "url_hash")
        .groupBy("bucket").cogroup(bloom.groupBy("bucket"))
        .applyInPandas(
            make_probe_fn(cfg.bloom_m_bits, cfg.bloom_num_hashes, ["url_hash"]),
            "url_hash long, maybe_seen boolean",
        )
    )
    robots = spark.read.parquet(f"{corpus}/robots.parquet")
    out = {
        "functions.extract.rows_per_s": _rate(
            n_pages, with_extracted_description(pages, "html", "text").select("text")),
        "functions.links.rows_per_s": _rate(
            n_pages, pages.select(links_native_col(F.col("html")).alias("l"))),
        "functions.urls.canonicalize_rows_per_s": _rate(
            n_hrefs, add_canonical_url(hrefs, "href", "src_url", "url").select("url")),
        "operators.dedup.simhash_rows_per_s": _rate(
            n_pages, texts.select(simhash_native_col(F.col("text")).alias("s"))),
        "functions.bloom.merge_rows_per_s": _rate(n_delta, merged()),
        "functions.bloom.probe_rows_per_s": _rate(n_links, probe),
        "functions.robots.rows_per_s": _rate(
            n_links, *apply_robots_filter(links, robots)),
    }
    spark.catalog.clearCache()
    return out
