"""Multi-round crawl driver — the batch-iterative loop.

The reference runs one continuous pipeline until its channels drain
(crawler/crawler.go:642-669); the engine runs discrete rounds, each one
DataFrame DAG whose outputs are checkpointed before the next round
plans (truncating lineage — iterative DataFrame graphs otherwise grow
unboundedly). The driver touches only counters, never row data: per-round
state flows parquet -> plan -> parquet on the executors.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from don_crawler_spark.functions.robots import compile_rules
from don_crawler_spark.plans.checkpoint import (
    SEEN_SCHEMA,
    CheckpointStore,
    read_declared,
)
from don_crawler_spark.plans.config import CrawlConfig
from don_crawler_spark.plans.round import frontier_from_seeds, run_round
from don_crawler_spark.sources.synth import CORPUS_SCHEMAS


@dataclass
class CrawlSummary:
    rounds: int = 0
    urls_fetched: int = 0
    urls_200: int = 0
    resumed_from: int = 0
    wall_ms_per_round: list[int] = field(default_factory=list)


def _empty_seen(spark: SparkSession, path: str) -> DataFrame:
    """The seen set before round 1: a zero-row parquet file (pyarrow, no
    Spark job) read as ``CheckpointStore.read_seen`` reads a round, so
    round 1 plans, and compiles, what later rounds do (Catalyst would
    prune the anti-join against an empty relation it can see)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = CheckpointStore._SEEN_READ_SCHEMA
    os.makedirs(path, exist_ok=True)
    pq.write_table(to_arrow_schema(schema).empty_table(), f"{path}/part-0.parquet")
    return (
        read_declared(spark, schema, path)
        .filter(CheckpointStore._SEEN_FILTER_COL)
        .select(*SEEN_SCHEMA.fieldNames())
    )


def _metrics(fetched_full: DataFrame) -> DataFrame:
    """Per-partition counters (the metrics table): ONE job aggregates the
    cached round output into one file, written even when empty (tooling
    reads metrics for the terminal round too)."""
    return (
        fetched_full.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("urls_fetched"),
            F.sum((F.col("status") == 200).cast("long")).alias("urls_200"),
            F.sum("n_links").alias("links_emitted"),
            F.max("round").alias("round"),
        )
        .coalesce(1)
    )


def load_corpus(
    spark: SparkSession, corpus_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Read a corpus directory once per crawl -> ``(pages, hosts, urls)``.

    Every table is required and read with its declared schema
    (``sources.synth.CORPUS_SCHEMAS``, no inference job): a missing
    table raises ``AnalysisException`` and a missing column
    ``ValueError``, before any round runs (``read_declared``). Each
    dimension is ONE aggregate over a union (a join-built one cost
    polite CPU):
    ``hosts(host, rules, crawl_delay_ms, max_per_round, not_before_ts)``
    from ``robots ∪ host_budgets``, ``urls(url, fail_rounds, target)``
    from ``transient ∪ redirects``.
    """

    def read(table: str) -> DataFrame:
        return read_corpus_table(spark, corpus_dir, table)

    hosts = compile_rules(
        read("robots").unionByName(
            read("host_budgets"), allowMissingColumns=True
        ),
        "crawl_delay_ms",
        "max_per_round",
        "not_before_ts",
    )
    urls = (
        read("transient")
        .unionByName(read("redirects"), allowMissingColumns=True)
        .groupBy("url")
        .agg(
            F.max("fail_rounds").alias("fail_rounds"),
            F.max("target").alias("target"),
        )
    )
    return read("pages"), hosts, urls


def read_corpus_table(spark: SparkSession, corpus_dir: str, table: str) -> DataFrame:
    """One corpus table, read with its declared ``CORPUS_SCHEMAS`` entry
    (naive timestamps read as ``timestamp_ntz``, as Spark infers them)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = from_arrow_schema(CORPUS_SCHEMAS[table], prefer_timestamp_ntz=True)
    return read_declared(spark, schema, f"{corpus_dir}/{table}.parquet")


def run_crawl(
    spark: SparkSession,
    corpus_dir: str,
    checkpoint_dir: str,
    config: CrawlConfig | None = None,
    seed_urls: DataFrame | None = None,
) -> CrawlSummary:
    """Run (or resume) a crawl over a synth corpus directory.

    Resume: the checkpoint store's latest committed manifest defines the
    restart point; an interrupted round leaves no manifest and is redone
    from its predecessor's state — "a killed job resumes mid-crawl losing
    at most one round".
    """
    cfg = config or CrawlConfig()
    store = CheckpointStore(checkpoint_dir)

    import pyarrow.dataset as ds

    pages, hosts, urls = load_corpus(spark, corpus_dir)

    summary = CrawlSummary()
    start_round = store.latest_round()
    summary.resumed_from = start_round

    if start_round == 0:
        if seed_urls is not None:
            # caller-provided seed URL column (e.g. the saturation bench
            # seeds the whole corpus at depth 0)
            frontier = frontier_from_seeds(
                seed_urls.select(
                    F.col("url").alias("org_url"),
                    F.array().cast("array<string>").alias("repo_urls"),
                )
            )
        else:
            frontier = frontier_from_seeds(
                read_corpus_table(spark, corpus_dir, "seeds")
            )
        # round 0 checkpoint: the seeded frontier (so round 1 is replayable)
        store.write_table(frontier, 0, "frontier")
        store.commit_round(0, {"seeded": True})
    frontier = store.read_table(spark, start_round, "frontier")
    seen = store.read_seen(spark, start_round) or _empty_seen(
        spark, store.table_path(0, "seen")
    )

    # exact, from parquet footers (no Spark job); sizes the round's
    # Bloom prune of the pages scan
    n_frontier = store.row_count(start_round, "frontier")

    for rnd in range(start_round + 1, cfg.max_rounds + 1):
        t0 = time.monotonic()
        out = run_round(cfg, rnd, frontier, seen, pages, hosts, urls, n_frontier)

        # Materialize in dependency order; the manifest commit is the txn
        # point. The fetched_full write runs FIRST and alone: it fills the
        # round's caches (ranked / selected / enriched), which the two
        # other writes (frontier, metrics) only read, so those run as
        # CONCURRENT jobs from a small thread pool (guide §2.6), the next
        # job's tasks back-filling the previous one's straggler tail. All
        # writes complete before the manifest appears, so a crash
        # mid-round resumes from the previous round.
        try:
            store.write_table(out.fetched_full, rnd, "fetched_full")
            with ThreadPoolExecutor(max_workers=2) as pool:
                for f in [
                    pool.submit(store.write_table, out.new_frontier, rnd, "frontier"),
                    pool.submit(store.write_table, _metrics(out.fetched_full), rnd,
                                "metrics"),
                ]:
                    f.result()
        finally:  # drop the round's caches, and only those
            for df in out.persisted:
                df.unpersist()
        # the round's counters, read back from the metrics file on the
        # driver (a few rows, no Spark job)
        counts = ds.dataset(
            store.table_path(rnd, "metrics"), format="parquet"
        ).to_table(columns=["urls_fetched", "urls_200"])
        n_selected = sum(counts["urls_fetched"].to_pylist())
        n_200 = sum(counts["urls_200"].to_pylist())
        if n_selected == 0:
            # empty round: don't commit, don't continue (oracle breaks
            # before emitting anything for an empty selection)
            break

        wall_ms = int((time.monotonic() - t0) * 1000)
        store.commit_round(
            rnd,
            {
                "selected": n_selected,
                "fetched_200": n_200,
                "wall_ms": wall_ms,
                "n_frontier": n_frontier,
            },
        )
        summary.rounds = rnd
        summary.urls_fetched += n_selected
        summary.urls_200 += n_200
        summary.wall_ms_per_round.append(wall_ms)

        frontier = store.read_table(spark, rnd, "frontier")
        n_frontier = store.row_count(rnd, "frontier")
        seen = store.read_seen(spark, rnd)

    return summary
