"""Driver and round behaviors not covered by the parity suite."""

from __future__ import annotations

import pytest


def test_terminal_empty_round_still_writes_metrics(spark, tmp_path) -> None:
    """r2 ADVICE fix, now pinned (r3 VERDICT #7): when the frontier
    drains, the terminal (empty, uncommitted) round must STILL leave a
    metrics table — tooling reads per-round metrics for the terminal
    round too. It is empty (no partitions fetched anything) and its
    round has no manifest (empty rounds never commit)."""
    import os

    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import run_crawl
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=120, n_hosts=4, seed=11, n_publishers=2)
    ck = str(tmp_path / "ck")
    cfg = CrawlConfig(max_rounds=50)  # far more rounds than the corpus has
    summary = run_crawl(spark, corpus, ck, cfg)
    store = CheckpointStore(ck)
    terminal = summary.rounds + 1
    # the crawl drained before max_rounds (the break path ran)
    assert terminal <= cfg.max_rounds
    mpath = store.table_path(terminal, "metrics")
    assert os.path.exists(mpath)
    mdf = spark.read.parquet(mpath)
    assert mdf.count() == 0
    assert "urls_fetched" in mdf.columns
    # and the terminal round is NOT committed
    assert store.latest_round() == summary.rounds


def test_missing_corpus_table_fails_before_any_round(spark, tmp_path) -> None:
    """Every corpus table is required: a crawl over a corpus without its
    redirects table raises when it loads the corpus, instead of crawling
    with no 301s, and commits nothing (not even the seed round)."""
    import os

    from pyspark.errors import AnalysisException

    from don_crawler_spark.plans.driver import run_crawl
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=60, n_hosts=3, seed=11, n_publishers=2,
                    redirect_rate=0.2)
    os.remove(os.path.join(corpus, "redirects.parquet"))
    ck = str(tmp_path / "ck")
    with pytest.raises(AnalysisException):
        run_crawl(spark, corpus, ck)
    assert not [
        f for f in os.listdir(ck)
        if f.startswith("manifest_") and f.endswith(".json")
    ]


def test_round_handles_hosts_missing_from_either_table(spark, tmp_path) -> None:
    """Hosts with robots rules only, budgets only, neither, and both (in
    back-off): each frontier URL's robots verdict equals the oracle
    matcher's, and each host's selected count equals
    min(allowed candidates, CrawlConfig.host_budget(...))."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from don_crawler_spark.functions.robots import robots_allowed_py
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import _empty_seen, load_corpus
    from don_crawler_spark.plans.round import FRONTIER_COLS, run_round

    cfg = CrawlConfig(default_max_per_round=3)
    rnd = 1
    rules_only, budgets_only, neither, both = (
        f"{k}.example" for k in ("rules", "budgets", "neither", "both")
    )
    robots = {
        rules_only: [("/", True), ("/private/", False), ("/private/ok", True)],
        both: [("/x", False)],
    }
    budgets = {  # host -> (crawl_delay_ms, max_per_round, not_before_ts)
        budgets_only: (30_000, 10, None),  # 60000 // 30000 = 2 < default 3
        both: (1_000, 5, cfg.round_ts(rnd) + dt.timedelta(hours=1)),
    }
    corpus = tmp_path / "c"
    corpus.mkdir()

    def write(name, cols):
        pq.write_table(pa.table(cols), str(corpus / f"{name}.parquet"))

    write("robots", {
        "host": pa.array([h for h in robots for _ in robots[h]], pa.string()),
        "path_prefix": pa.array(
            [p for h in robots for p, _ in robots[h]], pa.string()),
        "allow": pa.array([a for h in robots for _, a in robots[h]], pa.bool_()),
    })
    write("host_budgets", {
        "host": pa.array(list(budgets), pa.string()),
        "crawl_delay_ms": pa.array([b[0] for b in budgets.values()], pa.int64()),
        "max_per_round": pa.array([b[1] for b in budgets.values()], pa.int32()),
        "not_before_ts": pa.array(
            [b[2] for b in budgets.values()], pa.timestamp("us")),
    })
    # no page rows: every selected URL fetches as a 404 with no links, so
    # the next frontier holds exactly the deferred rows
    write("pages", {
        "url": pa.array([], pa.string()),
        "warc_ts": pa.array([], pa.timestamp("us")),
        "html": pa.array([], pa.binary()),
        "text": pa.array([], pa.string()),
        "lang": pa.array([], pa.string()),
    })
    write("transient", {"url": pa.array([], pa.string()),
                        "fail_rounds": pa.array([], pa.int32())})
    write("redirects", {"url": pa.array([], pa.string()),
                        "target": pa.array([], pa.string())})

    paths = ["/a", "/b", "/c", "/d", "/private/p", "/private/ok1", "/x1"]
    rows = [
        (i, f"https://{h}{p}", h, p, 0, "", 0)
        for i, (h, p) in enumerate(
            (h, p) for h in (rules_only, budgets_only, neither, both)
            for p in paths
        )
    ]
    frontier = spark.createDataFrame(
        rows, "url_hash long, url string, host string, path string, "
              "depth int, src_url string, attempts int",
    ).select(FRONTIER_COLS)
    out = run_round(cfg, rnd, frontier, _empty_seen(spark),
                    *load_corpus(spark, str(corpus)), len(rows), persist=False)
    fetched = out.fetched_full.select("url", "host", "status").collect()
    deferred = {r["url"] for r in out.new_frontier.collect()}
    assert {r["status"] for r in fetched} == {404}

    selected = {r["url"] for r in fetched}
    assert not selected & deferred
    for _h, url, host, path, *_ in rows:
        want = robots_allowed_py(robots, host, path)
        assert (url in selected | deferred) == want, url
    for host in (rules_only, budgets_only, neither, both):
        allowed = sum(
            robots_allowed_py(robots, host, p) for p in paths
        )
        budget = cfg.host_budget(*budgets.get(host, (None, None, None)), rnd)
        n = sum(r["host"] == host for r in fetched)
        assert n == min(allowed, budget), (host, n, allowed, budget)
