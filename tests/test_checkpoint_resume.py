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


def _write_hand_built_corpus(corpus, robots: dict, budgets: dict) -> None:
    """A corpus of the given robots rules and host budgets (host ->
    (crawl_delay_ms, max_per_round, not_before_ts)) and no page rows:
    every selected URL fetches as a 404 with no links, so the next
    frontier holds exactly the deferred rows."""
    from don_crawler_spark.sources.synth import write_corpus_rows

    corpus.mkdir()
    tables = {
        "robots": [(h, p, a) for h in robots for p, a in robots[h]],
        "host_budgets": [(h, *b) for h, b in budgets.items()],
        "pages": [],
        "transient": [],
        "redirects": [],
    }
    for name, rows in tables.items():
        write_corpus_rows(str(corpus), name, rows)


def _frontier(spark, hosts, paths):
    """Depth-0 frontier rows of every (host, path); -> (rows, DataFrame)."""
    from don_crawler_spark.plans.round import FRONTIER_SCHEMA

    rows = [
        (i, f"https://{h}{p}", h, p, 0, "", 0)
        for i, (h, p) in enumerate((h, p) for h in hosts for p in paths)
    ]
    return rows, spark.createDataFrame(rows, FRONTIER_SCHEMA)


def test_round_handles_hosts_missing_from_either_table(spark, tmp_path) -> None:
    """Hosts with robots rules only, budgets only, neither, and both (in
    back-off): each frontier URL's robots verdict equals the oracle
    matcher's, and each host's selected count equals
    min(allowed candidates, CrawlConfig.host_budget(...))."""
    import datetime as dt

    from don_crawler_spark.functions.robots import robots_allowed_py
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import _empty_seen, load_corpus
    from don_crawler_spark.plans.round import run_round

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
    _write_hand_built_corpus(corpus, robots, budgets)

    paths = ["/a", "/b", "/c", "/d", "/private/p", "/private/ok1", "/x1"]
    rows, frontier = _frontier(
        spark, (rules_only, budgets_only, neither, both), paths
    )
    seen = _empty_seen(spark, str(tmp_path / "seen"))
    out = run_round(cfg, rnd, frontier, seen,
                    *load_corpus(spark, str(corpus)), len(rows))
    fetched = out.fetched_full.select("url", "host", "status").collect()
    deferred = {r["url"] for r in out.new_frontier.collect()}
    for df in out.persisted:  # release the round's caches, as run_crawl does
        df.unpersist()
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


def test_zero_delay_or_cap_means_default(spark, tmp_path) -> None:
    """A crawl_delay_ms or max_per_round of 0 reads as "use the default"
    in the engine, as in CrawlConfig.host_budget: delay 0 with cap 10
    selects 10 (not a division by zero), delay 1000 with cap 0 selects
    min(default cap 100, 60000 // 1000) = 60 (not 0)."""
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import _empty_seen, load_corpus
    from don_crawler_spark.plans.round import run_round

    cfg = CrawlConfig()
    budgets = {
        "zero-delay.example": (0, 10, None),
        "zero-cap.example": (1_000, 0, None),
    }
    corpus = tmp_path / "c"
    _write_hand_built_corpus(corpus, {}, budgets)
    rows, frontier = _frontier(spark, budgets, [f"/p{i}" for i in range(80)])
    seen = _empty_seen(spark, str(tmp_path / "seen"))
    out = run_round(cfg, 1, frontier, seen,
                    *load_corpus(spark, str(corpus)), len(rows))
    fetched = out.fetched_full.select("host").collect()
    for df in out.persisted:  # release the round's caches, as run_crawl does
        df.unpersist()
    got = {h: sum(r["host"] == h for r in fetched) for h in budgets}
    want = {h: cfg.host_budget(*b, 1) for h, b in budgets.items()}
    assert want == {"zero-delay.example": 10, "zero-cap.example": 60}
    assert got == want


def _manifests(ck: str) -> list[str]:
    import os

    return sorted(
        f for f in os.listdir(ck)
        if f.startswith("manifest_") and f.endswith(".json")
    )


def _crawl_base(spark, tmp_path, **corpus_kw) -> tuple[str, str]:
    """A small synth corpus and a checkpoint committed through round 1."""
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import run_crawl
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=200, n_hosts=5, seed=13, n_publishers=3,
                    redirect_rate=0.05, **corpus_kw)
    base = str(tmp_path / "base")
    run_crawl(spark, corpus, base, CrawlConfig(max_rounds=1))
    return corpus, base


def test_repeated_round_reuses_compiled_code(spark, tmp_path) -> None:
    """Every round runs the same plan shape and no per-round literal, so
    a repeat of a round compiles no class. With the default 100-entry
    codegen cache, smaller than one round's ~130 classes, the repeat
    recompiles about a hundred classes."""
    import shutil

    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import run_crawl

    corpus, base = _crawl_base(spark, tmp_path)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    def resume_round_2(ck: str) -> int:
        shutil.copytree(base, ck)
        before = compiles()
        assert run_crawl(spark, corpus, ck, CrawlConfig(max_rounds=2)).rounds == 2
        return compiles() - before

    resume_round_2(str(tmp_path / "first"))
    assert resume_round_2(str(tmp_path / "repeat")) == 0


def test_crawl_reads_run_no_job(spark, tmp_path) -> None:
    """Loading the corpus and reading a committed round's frontier and
    seen set declare every schema: no Spark job (no schema inference)."""
    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.driver import load_corpus

    corpus, base = _crawl_base(spark, tmp_path)
    store = CheckpointStore(base)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = scheduler.nextJobId()
    load_corpus(spark, corpus)
    store.read_table(spark, 1, "frontier")
    store.read_seen(spark, 1)
    assert scheduler.nextJobId() == job0


def test_corpus_table_missing_a_column_fails_before_any_round(
    spark, tmp_path
) -> None:
    """A declared schema alone would read a dropped column as null; the
    footer check raises instead, and the crawl commits nothing."""
    import pyarrow.parquet as pq

    from don_crawler_spark.plans.driver import run_crawl
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=60, n_hosts=3, seed=11, n_publishers=2)
    path = f"{corpus}/host_budgets.parquet"
    pq.write_table(pq.read_table(path).drop_columns(["max_per_round"]), path)
    ck = str(tmp_path / "ck")
    with pytest.raises(ValueError, match="max_per_round"):
        run_crawl(spark, corpus, ck)
    assert _manifests(ck) == []


def test_mistyped_frontier_column_fails_before_the_round_commits(
    spark, tmp_path
) -> None:
    """A frontier checkpoint whose ``depth`` is a string fails the round
    that reads it, and the round commits no manifest."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import run_crawl

    corpus, base = _crawl_base(spark, tmp_path)
    path = CheckpointStore(base).table_path(1, "frontier")
    table = pq.read_table(path)
    k = table.schema.get_field_index("depth")
    mistyped = table.set_column(k, "depth", table["depth"].cast(pa.string()))
    shutil.rmtree(path)  # the part files and their .crc checksums
    os.makedirs(path)
    pq.write_table(mistyped, os.path.join(path, "part-00000.parquet"))
    before = _manifests(base)
    with pytest.raises(Exception, match=r"DATA_TYPE_MISMATCH.*column \[depth\]"):
        run_crawl(spark, corpus, base, CrawlConfig(max_rounds=2))
    assert _manifests(base) == before


def test_budget_expr_matches_host_budget_differentially(spark) -> None:
    """``_budget_expr``, fed the round start as data (``round_values``),
    equals ``CrawlConfig.host_budget`` on seeded inputs over rounds 1-3:
    delay and cap null, 0 or positive; back-off null, or before, at or
    after the round start."""
    import datetime as dt
    import random

    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.round import _budget_expr, round_values

    cfg = CrawlConfig()
    rng = random.Random(20261020)
    bad, shapes = [], set()
    for rnd in (1, 2, 3):
        start = cfg.round_ts(rnd)
        shift = lambda: dt.timedelta(milliseconds=rng.randint(1, 10**7))  # noqa: E731
        rows = [
            (
                i,
                rng.choice([None, 0, rng.randint(1, 120_000)]),
                rng.choice([None, 0, rng.randint(1, 500)]),
                rng.choice([None, start - shift(), start, start + shift()]),
            )
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows,
            "i int, crawl_delay_ms bigint, max_per_round int,"
            " not_before_ts timestamp_ntz",
        ).crossJoin(round_values(spark, cfg, rnd))
        got = dict(df.select("i", _budget_expr(cfg)).collect())
        for i, delay, cap, nb in rows:
            if got[i] != cfg.host_budget(delay, cap, nb, rnd):
                bad.append((rnd, delay, cap, nb, got[i]))
            shapes.add((
                delay if not delay else "pos",
                cap if not cap else "pos",
                nb if nb is None else (nb > start) - (nb < start),
            ))
    assert bad == []
    assert len(shapes) == 3 * 3 * 4  # every combination was drawn


def test_status_chain_matches_oracle_differentially(spark) -> None:
    """The round's status chain, fed the round number as data, equals
    the oracle's ``fetch_status`` (301 -> 404 -> 503 -> 200) on seeded
    URLs over rounds 1-3: fail_rounds absent or rnd-1, rnd, rnd+1; with
    and without a page; redirect aliases, some also transient."""
    import random

    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.oracle import fetch_status
    from don_crawler_spark.plans.round import _status_expr, round_values

    cfg = CrawlConfig()
    rng = random.Random(20261021)
    bad, statuses = [], set()
    for rnd in (1, 2, 3):
        pages, redirects, transient, rows = {}, {}, {}, []
        for i in range(300):
            url = f"https://h{i % 7}.example/p{i}"
            if rng.random() < 0.7:
                pages[url] = b"<p>x</p>"
            if rng.random() < 0.25:
                redirects[url] = f"https://h{i % 7}.example/q{i}"
            fail = rng.choice([None, rnd - 1, rnd, rnd + 1])
            if fail is not None:
                transient[url] = fail
            text = rng.choice(["t", ""]) if url in pages else None
            rows.append((i, url, redirects.get(url), text, fail))
        df = spark.createDataFrame(
            rows, "i int, url string, target string, text string, fail_rounds int"
        ).crossJoin(round_values(spark, cfg, rnd))
        got = dict(df.select("i", _status_expr()).collect())
        for i, url, target, text, fail in rows:
            want = fetch_status(url, rnd, pages, redirects, transient)
            statuses.add(want)
            if got[i] != want:
                bad.append((rnd, target, text, fail, got[i], want))
        # a redirect alias inside its transient window is still a 301
        assert any(
            t is not None and f is not None and rnd <= f
            for _, _, t, _, f in rows
        )
    assert bad == []
    assert statuses == {200, 301, 404, 503}


def test_robots_col_matches_oracle_differentially(spark) -> None:
    """``compile_rules`` + ``robots_allowed_col`` equal ``robots_allowed_py``
    on seeded rule sets and paths: overlapping allow and deny prefixes,
    one prefix with both verdicts (the length tie goes to allow), the
    empty prefix, %-escapes and non-ASCII characters; hosts with no
    robots rows, and rows with a null ``path_prefix`` (no rule)."""
    import random

    from pyspark.sql import functions as F

    from don_crawler_spark.functions.robots import (
        compile_rules,
        robots_allowed_col,
        robots_allowed_py,
    )

    rng = random.Random(20261022)
    segments = ["", "/", "a", "ab", "/a", "/a/", "b", "%2F", "%2f", "%E2%82%AC",
                "€", "é", "e\u0301", "日本", "%", "%20", " ", "?q=1", "\U0001f600"]

    def gen(k: int) -> str:
        return "".join(rng.choice(segments) for _ in range(k))

    hosts = [f"h{h}.example" for h in range(120)]
    rules: dict[str, list] = {}
    for host in hosts[1:]:  # hosts[0] has no robots rows
        rs = rules[host] = [(None, rng.random() < 0.5)]  # a row with no rule
        for _ in range(rng.randrange(0, 8)):
            prefix = (rng.choice(["", "/"]) if rng.random() < 0.2
                      else "/" + gen(rng.randrange(1, 4)))
            rs.append((prefix, rng.random() < 0.5))
            if rng.random() < 0.3:  # the same prefix with both verdicts
                rs.append((prefix, not rs[-1][1]))
    rows = []
    for i in range(6000):
        host = rng.choice(hosts)
        # half the paths extend one of the host's own prefixes
        own = [p for p, _ in rules.get(host, []) if p is not None]
        base = rng.choice(own) if own and rng.random() < 0.5 else "/"
        rows.append((i, host, base + gen(rng.randrange(4))))
    robots = spark.createDataFrame(
        [(h, p, a) for h, rs in rules.items() for p, a in rs],
        "host string, path_prefix string, allow boolean",
    )
    got = dict(
        spark.createDataFrame(rows, "i int, host string, path string")
        .join(compile_rules(robots), "host", "left")
        .select("i", robots_allowed_col(F.col("rules"), F.col("path")))
        .collect()
    )
    bad = [(h, p, got[i]) for i, h, p in rows
           if got[i] != robots_allowed_py(rules, h, p)]
    assert bad == []
    # the generator reaches both verdicts, the length tie and the empty prefix
    allowed = sum(robots_allowed_py(rules, h, p) for _, h, p in rows)
    assert 0.1 * len(rows) < allowed < 0.9 * len(rows)
    assert any(("", False) in rs for rs in rules.values())
    assert any(
        (p, True) in rs and (p, False) in rs for rs in rules.values() for p, _ in rs
    )


def test_new_round_reuses_compiled_code(spark, tmp_path) -> None:
    """The round number and the round start enter a round's plan as
    data, not literals, so a new round runs the code the previous round
    compiled: resuming round 3 after round 2 compiles at most 2 classes."""
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import run_crawl

    corpus, base = _crawl_base(spark, tmp_path)
    assert run_crawl(spark, corpus, base, CrawlConfig(max_rounds=2)).rounds == 2
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    assert run_crawl(spark, corpus, base, CrawlConfig(max_rounds=3)).rounds == 3
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before <= 2


def test_crawl_keeps_the_callers_caches(spark, tmp_path) -> None:
    """A crawl drops its own round caches and no other: a frame the
    caller persisted before ``run_crawl`` is still cached afterwards,
    and no cached RDD of the crawl's rounds remains."""
    from pyspark import StorageLevel

    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import run_crawl

    corpus, base = _crawl_base(spark, tmp_path)
    mine = spark.range(100).selectExpr("id * 2 AS x").persist()
    assert mine.count() == 100
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert run_crawl(spark, corpus, base, CrawlConfig(max_rounds=2)).rounds == 2
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert mine.storageLevel != StorageLevel.NONE
    assert after - before == set()
    assert before & after  # the caller's cached RDD
    mine.unpersist()
