"""Golden-trace parity: the Spark engine must reproduce the sequential
oracle's crawl ordering, seen-set, and extracted text EXACTLY
(north_rule: "matching the reference's crawl ordering and URL-seen set
under the same seed list + politeness budget")."""

from __future__ import annotations

import shutil

import pytest

from don_crawler_spark.plans.config import CrawlConfig
from don_crawler_spark.plans.oracle import crawl_oracle
from don_crawler_spark.sources.synth import generate_corpus

CFG = CrawlConfig(max_rounds=8)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus"))
    generate_corpus(out, n_pages=300, n_hosts=12, seed=42, n_publishers=4)
    return out


@pytest.fixture(scope="module")
def oracle(corpus):
    return crawl_oracle(corpus, CFG)


@pytest.fixture(scope="module")
def engine_ckpt(spark, corpus, tmp_path_factory):
    from don_crawler_spark.plans.driver import run_crawl

    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    summary = run_crawl(spark, corpus, ckpt, CFG)
    return ckpt, summary


def _engine_trace(spark, ckpt, upto):
    from don_crawler_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(ckpt)
    df = store.read_all(spark, "trace", upto)
    return sorted(
        (r["round"], r["seq_in_round"], r["host"], r["url"], r["status"])
        for r in df.collect()
    )


def _assert_frontier_disjoint_from_seen(spark, ckpt, rounds) -> None:
    """run_round's input invariant: for every committed round K,
    frontier(K) ∩ read_seen(K) = ∅ (round 0's seed frontier meets an empty
    seen set) -- the round's only seen check is the one that builds the
    next frontier."""
    from don_crawler_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(ckpt)
    for rnd in range(rounds + 1):
        frontier = store.read_table(spark, rnd, "frontier")
        seen = store.read_seen(spark, rnd)
        if seen is None:
            assert rnd == 0
            continue
        hits = frontier.join(seen, "url_hash", "left_semi").count()
        assert hits == 0, f"round {rnd}: {hits} frontier rows already seen"


def _assert_budget_cut_invariants(spark, corpus, ckpt, rounds) -> int:
    """The budget cut's invariants on every committed round K; returns the
    number of deferred rows over all rounds.

    * budget bound: per host, rows in fetched(K) <= CrawlConfig.host_budget
      for that host in round K (hosts missing from the budgets table get
      the default quota).
    * conservation: every distinct url_hash of frontier(K-1) is exactly
      one of: denied by robots; fetched in round K; carried into
      frontier(K) unchanged as a deferred row. A fetched URL leaves the
      frontier, except a retriable 503, which is in fetched(K) AND
      requeues in frontier(K) with attempts + 1."""
    from collections import Counter

    import pyarrow.parquet as pq

    from don_crawler_spark.functions.robots import apply_robots_filter
    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.round import FRONTIER_COLS, _dedup_frontier

    store = CheckpointStore(ckpt)
    robots = spark.read.parquet(f"{corpus}/robots.parquet")
    budgets = {
        b["host"]: b
        for b in pq.read_table(f"{corpus}/host_budgets.parquet").to_pylist()
    }
    n_deferred = 0
    for rnd in range(1, rounds + 1):
        cand_df = _dedup_frontier(store.read_table(spark, rnd - 1, "frontier"))
        cand = {
            r["url_hash"]: tuple(r)
            for r in cand_df.select(FRONTIER_COLS).collect()
        }
        denied = {
            r["url_hash"]
            for r in apply_robots_filter(cand_df, robots)[1].collect()
        }
        fetched = (
            store.read_table(spark, rnd, "fetched_full")
            .select("url_hash", "host", "__seen_eligible")
            .collect()
        )
        nxt = {
            tuple(r)
            for r in store.read_table(spark, rnd, "frontier")
            .select(FRONTIER_COLS)
            .collect()
        }

        for host, n in Counter(r["host"] for r in fetched).items():
            b = budgets.get(host, {})
            budget = CFG.host_budget(
                b.get("crawl_delay_ms"), b.get("max_per_round"),
                b.get("not_before_ts"), rnd,
            )
            assert n <= budget, f"round {rnd}: {host} fetched {n} > {budget}"

        fetched_hashes = {r["url_hash"] for r in fetched}
        assert len(fetched_hashes) == len(fetched), f"round {rnd}: refetch"
        deferred = {h for h, row in cand.items() if row in nxt}
        for h in cand:
            homes = (h in denied) + (h in fetched_hashes) + (h in deferred)
            assert homes == 1, f"round {rnd}: url_hash {h} in {homes} sets"
        assert fetched_hashes <= cand.keys(), f"round {rnd}: fetched non-candidate"
        nxt_hashes = {row[0] for row in nxt}
        for r in fetched:
            h = r["url_hash"]
            if r["__seen_eligible"]:
                assert h not in nxt_hashes, f"round {rnd}: {h} fetched and requeued"
            else:
                retry = cand[h][:-1] + (cand[h][-1] + 1,)
                assert retry in nxt, f"round {rnd}: retriable 503 {h} not requeued"
        n_deferred += len(deferred)
    return n_deferred


def test_oracle_sanity(oracle) -> None:
    assert oracle.rounds >= 3, "corpus should take several rounds"
    assert len(oracle.seen) > 100
    statuses = {s for (_, _, _, _, s) in oracle.trace}
    assert statuses == {200, 404, 503}, (
        "dead links -> 404 and transient failures -> 503 should both occur"
    )
    denied = sum(m["robots_denied"] for m in oracle.metrics)
    assert denied > 0, "robots rules should deny something"
    retried = sum(m["fetched_503"] for m in oracle.metrics)
    assert retried > 0, "transient failures should be exercised"
    # a 503'd URL is retried and eventually succeeds — appears 2+ times
    from collections import Counter

    by_url = Counter(u for (_, _, _, u, _) in oracle.trace)
    multi = [u for u, c in by_url.items() if c > 1]
    assert multi, "at least one URL should be fetched more than once (retry)"


def test_trace_matches_oracle(spark, engine_ckpt, oracle) -> None:
    ckpt, summary = engine_ckpt
    assert summary.rounds == oracle.rounds
    got = _engine_trace(spark, ckpt, summary.rounds)
    want = sorted(oracle.trace)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, f"trace row diverged: engine={g} oracle={w}"


def test_seen_set_matches_oracle(spark, engine_ckpt, oracle) -> None:
    from don_crawler_spark.plans.checkpoint import CheckpointStore

    ckpt, summary = engine_ckpt
    store = CheckpointStore(ckpt)
    seen = store.read_seen(spark, summary.rounds)
    got = {r["url"]: (r["url_hash"], r["first_round"]) for r in seen.collect()}
    assert got == oracle.seen


def test_extracted_text_byte_exact(spark, engine_ckpt, oracle, corpus) -> None:
    """100% byte-exactness of extracted text vs (a) the oracle extractor
    run and (b) the corpus's golden ``text`` column."""
    from don_crawler_spark.plans.checkpoint import CheckpointStore

    ckpt, summary = engine_ckpt
    store = CheckpointStore(ckpt)
    fetched = store.read_all(spark, "fetched", summary.rounds)
    got = {
        r["url"]: r["text"]
        for r in fetched.filter("status = 200").collect()
    }
    assert set(got) == set(oracle.text)
    for url, text in oracle.text.items():
        assert got[url].encode("utf-8") == text.encode("utf-8"), url
    golden = {
        r["url"]: r["text"]
        for r in spark.read.parquet(f"{corpus}/pages.parquet")
        .select("url", "text")
        .collect()
        if r["url"] in got
    }
    for url, text in golden.items():
        assert got[url].encode("utf-8") == text.encode("utf-8"), url


def test_committed_frontier_disjoint_from_seen(spark, engine_ckpt) -> None:
    ckpt, summary = engine_ckpt
    _assert_frontier_disjoint_from_seen(spark, ckpt, summary.rounds)


def test_budget_cut_invariants(spark, corpus, engine_ckpt) -> None:
    ckpt, summary = engine_ckpt
    n_deferred = _assert_budget_cut_invariants(spark, corpus, ckpt, summary.rounds)
    assert n_deferred > 0, "the budget should defer something"


@pytest.fixture(scope="module")
def transient_run(spark, tmp_path_factory):
    """A crawl of a corpus with more retriable 503s."""
    from don_crawler_spark.plans.driver import run_crawl

    corpus = str(tmp_path_factory.mktemp("corpus_transient"))
    generate_corpus(corpus, n_pages=300, n_hosts=12, seed=42, n_publishers=4,
                    transient_rate=0.05)
    ckpt = str(tmp_path_factory.mktemp("ckpt_transient"))
    return corpus, ckpt, run_crawl(spark, corpus, ckpt, CFG)


def test_transient_corpus_frontier_disjoint_from_seen(spark, transient_run) -> None:
    """Requeued attempts stay out of the seen set, so the disjointness
    holds and the crawl still matches the oracle."""
    corpus, ckpt, summary = transient_run
    oracle = crawl_oracle(corpus, CFG)
    assert summary.rounds == oracle.rounds
    _assert_frontier_disjoint_from_seen(spark, ckpt, summary.rounds)
    assert _engine_trace(spark, ckpt, summary.rounds) == sorted(oracle.trace)


def test_transient_corpus_budget_cut_invariants(spark, transient_run) -> None:
    corpus, ckpt, summary = transient_run
    _assert_budget_cut_invariants(spark, corpus, ckpt, summary.rounds)


def test_metrics_recorded(spark, engine_ckpt) -> None:
    import os

    from don_crawler_spark.plans.checkpoint import CheckpointStore

    ckpt, summary = engine_ckpt
    store = CheckpointStore(ckpt)
    m = store.read_all(spark, "metrics", summary.rounds)
    assert [(f.name, f.dataType.simpleString()) for f in m.schema] == [
        ("partition_id", "int"),
        ("urls_fetched", "bigint"),
        ("urls_200", "bigint"),
        ("links_emitted", "bigint"),
        ("round", "int"),
    ]
    rows = m.collect()
    assert {r["round"] for r in rows} == set(range(1, summary.rounds + 1))
    total = sum(r["urls_fetched"] for r in rows)
    assert total == summary.urls_fetched
    for rnd in range(1, summary.rounds + 1):
        counters = store.read_manifest(rnd)["counters"]
        # the manifest's counters are the sums of the round's metrics
        in_round = [r for r in rows if r["round"] == rnd]
        assert sum(r["urls_fetched"] for r in in_round) == counters["selected"]
        assert sum(r["urls_200"] for r in in_round) == counters["fetched_200"]
        # one data file per round's metrics table
        files = os.listdir(store.table_path(rnd, "metrics"))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, files
        # the frontier count that sized the round's Bloom, read from
        # driver-side metadata
        assert counters["n_frontier"] == store.row_count(rnd - 1, "frontier")


def test_resume_loses_at_most_one_round(
    spark, corpus, oracle, tmp_path_factory
) -> None:
    """Kill after round k (simulated: cap max_rounds), restart from the
    checkpoint, final state identical to an uninterrupted run."""
    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.driver import run_crawl

    ckpt = str(tmp_path_factory.mktemp("ckpt_resume"))
    partial = run_crawl(spark, corpus, ckpt, CrawlConfig(max_rounds=2))
    assert partial.rounds == 2

    # simulate a crash mid-round-3: a round directory without a manifest
    store = CheckpointStore(ckpt)
    import os

    os.makedirs(store.table_path(3, "trace"), exist_ok=True)
    assert store.latest_round() == 2

    full = run_crawl(spark, corpus, ckpt, CFG)
    assert full.resumed_from == 2
    assert full.rounds == oracle.rounds

    got = _engine_trace(spark, ckpt, full.rounds)
    assert got == sorted(oracle.trace)
    seen = store.read_seen(spark, full.rounds)
    got_seen = {r["url"]: (r["url_hash"], r["first_round"]) for r in seen.collect()}
    assert got_seen == oracle.seen
    _assert_frontier_disjoint_from_seen(spark, ckpt, full.rounds)


# --- 301 redirect aliases -----------------------------------------------------


@pytest.fixture(scope="module")
def redirect_corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus_redir"))
    generate_corpus(
        out, n_pages=300, n_hosts=12, seed=42, n_publishers=4,
        redirect_rate=0.15,
    )
    return out


def test_redirect_corpus_parity(spark, redirect_corpus, tmp_path_factory) -> None:
    """301 semantics end-to-end: aliases fetch as status 301, enqueue
    exactly their Location target, enter the seen-set, and the engine
    reproduces the oracle's trace / seen-set exactly. The same seed
    without redirects must stay byte-identical (separate rng stream), so
    the pinned golden traces remain valid."""
    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.driver import run_crawl

    oracle = crawl_oracle(redirect_corpus, CFG)
    statuses = {s for (_, _, _, _, s) in oracle.trace}
    assert 301 in statuses, "redirect aliases should be crawled"
    assert statuses >= {200, 301, 404}
    n_301 = sum(1 for (_, _, _, _, s) in oracle.trace if s == 301)
    assert n_301 >= 3, f"expected several 301 fetches, got {n_301}"

    ckpt = str(tmp_path_factory.mktemp("ckpt_redir"))
    summary = run_crawl(spark, redirect_corpus, ckpt, CFG)
    assert summary.rounds == oracle.rounds
    got = _engine_trace(spark, ckpt, summary.rounds)
    want = sorted(oracle.trace)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, f"trace row diverged: engine={g} oracle={w}"

    store = CheckpointStore(ckpt)
    seen = store.read_seen(spark, summary.rounds)
    got_seen = {r["url"]: (r["url_hash"], r["first_round"]) for r in seen.collect()}
    assert got_seen == oracle.seen
    _assert_frontier_disjoint_from_seen(spark, ckpt, summary.rounds)


def test_redirect_rate_zero_leaves_corpus_identical(tmp_path_factory) -> None:
    """redirect_rate uses a separate rng stream: the default corpus is
    byte-identical with the parameter absent vs explicit 0.0 (pages,
    links, budgets — everything the golden traces pin)."""
    import pyarrow.parquet as pq_

    a = str(tmp_path_factory.mktemp("corpus_a"))
    b = str(tmp_path_factory.mktemp("corpus_b"))
    generate_corpus(a, n_pages=120, n_hosts=8, seed=7, n_publishers=3)
    generate_corpus(
        b, n_pages=120, n_hosts=8, seed=7, n_publishers=3, redirect_rate=0.0
    )
    for tbl in ("pages.parquet", "seeds.parquet", "robots.parquet",
                "host_budgets.parquet", "transient.parquet"):
        ta = pq_.read_table(f"{a}/{tbl}")
        tb = pq_.read_table(f"{b}/{tbl}")
        assert ta.equals(tb), tbl
    assert pq_.read_table(f"{a}/redirects.parquet").num_rows == 0


# --- malformed links ----------------------------------------------------------


def test_malformed_links_are_dropped_not_fatal(spark, tmp_path) -> None:
    """canonicalize_url raises ValueError on these three URLs (an
    unbalanced bracket, a bracketed IPv4 address, a netloc whose NFKC
    form holds '/'). As hrefs on fetched pages, as a seed and as a
    redirect target they are dropped: the crawl runs two rounds and
    its trace and seen set equal the oracle's."""
    import datetime as dt

    from don_crawler_spark.functions.urls import canonical_link
    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.driver import run_crawl
    from don_crawler_spark.sources.synth import write_corpus_rows

    malformed = ["http://[x", "http://[1.2.3.4]/", "https://a／b/x"]
    assert [canonical_link(u) for u in malformed] == [None] * 3

    def page(url, hrefs):
        html = "<html><body><p>page</p>" + "".join(
            f'<a href="{h}">l</a>' for h in hrefs) + "</body></html>"
        return (url, dt.datetime(2024, 1, 1), html.encode(), "page", "en")

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    tables = {
        "pages": [
            page("https://a.example", ["/p1", "/old", "https://b.example/q", *malformed]),
            page("https://a.example/p1", ["/p2", malformed[0]]),
            page("https://a.example/p2", []),
            page("https://b.example/q", [malformed[2], "/r"]),
        ],
        "seeds": [("p", "P", "https://a.example/", ["https://a.example/p1", malformed[1]], "")],
        "robots": [],
        "host_budgets": [],
        "transient": [],
        "redirects": [("https://a.example/old", malformed[2])],
    }
    for name, rows in tables.items():
        write_corpus_rows(str(corpus), name, rows)

    cfg = CrawlConfig(max_rounds=2)
    oracle = crawl_oracle(str(corpus), cfg)
    assert oracle.rounds == 2
    ckpt = str(tmp_path / "ckpt")
    summary = run_crawl(spark, str(corpus), ckpt, cfg)
    assert summary.rounds == 2
    assert _engine_trace(spark, ckpt, 2) == sorted(oracle.trace)
    seen = CheckpointStore(ckpt).read_seen(spark, 2)
    assert {r["url"]: (r["url_hash"], r["first_round"]) for r in seen.collect()} == oracle.seen
