"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the executed plans (broadcasts, pushdowns,
partial aggregation, no html in any exchange of the fetch join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute first: under AQE, codegen/join choices only appear in the
    final plan."""
    df.write.mode("overwrite").format("noop").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _python_nodes(plan: str) -> list[str]:
    """The lines of a physical plan that run Python (a UDF, a pandas or
    Arrow map) or scan a Python RDD (``createDataFrame``)."""
    nodes = ("EvalPython", "InPandas", "InArrow", "ExistingRDD")
    return [line for line in plan.splitlines() if any(n in line for n in nodes)]


def test_j1_broadcasts_the_dimension(spark) -> None:
    import __spark_entry__ as em

    plan = _plan(em.queries()["j1_broadcast_enrichment"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the dimension (part) side is the build side, never shuffled
    assert "SortMergeJoin" not in plan


def test_range_join_is_broadcast_nested_loop(spark) -> None:
    import __spark_entry__ as em

    plan = _plan(em.queries()["a6_range_scoring"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_filter_pushdown_reaches_parquet(spark) -> None:
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    # column pruning: only the 2 projected columns are read
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_aggregation_is_partial_then_final(spark) -> None:
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = _plan(df)
    # map-side combine before the exchange (two HashAggregate operators)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_fetch_join_never_shuffles_pages(spark, tmp_path) -> None:
    """The round's one fetch shape: the pages scan is Bloom-pruned by the
    selected keys BELOW extraction, then shuffle-hash joined on url_hash;
    html never crosses an exchange and the selected set is never
    broadcast."""
    from don_crawler_spark.plans.checkpoint import CheckpointStore
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import _empty_seen, load_corpus
    from don_crawler_spark.plans.round import frontier_from_seeds, run_round
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=150, n_hosts=6, seed=21, n_publishers=3)
    frontier = frontier_from_seeds(spark.read.parquet(f"{corpus}/seeds.parquet"))

    # the Bloom is sized from the frontier count the driver reads from
    # checkpoint parquet FOOTERS (no Spark job): it must be exact
    store = CheckpointStore(str(tmp_path / "ckpt"))
    store.write_table(frontier, 0, "frontier")
    n_frontier = store.row_count(0, "frontier")
    assert n_frontier == frontier.count()

    out = run_round(
        CrawlConfig(), 1, frontier, _empty_seen(spark, str(tmp_path / "seen")),
        *load_corpus(spark, corpus), n_frontier, persist=False,
    )
    plan = _plan(out.fetched_full)
    assert "ShuffledHashJoin" in plan
    # no broadcast-semi prune of pages (the broadcasts that remain are
    # the host dimension, the URL dimension and the seq offsets)
    assert "LeftSemi, BuildRight" not in plan
    # html is read at the scan but never above the last exchange:
    # extraction stays map-side
    assert "html" in plan
    assert "html" not in plan.split("Exchange")[0]
    # extraction is O(selected), not O(corpus): the might_contain filter
    # sits BELOW the link-extraction projection (deeper in the tree)
    assert "might_contain" in plan
    assert plan.index("regexp_extract_all") < plan.index("might_contain")



def test_fetch_join_degrades_to_shuffle_hash_over_threshold(spark, tmp_path) -> None:
    """A frontier count far past any broadcast-sized set (10^9, over
    Spark's runtime.bloomFilter caps too) keeps the one fetch shape: the
    Bloom arguments are clamped by Spark, the join stays shuffle-hash, and
    the fetched rows equal those of the round sized from the exact count."""
    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import _empty_seen, load_corpus
    from don_crawler_spark.plans.round import frontier_from_seeds, run_round
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=150, n_hosts=6, seed=21, n_publishers=3)
    frontier = frontier_from_seeds(spark.read.parquet(f"{corpus}/seeds.parquet"))

    def fetched(n_frontier):
        return run_round(
            CrawlConfig(), 1, frontier, _empty_seen(spark, str(tmp_path / "seen")),
            *load_corpus(spark, corpus), n_frontier, persist=False,
        ).fetched_full

    exact, huge = fetched(frontier.count()), fetched(10**9)
    plan = _plan(huge)
    assert "ShuffledHashJoin" in plan
    assert "LeftSemi, BuildRight" not in plan
    assert "might_contain" in plan
    cols = ["url", "status", "seq_in_round", "text"]
    want = sorted(map(tuple, exact.select(*cols).collect()))
    got = sorted(map(tuple, huge.select(*cols).collect()))
    assert got == want and len(got) > 0

def test_robots_filter_is_shuffle_free(spark) -> None:
    from don_crawler_spark.functions.robots import apply_robots_filter

    frontier = spark.createDataFrame(
        [(1, "https://a.example/x", "a.example", "/x", 0, "", 0)],
        "url_hash long, url string, host string, path string, depth int, src_url string, attempts int",
    )
    robots = spark.createDataFrame(
        [("a.example", "/", True)], "host string, path_prefix string, allow boolean"
    )
    allowed, _denied = apply_robots_filter(frontier, robots)
    plan = _plan(allowed)
    # broadcast join; the frontier (streamed) side sits directly under it
    # with no exchange — the only shuffle is the tiny per-host rule agg
    assert "BroadcastHashJoin" in plan
    streamed = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange" not in streamed
    assert "Scan" in streamed


def test_no_python_udf_in_native_queries(spark) -> None:
    """Queries documented as JVM-only must stay whole-stage-codegen'd."""
    import __spark_entry__ as em

    for name in ["t5_budget_rank", "j1_broadcast_enrichment", "text_fingerprint",
                 "text_quality_score", "a7_vitality_index"]:
        assert _python_nodes(_plan(em.queries()[name](spark, SF))) == [], name


def _round_on_fixture(spark, tmp_path, cfg, persist: bool):
    """Round 1 over the 150-page / 6-host corpus, against a one-row seen
    set (an empty one would let Catalyst drop the anti-join), built in
    the JVM like every input of a crawl."""
    from don_crawler_spark.plans.driver import load_corpus
    from don_crawler_spark.plans.round import frontier_from_seeds, run_round
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=150, n_hosts=6, seed=21, n_publishers=3)
    frontier = frontier_from_seeds(spark.read.parquet(f"{corpus}/seeds.parquet"))
    return run_round(
        cfg,
        1,
        frontier,
        spark.range(1).selectExpr(
            "0L AS url_hash", "'https://elsewhere.example/' AS url", "0 AS first_round"
        ),
        *load_corpus(spark, corpus),
        frontier.count(),
        persist=persist,
    )


def test_enriched_round_plan_has_no_python_udf(spark, tmp_path) -> None:
    """With enrich_fetched=True the round DAG (extract + links +
    simhash_v2 + quality stats + link canonicalization) holds no Python
    node at all (r2 finding: the v1 simhash pandas UDF sat on this path).

    The round checks the seen set once: no anti-join on the way to
    ``fetched_full`` and exactly one (the new links against the updated
    seen set) in the ``new_frontier`` DAG, before and after the
    optimizer (the new links are one branch, so it has no branch to
    copy the anti-join into). The seen set is non-empty, so Catalyst
    cannot drop an anti-join against it as a join with an empty
    relation.

    The budget cut is one window per host: every ``row_number()`` window
    led by ``host`` in the analyzed ``fetched_full`` plan partitions by
    ``host`` alone (no salted pre-rank partitioned by ``host, salt``)."""
    import re

    from don_crawler_spark.plans.config import CrawlConfig

    out = _round_on_fixture(
        spark, tmp_path, CrawlConfig(enrich_fetched=True), persist=False
    )
    for df in (out.fetched_full, out.new_frontier):
        assert _python_nodes(_plan(df)) == []
    assert "LeftAnti" not in _optimized(out.fetched_full)
    analyzed = out.new_frontier._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("LeftAnti") == 1
    assert _optimized(out.new_frontier).count("LeftAnti") == 1
    host_windows = [
        re.sub(r"#\d+L?", "", spec).split(", ")
        for spec in re.findall(
            r"Window \[row_number\(\) .*? AS \w+#\d+\], \[([^\]]*)\]",
            out.fetched_full._jdf.queryExecution().analyzed().toString(),
        )
    ]
    host_windows = [spec for spec in host_windows if spec[0] == "host"]
    assert host_windows, "no per-host budget window in the plan"
    assert all(spec == ["host"] for spec in host_windows), host_windows


def test_seed_frontier_and_empty_seen_run_no_python(spark, tmp_path) -> None:
    """A crawl's first inputs, the seed frontier (canonicalized seeds)
    and the empty seen set, are planned without a Python node."""
    from don_crawler_spark.plans.driver import (
        SEEN_SCHEMA,
        _empty_seen,
        read_corpus_table,
    )
    from don_crawler_spark.plans.round import frontier_from_seeds
    from don_crawler_spark.sources.synth import generate_corpus

    corpus = str(tmp_path / "c")
    generate_corpus(corpus, n_pages=150, n_hosts=6, seed=21, n_publishers=3)
    frontier = frontier_from_seeds(read_corpus_table(spark, corpus, "seeds"))
    assert frontier.count() > 0
    assert _python_nodes(_plan(frontier)) == []
    seen = _empty_seen(spark, str(tmp_path / "seen"))
    assert _python_nodes(_plan(seen)) == []
    assert seen.schema == SEEN_SCHEMA and seen.count() == 0


def test_crawl_starts_no_python_worker(tmp_path) -> None:
    """A fresh session crawls two rounds of a 300-page corpus and no
    Python worker factory exists afterwards (the JVM creates one for the
    first job that needs a Python worker). The same probe then counts
    the factory one Python RDD job creates, so it can see one."""
    import os
    import subprocess
    import sys

    script = """
import sys
from don_crawler_spark.plans.config import CrawlConfig
from don_crawler_spark.plans.driver import run_crawl
from don_crawler_spark.session import get_spark
from don_crawler_spark.sources.synth import generate_corpus

corpus, ckpt = sys.argv[1:]
generate_corpus(corpus, n_pages=300, n_hosts=12, seed=42, n_publishers=4)
spark = get_spark("no-python-worker", cpus=2, shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g"})
workers = spark._jvm.org.apache.spark.SparkEnv.get().pythonWorkers()
summary = run_crawl(spark, corpus, ckpt, CrawlConfig(max_rounds=2))
after_crawl = workers.size()
spark.createDataFrame([(1,)], "x int").count()
print("RESULT", summary.rounds, summary.urls_fetched, after_crawl, workers.size())
spark.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [root, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "c"), str(tmp_path / "k")],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    assert proc.returncode == 0 and result, proc.stderr[-3000:]
    rounds, fetched, after_crawl, after_rdd_job = map(int, result[0].split()[1:])
    assert rounds == 2 and fetched > 0
    assert after_crawl == 0
    assert after_rdd_job == 1


def test_round_materializes_three_caches(spark, tmp_path) -> None:
    """Each round intermediate is computed once: writing both outputs
    fills exactly three caches -- the budget-window output ``ranked``,
    the sequenced ``selected`` and ``enriched`` (no separate cache for
    the deferred rows or the pre-sequence selected set). Counted as new
    persistent RDD ids: RDDs persisted by earlier tests may be released
    by the context cleaner meanwhile, so a size diff is unreliable."""
    from don_crawler_spark.plans.config import CrawlConfig

    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    out = _round_on_fixture(spark, tmp_path, CrawlConfig(), persist=True)
    out.fetched_full.write.parquet(str(tmp_path / "fetched_full"))
    out.new_frontier.write.parquet(str(tmp_path / "frontier"))
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    spark.catalog.clearCache()
    assert len(after - before) == 3


def test_seen_check_runs_on_new_links_only(spark, tmp_path) -> None:
    """The next frontier is coalesce(deferred ∪ new links ∪ retries), and
    only the new-links branch is anti-joined against the seen set:
    deferred and retry rows cannot be seen (run_round's INVARIANT)."""
    from don_crawler_spark.plans.config import CrawlConfig

    out = _round_on_fixture(spark, tmp_path, CrawlConfig(), persist=False)
    analyzed = out.new_frontier._jdf.queryExecution().analyzed()
    assert analyzed.nodeName() == "Repartition"  # the coalesce
    union = analyzed.children().apply(0)
    assert union.nodeName() == "Union"
    branches = [
        union.children().apply(i).toString()
        for i in range(union.children().size())
    ]
    assert ["LeftAnti" in b for b in branches] == [False, True, False]


def _stacked_broadcast_joins(plan: str, key: str) -> list[str]:
    """BroadcastHashJoin lines keyed on ``key`` alone whose nearest join
    below (the first join line in the node's own subtree) is another
    BroadcastHashJoin keyed on ``key``."""
    import re

    lines = plan.splitlines()
    depth = [len(line) - len(line.lstrip(" :+-")) for line in lines]

    def bhj_on_key(line: str) -> bool:
        m = re.search(r"BroadcastHashJoin \[([^\]]*)\]", line)
        return m is not None and re.sub(r"#\d+L?", "", m.group(1)) == key

    stacked = []
    for i, line in enumerate(lines):
        if not bhj_on_key(line):
            continue
        for j in range(i + 1, len(lines)):
            if depth[j] <= depth[i]:
                break
            if "Join" in lines[j]:
                if bhj_on_key(lines[j]):
                    stacked.append(f"{line.strip()} over {lines[j].strip()}")
                break
    return stacked


def test_round_joins_each_dimension_once(spark, tmp_path) -> None:
    """The host dimension (robots rules + budget inputs) and the URL
    dimension (redirect target + transient fail_rounds) are each one
    broadcast join: no BroadcastHashJoin on ``host`` (or ``url``) sits
    directly above another on the same key in the executed plan."""
    from don_crawler_spark.plans.config import CrawlConfig

    out = _round_on_fixture(spark, tmp_path, CrawlConfig(), persist=False)
    plan = _final_plan(out.fetched_full)
    for key in ("host", "url"):
        assert "BroadcastHashJoin [" + key + "#" in plan, key
        assert _stacked_broadcast_joins(plan, key) == [], key


def test_fetch_falls_back_to_unpruned_scan(spark, tmp_path, monkeypatch) -> None:
    """Without the native Bloom expressions the round scans pages
    un-pruned: no might_contain in the plan, the same fetched rows."""
    from don_crawler_spark.functions import native_bloom
    from don_crawler_spark.plans.config import CrawlConfig

    cols = ["url", "status", "seq_in_round", "text"]
    pruned = _round_on_fixture(spark, tmp_path / "a", CrawlConfig(), persist=False)
    assert "might_contain" in _plan(pruned.fetched_full)
    want = sorted(map(tuple, pruned.fetched_full.select(*cols).collect()))

    monkeypatch.setattr(native_bloom, "bloom_membership_col", lambda *a: None)
    unpruned = _round_on_fixture(spark, tmp_path / "b", CrawlConfig(), persist=False)
    assert "might_contain" not in _plan(unpruned.fetched_full)
    got = sorted(map(tuple, unpruned.fetched_full.select(*cols).collect()))
    assert got == want and len(got) > 0


def test_topk_uses_window_group_limit(spark) -> None:
    """Catalyst pushes the rank<=k filter into a WindowGroupLimit
    (partial+final top-k, the T1/T5 'PerPage: 1' pushdown analogue —
    scanner/github.go:276-278)."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["t5_budget_rank"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final


def test_gemm_near_dup_is_distributed_no_collect(spark) -> None:
    """The embedding near-dup GEMM must be a cogrouped distributed plan:
    building the DataFrame runs at most the one block-sizing count job,
    and the plan is FlatMapCoGroupsInPandas over the block-pair key —
    no driver-side materialization of vectors (r01: .collect + broadcast)."""
    from don_crawler_spark.operators.similarity import (
        embedding_near_dup_pairs_gemm,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # pass n_vectors so construction runs ZERO jobs
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = embedding_near_dup_pairs_gemm(emb, threshold=0.5, n_vectors=500)
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "building the GEMM plan must not run jobs"
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    # and it matches the exact expression-only baseline
    from don_crawler_spark.operators.similarity import embedding_near_dup_pairs

    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in embedding_near_dup_pairs(emb, 0.5).collect())
    assert got == want


def test_round_plan_has_no_unpartitioned_window(spark) -> None:
    """The per-round sequence number is arithmetic (offset join + per-level
    rank): no unpartitioned Window touches the selected set (a global
    sort would serialize the round at scale — r01 finding). The one
    unpartitioned Window is the cell offsets' running sum, whose input
    is the cell-count aggregate (at most levels x salts rows)."""
    import json
    import tempfile

    from don_crawler_spark.plans.config import CrawlConfig
    from don_crawler_spark.plans.driver import load_corpus
    from don_crawler_spark.plans.round import frontier_from_seeds, run_round
    from don_crawler_spark.sources.synth import corpus_dir_for

    base = tempfile.mkdtemp(prefix="plan_corpus_")
    corpus = corpus_dir_for(base, n_pages=300)
    seeds = spark.read.parquet(f"{corpus}/seeds.parquet")
    frontier = frontier_from_seeds(seeds)
    seen = spark.createDataFrame([], "url_hash long, url string, first_round int")
    out = run_round(CrawlConfig(), 1, frontier, seen, *load_corpus(spark, corpus),
                    frontier.count(), persist=False)
    n_windows = 0
    for df in (out.fetched_full, out.new_frontier):
        nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
        for i, node in enumerate(nodes):
            if node.get("class", "").endswith(".Window"):
                n_windows += 1
                spec = node.get("partitionSpec")
                if not spec:  # only over the cell counts, grouped by level
                    child = nodes[i + 1]
                    assert child["class"].endswith(".Aggregate"), node
                    assert "rank_in_host" in json.dumps(child["groupingExpressions"])
                    continue
                # the within-level seq window must carry the host-salt
                # sub-key too: level 1 holds one row per host, so a
                # level-only partition would sort every frontier host in
                # one task (r2 finding)
                if "rank_in_host" in json.dumps(spec):
                    assert len(spec) >= 2, f"unsalted seq Window: {spec}"
    assert n_windows > 0, "expected windowed ranks in the round plan"


def test_pq_plans_broadcast_and_stay_jvm(spark) -> None:
    """The PQ rows' scale contract in the physical plan: the corpus side
    streams through BROADCAST joins only (codebook + queries are the
    build sides — a SortMergeJoin would mean vectors shuffled), codes
    are computed without Python, and the only required exchange is the
    final per-query top-k window (WindowGroupLimit present)."""
    import __spark_entry__ as em

    for name in ["ann_pq_adc", "ann_ivf_pq"]:
        plan = _plan(em.queries()[name](spark, SF))
        assert _python_nodes(plan) == [], name
        assert "Broadcast" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "WindowGroupLimit" in plan, name
