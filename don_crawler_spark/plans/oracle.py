"""Single-threaded pure-Python crawl oracle — the golden-trace generator.

The reference's 2+2-worker pipeline makes *interleaving* nondeterministic
(crawler/crawler.go:30-33,156-195,642-669), so SURVEY.md §5 pins the
canonical logical order: breadth-first from the seed list with per-host
round-robin and the politeness budget of plans/config.py. This oracle
executes that definition sequentially; the Spark engine must reproduce its
trace, seen-set, and extracted text exactly (the north_rule's
"golden crawl-trace fixtures").

Kept deliberately naive (dicts, lists, one thread) so it is obviously
correct and cannot share bugs with the DataFrame implementation beyond the
shared kernels (canonicalize_url, xxhash64, description_from_readme,
robots longest-prefix match) — which is precisely the surface the
byte-exactness invariant covers. A URL canonicalize_url rejects (a
malformed seed, link or redirect target; canonical_link's None) is
skipped, as the engine drops its NULL canonical URL.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow.parquet as pq

from don_crawler_spark.functions.extract import description_from_readme, parse_links_py
from don_crawler_spark.functions.hashing import xxhash64_str
from don_crawler_spark.functions.robots import robots_allowed_py
from don_crawler_spark.functions.urls import canonical_link, url_host, url_path
from don_crawler_spark.plans.config import CrawlConfig
from don_crawler_spark.plans.round import _SEQ_HOST_SALTS


@dataclass
class OracleResult:
    # (round, seq_in_round, host, url, status)
    trace: list[tuple[int, int, str, str, int]] = field(default_factory=list)
    # url -> (url_hash, first_round)
    seen: dict[str, tuple[int, int]] = field(default_factory=dict)
    # url -> extracted text (only 200s)
    text: dict[str, str] = field(default_factory=dict)
    # per-round counters
    metrics: list[dict] = field(default_factory=list)
    rounds: int = 0


def fetch_status(url: str, rnd: int, pages, redirects, transient) -> int:
    """301, 404, 503 while ``rnd <= fail_rounds``, else 200: the
    engine's when-chain order (plans/round.py ``_status_expr``)."""
    if url in redirects:
        return 301
    if pages.get(url) is None:
        return 404
    return 503 if url in transient and rnd <= transient[url] else 200


def crawl_oracle(corpus_dir: str, config: CrawlConfig | None = None) -> OracleResult:
    cfg = config or CrawlConfig()

    pages_tbl = pq.read_table(f"{corpus_dir}/pages.parquet").to_pydict()
    pages: dict[str, bytes] = {
        u: h for u, h in zip(pages_tbl["url"], pages_tbl["html"])
    }
    seeds_tbl = pq.read_table(f"{corpus_dir}/seeds.parquet").to_pydict()
    t_tbl = pq.read_table(f"{corpus_dir}/transient.parquet").to_pydict()
    transient: dict[str, int] = dict(zip(t_tbl["url"], t_tbl["fail_rounds"]))
    r_tbl = pq.read_table(f"{corpus_dir}/redirects.parquet").to_pydict()
    redirects: dict[str, str] = dict(zip(r_tbl["url"], r_tbl["target"]))
    robots_tbl = pq.read_table(f"{corpus_dir}/robots.parquet").to_pydict()
    robots: dict[str, list[tuple[str, bool]]] = {}
    for h, p, a in zip(
        robots_tbl["host"], robots_tbl["path_prefix"], robots_tbl["allow"]
    ):
        robots.setdefault(h, []).append((p, a))
    budgets_tbl = pq.read_table(f"{corpus_dir}/host_budgets.parquet").to_pydict()
    budget_params: dict[str, tuple] = {
        h: (d, m, nb)
        for h, d, m, nb in zip(
            budgets_tbl["host"],
            budgets_tbl["crawl_delay_ms"],
            budgets_tbl["max_per_round"],
            budgets_tbl["not_before_ts"],
        )
    }

    # frontier: url -> (depth, src_url); dedup keeps tuple-min (engine:
    # min(struct(depth, src_url)) per url_hash). Retry counts merge by
    # max, tracked separately (engine: max(attempts) in the dedup agg).
    frontier: dict[str, tuple[int, str]] = {}
    attempts: dict[str, int] = {}

    def add_frontier(url: str | None, depth: int, src: str) -> None:
        if url is None:
            return
        cur = frontier.get(url)
        if cur is None or (depth, src) < cur:
            frontier[url] = (depth, src)

    for org_url, repo_urls in zip(seeds_tbl["org_url"], seeds_tbl["repo_urls"]):
        add_frontier(canonical_link(org_url), 0, "")
        for ru in repo_urls or []:
            add_frontier(canonical_link(ru), 0, "")

    res = OracleResult()

    for rnd in range(1, cfg.max_rounds + 1):
        # 1. drop already-seen (dedup is implicit: frontier is a dict)
        candidates = [
            (url, depth, src)
            for url, (depth, src) in frontier.items()
            if url not in res.seen
        ]
        n_in = len(candidates)
        # 2. robots filter — denied URLs leave the frontier permanently
        allowed: list[tuple[str, int, str]] = []
        n_denied = 0
        for url, depth, src in candidates:
            if robots_allowed_py(robots, url_host(url), url_path(url)):
                allowed.append((url, depth, src))
            else:
                n_denied += 1
                frontier.pop(url, None)
        # 3. per-host politeness budget cut, ordered (depth, url_hash)
        by_host: dict[str, list[tuple[int, int, str]]] = {}
        for url, depth, src in allowed:
            by_host.setdefault(url_host(url), []).append(
                (depth, xxhash64_str(url), url)
            )
        selected: list[tuple[int, str, str]] = []  # (rank_in_host, host, url)
        for host, rows in by_host.items():
            rows.sort()
            d, m, nb = budget_params.get(host, (None, None, None))
            budget = cfg.host_budget(d, m, nb, rnd)
            for rank, (_d, _h, url) in enumerate(rows[:budget], start=1):
                selected.append((rank, host, url))
        if not selected:
            break
        # canonical global order: (rank_in_host, host_salt, host) — the
        # host-salt term mirrors the engine's bounded within-level windows
        # (plans/round.py _SEQ_HOST_SALTS); Spark's pmod and Python's %
        # agree on the signed xxhash64 value (both return the
        # non-negative residue)
        selected.sort(
            key=lambda t: (t[0], xxhash64_str(t[1]) % _SEQ_HOST_SALTS, t[1])
        )
        # 4. fetch + extract + discover
        depth_of = {url: depth for url, depth, _src in allowed}
        src_of = {url: src for url, _d, src in allowed}
        n_200 = 0
        n_links = 0
        n_503 = 0
        for seq, (rank, host, url) in enumerate(selected, start=1):
            html = pages.get(url)
            status = fetch_status(url, rnd, pages, redirects, transient)
            res.trace.append((rnd, seq, host, url, status))
            frontier.pop(url, None)
            if status == 301:
                res.seen[url] = (xxhash64_str(url), rnd)
                fetched_depth = depth_of[url]
                if fetched_depth + 1 <= cfg.max_depth:
                    n_links += 1
                    canon = canonical_link(redirects[url], base=url)
                    if canon not in res.seen:
                        add_frontier(canon, fetched_depth + 1, url)
                continue
            if status == 503:
                # P6/P7 bounded retry: requeue with attempts+1 until the
                # budget is exhausted, then abandon (enters seen)
                n_503 += 1
                a = attempts.get(url, 0) + 1
                if a <= cfg.max_retries:
                    attempts[url] = a
                    add_frontier(url, depth_of[url], src_of[url])
                else:
                    res.seen[url] = (xxhash64_str(url), rnd)
                continue
            res.seen[url] = (xxhash64_str(url), rnd)
            if status == 404:
                continue
            n_200 += 1
            res.text[url] = description_from_readme(
                html.decode("utf-8", errors="replace")
            )
            fetched_depth = depth_of[url]
            if fetched_depth + 1 <= cfg.max_depth:
                for href in parse_links_py(html):
                    canon = canonical_link(href, base=url)
                    n_links += 1
                    if canon not in res.seen:
                        add_frontier(canon, fetched_depth + 1, url)
        res.metrics.append(
            {
                "round": rnd,
                "urls_in": n_in,
                "robots_denied": n_denied,
                "selected": len(selected),
                "fetched_200": n_200,
                "fetched_503": n_503,
                "links_emitted": n_links,
            }
        )
        res.rounds = rnd
    return res
