"""Crawl configuration shared verbatim by the Spark engine and the oracle.

The politeness-in-batch mapping (SURVEY.md §7 risk 3): the reference's
continuous delay budgets (scanner/github.go:26-29, scanner/gitlab.go:22)
become a per-round per-host quota

    budget(host) = min(max_per_round, floor(round_budget_ms / crawl_delay_ms))

computed by THIS function in both implementations, so ordering cannot
diverge. Ordering within a host is (depth asc, url_hash asc) — depth is
the frontier priority (BFS from the seed list, the reference's logical
publisher->listing order), url_hash breaks ties reproducibly on any
cluster size (no task-order dependence).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

# the crawl clock: round r spans [epoch + (r-1)*round_budget_ms, ...) —
# a deterministic stand-in for wall time, shared by engine and oracle
CRAWL_EPOCH = dt.datetime(2026, 1, 1, 0, 0, 0)


@dataclass(frozen=True)
class CrawlConfig:
    max_rounds: int = 20
    round_budget_ms: int = 60_000
    max_depth: int = 50
    default_crawl_delay_ms: int = 1_000
    default_max_per_round: int = 100
    # sizing of the bucket-sharded seen-set Bloom filter
    # (functions/bloom.py; the crawl round does not probe it, see its
    # module docstring). m_bits is per BUCKET and fixed so round deltas
    # OR-merge; at 10^10 URLs you scale n_buckets (shards), not the
    # per-shard size.
    bloom_buckets: int = 32
    bloom_m_bits: int = 1 << 20
    bloom_num_hashes: int = 7
    # bounded retry of transient (503) fetches — P6/P7: the reference
    # retries rate-limited requests up to 5 times then gives up
    # (scanner/gitlab.go:23-26, crawler/crawler.go:27-29). A failed
    # attempt requeues with attempts+1; past the budget the URL is
    # abandoned (enters the seen-set so it is never retried).
    max_retries: int = 5
    # per-page enrichment of the fetched table (simhash fingerprint +
    # token/quality stats) — the dedup-ready outputs a training-data
    # crawl pipeline produces; off by default (parity suites pin the
    # lean schema), on in the throughput bench
    enrich_fetched: bool = False

    def round_ts(self, rnd: int) -> dt.datetime:
        """Start instant of round ``rnd`` (1-based) on the crawl clock."""
        return CRAWL_EPOCH + dt.timedelta(milliseconds=(rnd - 1) * self.round_budget_ms)

    def host_budget(
        self,
        crawl_delay_ms: int | None,
        max_per_round: int | None,
        not_before_ts: dt.datetime | None = None,
        rnd: int = 1,
    ) -> int:
        """Per-round quota; 0 while the host is backing off (P2/P4/P10 —
        the reference's shared rate-limit reset state,
        scanner/github.go:26-29,329-357: once a reset hint is recorded,
        every worker skips the host until it passes)."""
        if not_before_ts is not None and not_before_ts > self.round_ts(rnd):
            return 0
        delay = crawl_delay_ms if crawl_delay_ms else self.default_crawl_delay_ms
        cap = max_per_round if max_per_round else self.default_max_per_round
        return min(cap, self.round_budget_ms // delay)
