"""Untimed reads of a finished crawl's checkpoint directory: the
correctness gates, the round funnel and the checkpoint's size.

Everything here uses pyarrow on the committed parquet files, so none of
it runs a Spark job or shares code with the engine path it checks.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from don_crawler_spark.functions.robots import robots_allowed_py
from don_crawler_spark.functions.urls import canonicalize_url, url_host, url_path


def _table(ckpt: str, rnd: int, name: str, columns: list[str]):
    return pq.read_table(
        os.path.join(ckpt, f"round={rnd:05d}", f"{name}.parquet"),
        columns=columns,
    )


def _robots_rules(corpus: str) -> dict[str, list[tuple[str, bool]]]:
    t = pq.read_table(os.path.join(corpus, "robots.parquet")).to_pydict()
    rules: dict[str, list[tuple[str, bool]]] = {}
    for h, p, a in zip(t["host"], t["path_prefix"], t["allow"]):
        rules.setdefault(h, []).append((p, a))
    return rules


def polite_gate(ckpt: str, rounds: int, oracle) -> list[str]:
    """The engine's trace and seen set must equal the oracle's."""
    trace, seen = [], {}
    for rnd in range(1, rounds + 1):
        t = _table(ckpt, rnd, "fetched_full",
                   ["round", "seq_in_round", "host", "url", "status",
                    "url_hash", "first_round", "__seen_eligible"]).to_pydict()
        trace += zip(t["round"], t["seq_in_round"], t["host"], t["url"],
                     t["status"])
        for u, h, fr, ok in zip(t["url"], t["url_hash"], t["first_round"],
                                t["__seen_eligible"]):
            if ok:
                seen[u] = (h, fr)
    errors = []
    if rounds != oracle.rounds:
        errors.append(f"rounds {rounds} != oracle {oracle.rounds}")
    if sorted(trace) != sorted(oracle.trace):
        errors.append(f"trace differs ({len(trace)} vs {len(oracle.trace)} rows)")
    if seen != oracle.seen:
        errors.append(f"seen set differs ({len(seen)} vs {len(oracle.seen)})")
    return errors


def saturation_expected(corpus: str, cfg) -> dict:
    """What round 1 of a crawl seeded with every page must fetch: each
    robots-allowed canonical page URL once, up to its host's round-1
    budget (0 for a host in back-off); transient pages read 503."""
    rules = _robots_rules(corpus)
    pages = pq.read_table(os.path.join(corpus, "pages.parquet"),
                          columns=["url", "text"]).to_pydict()
    transient = set(
        pq.read_table(os.path.join(corpus, "transient.parquet"),
                      columns=["url"]).column("url").to_pylist()
    )
    b = pq.read_table(os.path.join(corpus, "host_budgets.parquet")).to_pydict()
    budget = {
        h: cfg.host_budget(d, m, nb, 1)
        for h, d, m, nb in zip(b["host"], b["crawl_delay_ms"],
                               b["max_per_round"], b["not_before_ts"])
    }
    by_host: dict[str, list[str]] = {}
    for u in map(canonicalize_url, pages["url"]):
        if robots_allowed_py(rules, url_host(u), url_path(u)):
            by_host.setdefault(url_host(u), []).append(u)
    fetched = n_200 = 0
    for host, urls in by_host.items():
        cap = budget.get(host, cfg.host_budget(None, None))
        if 0 < cap < len(urls):
            raise ValueError(f"budget of {host} cuts its pages; the gate "
                             "assumes a budget of 0 or one that fits")
        fetched += len(urls) if cap else 0
        n_200 += sum(u not in transient for u in urls) if cap else 0
    return {
        "fetched": fetched,
        "status_200": n_200,
        "text": dict(zip(pages["url"], pages["text"])),
    }


def saturation_gate(ckpt: str, expected: dict) -> list[str]:
    """Fetched count as expected; every 200 row's text byte-identical to
    the corpus golden text."""
    t = _table(ckpt, 1, "fetched_full", ["url", "status", "text"]).to_pydict()
    errors = []
    if len(t["url"]) != expected["fetched"]:
        errors.append(f"fetched {len(t['url'])} != {expected['fetched']}")
    ok_200 = [(u, text) for u, s, text in zip(t["url"], t["status"], t["text"])
              if s == 200]
    n_200 = len(ok_200)
    # str equality is equality of the UTF-8 bytes
    wrong = [u for u, text in ok_200
             if text is None or text != expected["text"].get(u)]
    if wrong:
        errors.append(f"text differs for {len(wrong)} pages, e.g. {wrong[0]}")
    if n_200 != expected["status_200"]:
        errors.append(f"status 200 rows {n_200} != {expected['status_200']}")
    return errors


def funnel(ckpt: str, rounds: int, corpus: str) -> dict:
    """Round funnel summed over the committed rounds.

    For round K the input is the round K-1 frontier and the seen set is
    every seen-eligible fetched_full row of rounds < K.
    """
    rules = _robots_rules(corpus)
    seen: set[int] = set()
    rows = distinct = seen_hits = candidates = denied = 0
    selected = status_200 = 0
    for rnd in range(1, rounds + 1):
        f = _table(ckpt, rnd - 1, "frontier", ["url_hash", "url"]).to_pydict()
        rows += len(f["url_hash"])
        seen_hits += sum(h in seen for h in f["url_hash"])
        unique = dict(zip(f["url_hash"], f["url"]))
        distinct += len(unique)
        new = [u for h, u in unique.items() if h not in seen]
        candidates += len(new)
        denied += sum(
            not robots_allowed_py(rules, url_host(u), url_path(u)) for u in new
        )
        t = _table(ckpt, rnd, "fetched_full",
                   ["url_hash", "status", "__seen_eligible"]).to_pydict()
        selected += len(t["status"])
        status_200 += sum(s == 200 for s in t["status"])
        seen.update(h for h, ok in zip(t["url_hash"], t["__seen_eligible"]) if ok)
    return {
        "plans.funnel.dup_ratio": 1.0 - distinct / rows,
        "plans.funnel.seen_hit_ratio": seen_hits / rows,
        "plans.funnel.robots_denied_ratio": denied / candidates,
        "plans.funnel.selected_ratio": selected / (candidates - denied),
        "plans.funnel.status_200_ratio": status_200 / selected,
    }


def checkpoint_size(ckpt: str) -> dict:
    """Bytes and files the crawl left in its checkpoint (data files,
    commit markers, checksums and manifests alike)."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(ckpt):
        for name in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, name))
    return {
        "plans.checkpoint.bytes_written": n_bytes,
        "plans.checkpoint.files_written": n_files,
    }
