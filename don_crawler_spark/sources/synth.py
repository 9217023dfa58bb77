"""Deterministic synthetic crawl corpus (the sandbox's "web").

Produces the engine-side input tables per FIXTURES.md §B, exactly matching
BASELINE.json's input_hint shape for pages; ``CORPUS_SCHEMAS`` declares
each table's columns and types:

  pages(url string, warc_ts timestamp, html binary, text string, lang string)
  seeds(publisher_id, publisher_name, org_url, repo_urls, organisation_url)
  robots(host, path_prefix, allow)
  host_budgets(host, crawl_delay_ms, max_per_round, not_before_ts)
  transient(url, fail_rounds)
  redirects(url, target)

Everything is a pure function of (seed, n_pages): python's random.Random —
no wall clock, no global state — so every scale regenerates byte-identically.
The html embeds the reference extractor's edge cases (leading headings,
<img/<a/![/[! lines, CRLF, blank-line breaks — crawler/crawler.go:671-714)
and <a href> out-links forming a closed graph plus deliberate dead links.
One heavy host carries ~30% of URLs to exercise skew handling.

The golden ``text`` column is produced by the SAME pure-Python extractor
the oracle uses — the engine's Arrow UDF must reproduce it byte-for-byte.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from don_crawler_spark.functions.extract import description_from_readme

BASE_TS = dt.datetime(2026, 1, 1, 0, 0, 0)

WORDS = (
    "frontier fetch schedule extract score emit crawl page link host budget "
    "politeness robots snapshot round seen bloom filter partition shuffle "
    "broadcast skew salt checkpoint lineage counter publisher repository "
    "vitality activity commit tag author readme description catalog"
).split()

LANGS = ["nl", "en", "de", "fr"]

# Each corpus table's schema, declared once: ``generate_corpus`` writes
# the tables with it and ``plans/driver.py::load_corpus`` reads them with
# it, so reading a corpus runs no schema-inference job. Timestamps are
# naive (UTC) microseconds, which Spark reads as ``timestamp_ntz``.
CORPUS_SCHEMAS = {
    "pages": pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    ),
    "seeds": pa.schema(
        [
            ("publisher_id", pa.string()),
            ("publisher_name", pa.string()),
            ("org_url", pa.string()),
            ("repo_urls", pa.list_(pa.string())),
            ("organisation_url", pa.string()),
        ]
    ),
    "robots": pa.schema(
        [("host", pa.string()), ("path_prefix", pa.string()), ("allow", pa.bool_())]
    ),
    "host_budgets": pa.schema(
        [
            ("host", pa.string()),
            ("crawl_delay_ms", pa.int64()),
            ("max_per_round", pa.int32()),
            ("not_before_ts", pa.timestamp("us")),
        ]
    ),
    "transient": pa.schema([("url", pa.string()), ("fail_rounds", pa.int32())]),
    "redirects": pa.schema([("url", pa.string()), ("target", pa.string())]),
}

CORPUS_TABLES = tuple(f"{t}.parquet" for t in CORPUS_SCHEMAS)


def write_corpus_rows(out_dir: str, table: str, rows: list[tuple]) -> str:
    """Write ``rows`` (tuples in ``CORPUS_SCHEMAS[table]`` column order)
    as ``{out_dir}/{table}.parquet``; returns the path."""
    schema = CORPUS_SCHEMAS[table]
    cols = [[r[k] for r in rows] for k in range(len(schema))]
    path = os.path.join(out_dir, f"{table}.parquet")
    pq.write_table(pa.table(dict(zip(schema.names, cols)), schema=schema), path)
    return path


def _hosts(rng: random.Random, n_hosts: int) -> list[str]:
    return ["heavy.example.nl"] + [f"git{i:02d}.example.nl" for i in range(1, n_hosts)]


def _page_url(host: str, org: int, repo: int) -> str:
    return f"https://{host}/org{org}/repo{repo}"


def _make_html(
    rng: random.Random,
    url: str,
    links: list[str],
    dead_links: list[str],
    extra_paragraphs: int = 0,
) -> str:
    """README-ish page with extractor edge cases and href out-links."""
    lines: list[str] = []
    style = rng.randrange(6)
    if style == 0:
        lines.append(f"# {rng.choice(WORDS)} {rng.choice(WORDS)}")
    elif style == 1:
        lines.append("<img src=\"badge.svg\" alt=\"badge\">")
    elif style == 2:
        lines.append(f"[![ci](https://ci.example.nl/s.svg)](x)")
    elif style == 3:
        lines.append("")  # leading blank line -> extractor quirk (a)
    # first paragraph (what the extractor sees)
    n_para = rng.randint(1, 4)
    for _ in range(n_para):
        n_words = rng.randint(3, 12)
        indent = " " * rng.randrange(3)
        lines.append(indent + " ".join(rng.choice(WORDS) for _ in range(n_words)))
    lines.append("")  # paragraph break
    lines.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 30))))
    lines.append("")
    # body bulk (post-paragraph content the extractor skips but the
    # decoder/link-scanner still processes — page weight is realistic)
    for _ in range(extra_paragraphs):
        lines.append(" ".join(rng.choice(WORDS) for _ in range(60)))
        lines.append("")
    # out-links section (scanned from the whole page, not just the paragraph)
    for href in links + dead_links:
        lines.append(f'<a href="{href}">{rng.choice(WORDS)}</a>')
    newline = "\r\n" if rng.random() < 0.3 else "\n"
    return newline.join(lines)


def generate_corpus(
    out_dir: str,
    n_pages: int = 2000,
    n_hosts: int = 40,
    seed: int = 42,
    heavy_share: float = 0.30,
    out_degree: int = 4,
    dead_link_rate: float = 0.05,
    n_publishers: int = 8,
    budget_scale: int = 1,
    extra_paragraphs: int = 0,
    transient_rate: float = 0.03,
    redirect_rate: float = 0.0,
) -> dict[str, str]:
    """Write the corpus tables as parquet; returns {table: path}.

    Graph shape: pages are numbered 0..n-1; page i links to pages with
    larger indices (a DAG flowing away from the seeds) plus occasional
    back-links, so a breadth-first crawl from the seed hubs reaches a
    large fraction of the corpus over several rounds.

    ``redirect_rate``: fraction of pages that additionally get a 301
    alias URL (written to redirects.parquet as url -> target and
    injected as out-links of other pages). Uses a SEPARATE rng stream so
    the default rate (0.0) leaves every other table byte-identical —
    the pinned golden traces stay valid.
    """
    rng = random.Random(seed)
    hosts = _hosts(rng, n_hosts)

    # --- assign every page to a host (heavy host gets ~heavy_share) -------
    page_hosts: list[str] = []
    for _ in range(n_pages):
        if rng.random() < heavy_share:
            page_hosts.append(hosts[0])
        else:
            page_hosts.append(rng.choice(hosts[1:]))

    urls: list[str] = []
    for i, host in enumerate(page_hosts):
        urls.append(_page_url(host, i % 97, i))

    url_set = set(urls)
    assert len(url_set) == n_pages

    # --- robots rules ------------------------------------------------------
    # every host: a couple of disallowed prefixes; one host fully disallowed
    robots_rows: list[tuple[str, str, bool]] = []
    blocked_host = hosts[-1]
    for host in hosts:
        if host == blocked_host:
            robots_rows.append((host, "/", False))
            continue
        robots_rows.append((host, "/", True))
        for org in rng.sample(range(97), 3):
            robots_rows.append((host, f"/org{org}/", False))
    denied_prefixes: dict[str, list[tuple[str, bool]]] = {}
    for host, prefix, allow in robots_rows:
        denied_prefixes.setdefault(host, []).append((prefix, allow))

    # --- host budgets -------------------------------------------------------
    budget_rows: list[tuple[str, int, int, dt.datetime | None]] = []
    delays = [250, 500, 1000, 2000]
    # two mid-list hosts start in backoff (P2/P4: a recorded rate-limit
    # reset defers the whole host until the hint passes)
    backoff_hosts = set(hosts[3:5])
    for host in hosts:
        delay = delays[rng.randrange(len(delays))]
        # heavy host gets a generous budget so skew shows up in fetch work.
        # budget_scale > 1 is the THROUGHPUT-BENCH mode: politeness caps
        # are widened so the engine (not the budget arithmetic) is the
        # bottleneck being measured; parity tests always use scale 1.
        max_round = 200 if host == hosts[0] else rng.choice([10, 25, 50])
        not_before = (
            dt.datetime(2026, 1, 1) + dt.timedelta(milliseconds=150_000)
            if host in backoff_hosts
            else None
        )
        budget_rows.append((host, delay, max_round * budget_scale, not_before))

    # --- link graph ----------------------------------------------------------
    links_of: list[list[str]] = []
    dead_of: list[list[str]] = []
    for i in range(n_pages):
        n_out = rng.randint(1, out_degree + 2)
        targets: list[str] = []
        for _ in range(n_out):
            if i < n_pages - 1 and rng.random() < 0.85:
                j = rng.randint(i + 1, min(n_pages - 1, i + 1 + rng.randint(0, 200)))
            else:
                j = rng.randrange(n_pages)  # occasional back/self link
            targets.append(urls[j])
        # express some links relative / messy to exercise canonicalization
        styled: list[str] = []
        for t in targets:
            r = rng.random()
            if r < 0.15:
                styled.append(t + "/")  # trailing slash variant
            elif r < 0.25:
                styled.append(t.replace("https://", "HTTPS://", 1))
            elif r < 0.35 and page_hosts[i] in t:
                # relative path on same host
                styled.append("/" + t.split("/", 3)[3])
            else:
                styled.append(t)
        dead: list[str] = []
        if rng.random() < dead_link_rate * 10:  # some pages carry dead links
            for _ in range(rng.randint(1, 2)):
                dead.append(
                    f"https://{page_hosts[i]}/org{rng.randrange(97)}/gone{rng.randrange(10**6)}"
                )
        links_of.append(styled)
        dead_of.append(dead)

    # --- 301 redirect aliases -------------------------------------------------
    # crawl-tier semantics: an alias URL that is not a page but maps to one
    # (redirects.parquet: url -> target); the crawl must fetch it as 301 and
    # enqueue the target. A separate rng keeps the main stream untouched so
    # redirect_rate=0 corpora are byte-identical to pre-redirect ones.
    redirect_rows: list[tuple[str, str]] = []
    if redirect_rate > 0:
        rrng = random.Random(seed * 7919 + 13)
        for i in range(n_pages):
            if rrng.random() < redirect_rate:
                alias = f"https://{page_hosts[i]}/r{i % 97}/alias{i}"
                redirect_rows.append((alias, urls[i]))
                # inject the alias as an out-link of 1-2 pages so a BFS
                # from the seeds actually reaches it
                for _ in range(rrng.randint(1, 2)):
                    links_of[rrng.randrange(n_pages)].append(alias)

    # --- page bodies + golden text ------------------------------------------
    htmls: list[bytes] = []
    texts: list[str] = []
    langs: list[str] = []
    ts: list[dt.datetime] = []
    for i in range(n_pages):
        html = _make_html(rng, urls[i], links_of[i], dead_of[i], extra_paragraphs)
        htmls.append(html.encode("utf-8"))
        texts.append(description_from_readme(html))
        langs.append(rng.choice(LANGS))
        ts.append(BASE_TS + dt.timedelta(seconds=i))

    # --- seeds ---------------------------------------------------------------
    # publishers point at early pages (hubs) so BFS coverage is wide; mirrors
    # common.Publisher (org URL + optional explicit repo URLs).
    seed_rows = []
    hub_candidates = list(range(min(n_pages, max(200, 2 * n_publishers))))
    rng.shuffle(hub_candidates)
    for p in range(n_publishers):
        org_page = hub_candidates[p % len(hub_candidates)]
        n_repos = rng.randint(0, 3)
        repo_urls = [
            urls[hub_candidates[(p * 7 + 1 + k) % len(hub_candidates)]]
            for k in range(n_repos)
        ]
        seed_rows.append(
            (
                f"pub{p:03d}",
                f"Publisher {p}",
                urls[org_page],
                repo_urls,
                f"https://portal.example.nl/org/pub{p:03d}",
            )
        )

    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}

    pages_tbl = pa.table(
        {"url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": langs},
        schema=CORPUS_SCHEMAS["pages"],
    )
    # MULTI-FILE dataset, not one fat file: Spark task reads of a single
    # local parquet file serialize on the shared input stream (measured:
    # 34s single-file vs 2s across 64 files for the same 1.4 GB scan) —
    # and a sharded layout is what a 100 TB corpus looks like anyway.
    #
    # r6: 25k rows/file produced ~70 MB files with ONE row group each —
    # a single-row-group file is effectively unsplittable, so the
    # per-round corpus scan ran ~8-wide on a 32-core session with a
    # multi-second straggler tail (guide §2.5 input skew). 3,125
    # rows/file (~9 MB) with bounded row groups keeps every scan task
    # in the same size class; the 2k-page warmup corpus stays 1 file.
    pages_dir = os.path.join(out_dir, "pages.parquet")
    os.makedirs(pages_dir, exist_ok=True)
    rows_per_file = 3_125
    n_files = max(1, (n_pages + rows_per_file - 1) // rows_per_file)
    for k in range(n_files):
        chunk = pages_tbl.slice(k * rows_per_file, rows_per_file)
        pq.write_table(
            chunk,
            os.path.join(pages_dir, f"part-{k:05d}.parquet"),
            row_group_size=rows_per_file,
        )
    paths["pages"] = pages_dir

    for table, rows in (
        ("seeds", seed_rows),
        ("robots", robots_rows),
        ("host_budgets", budget_rows),
    ):
        paths[table] = write_corpus_rows(out_dir, table, rows)

    # transient failures: these URLs return 503 while rnd <= fail_rounds
    # (the corpus-side stand-in for rate-limit/5xx responses the reference
    # retries — scanner/gitlab.go:63-113, crawler/crawler.go:375-447)
    transient_rows = [
        (u, rng.randint(1, 3)) for u in urls if rng.random() < transient_rate
    ]
    paths["transient"] = write_corpus_rows(out_dir, "transient", transient_rows)
    # 301 aliases (possibly empty)
    paths["redirects"] = write_corpus_rows(out_dir, "redirects", redirect_rows)

    return paths


def _corpus_complete(out: str) -> bool:
    """Marker AND every table present — a marker alone can outlive the data
    if the directory is partially cleaned up between sessions."""
    if not os.path.exists(os.path.join(out, "_COMPLETE")):
        return False
    for t in CORPUS_TABLES:
        p = os.path.join(out, t)
        if not os.path.exists(p):
            return False
        if os.path.isdir(p) and not os.listdir(p):
            return False
    return True


def corpus_dir_for(
    base_dir: str, n_pages: int, seed: int = 42, **kwargs
) -> str:
    """Generate-once cache: corpora are pure functions of their params."""
    suffix = "".join(f"_{k}{v}" for k, v in sorted(kwargs.items()))
    out = os.path.join(base_dir, f"corpus_n{n_pages}_s{seed}{suffix}")
    marker = os.path.join(out, "_COMPLETE")
    if not _corpus_complete(out):
        if os.path.exists(marker):
            os.remove(marker)
        generate_corpus(out, n_pages=n_pages, seed=seed, **kwargs)
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return out


def clustered_embeddings_pdf(
    n_vectors: int = 2000,
    n_clusters: int = 25,
    dim: int = 64,
    seed: int = 7,
    spread: float = 0.35,
):
    """Deterministic CLUSTERED embedding fixture (pandas DataFrame with
    vec_id long, embedding array<double>).

    The driver testdata's embeddings are near-uniform on the hypercube —
    sign-LSH's worst case (no two vectors are meaningfully closer than
    any other pair), which is why the registered ann_lsh_bucketed entry
    runs coarse n_bits=4 buckets. Real text/image embeddings are
    clustered; this fixture models that regime: ``n_clusters`` centers
    uniform in [-1,1]^dim, each vector = its (vec_id % n_clusters)
    center + uniform noise in [-spread, spread]^dim. Same splitmix64
    stream as operators.similarity._hyperplanes — no RNG state, exact on
    any machine — so recall numbers against it are reproducible
    constants, not flaky samples.
    """
    import numpy as np
    import pandas as pd

    def _splitmix_uniform(count: int, stream_seed: int) -> "np.ndarray":
        idx = np.arange(count, dtype=np.uint64) + np.uint64(
            (stream_seed * 0x9E3779B97F4A7C15) % (1 << 64)
        )
        x = idx.copy()
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return x.astype(np.float64) / float(2**64)  # [0, 1)

    centers = (
        2.0 * _splitmix_uniform(n_clusters * dim, seed) - 1.0
    ).reshape(n_clusters, dim)
    noise = spread * (
        2.0 * _splitmix_uniform(n_vectors * dim, seed + 1) - 1.0
    ).reshape(n_vectors, dim)
    assign = np.arange(n_vectors) % n_clusters
    vecs = centers[assign] + noise
    return pd.DataFrame(
        {"vec_id": np.arange(n_vectors, dtype=np.int64), "embedding": list(vecs)}
    )
