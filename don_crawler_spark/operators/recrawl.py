"""Recrawl scheduling: change-rate estimation over fetch history.

A production crawler re-visits pages at a rate matched to how often
they change. The standard estimator (Cho & Garcia-Molina 2003,
"Estimating frequency of change") models page updates as a Poisson
process observed through n equally-spaced checks of which X detected a
change; the bias-corrected rate estimate is::

    lambda = -ln((n - X + 0.5) / (n + 0.5)) / interval

(the +0.5 terms keep X == n finite). The revisit interval is then
``ln 2 / lambda`` — the half-life at which the page has a 50% chance of
having changed — clamped to [1, 365] days; a page never seen changing
(X == 0, rate exactly 0) pins to the 365-day ceiling, so even static
pages are eventually re-checked.

Engine shape: the per-check history collapses with ONE partial-agg
groupBy on the 8-byte url key (map-side combine reduces each partition
to one (n, X) pair per key before the exchange — the shuffle carries
two ints per URL, never the history), then the estimator is a map-side
scalar projection. No window, no skew (url keys are unique), no Python.

Cross-engine determinism: the only transcendental is the single
``ln`` over one of a handful of exact rationals (X in 0..n); its result
is scaled to integer nano-units per day BEFORE any further arithmetic,
so the DuckDB oracle replays the output bit-for-bit and the revisit-day
division runs over identical BIGINT operands in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ln 2 in integer nano-units — shared with the oracle SQL
LN2_NANO = 693147181


def revisit_schedule(history: DataFrame, interval_days: int = 7) -> DataFrame:
    """``history``: one row per (url-key, check) with a boolean
    ``changed`` column — key column name is whatever the first column
    is called (doc_id / url_hash). Returns per-key change-rate and
    revisit schedule."""
    key = history.columns[0]
    agg = history.groupBy(key).agg(
        F.count("*").cast("int").alias("n_checks"),
        F.sum(F.col("changed").cast("int")).cast("int").alias("n_changed"),
    )
    n = F.col("n_checks").cast("double")
    x = F.col("n_changed").cast("double")
    # rate in nano-(changes/day): integer-pinned so downstream division
    # is exact-operand-identical across engines
    lam_nano = F.round(
        -F.log((n - x + 0.5) / (n + 0.5)) / interval_days * 1e9
    ).cast("long")
    # try_divide: lam == 0 (X == 0, never seen changing) -> null instead
    # of an ANSI abort; the null must be pinned to the 365-day ceiling
    # BEFORE the clamp — Spark's greatest/least SKIP nulls (greatest(1,
    # null) == 1), they don't propagate them
    half_life = F.round(
        F.try_divide(F.lit(LN2_NANO), lam_nano.cast("double"))
    ).cast("int")
    revisit = F.when(half_life.isNull(), 365).otherwise(
        F.least(F.lit(365), F.greatest(F.lit(1), half_life))
    )
    return agg.select(
        key,
        "n_checks",
        "n_changed",
        lam_nano.alias("lambda_nano_per_day"),
        revisit.alias("revisit_days"),
    )


def recrawl_frontier_rank(
    due: DataFrame, cap: int = 25, n_salts: int = 16
) -> DataFrame:
    """Budgeted recrawl frontier selection: rank each host's due URLs by
    overdue-ness and keep the top ``cap`` per host — the scheduling step
    that turns :func:`revisit_schedule` output into the next crawl
    round's politeness-bounded frontier.

    Input: ``(url, host, overdue)`` — ``overdue`` is an integer staleness
    key (e.g. rounds past ``last_fetch + revisit_days``); higher first.
    Ties break on md5(url) then url, so reruns — and the SQL oracle —
    pick identical rows. No rand().

    Two-phase salted top-k (source_cap's shape): phase 1 ranks inside
    (host, salt) cells, pruning a hot host's millions of due URLs to
    ``cap`` per cell in ``n_salts`` parallel tasks; phase 2 ranks exactly
    over the <= cap * n_salts survivors per host. No host ever sorts its full
    due-list in one task — the skew-safety the per-host window alone
    would not have.
    """
    from pyspark.sql import Window

    hhex = F.md5(F.col("url"))
    base = due.select("url", "host", "overdue", hhex.alias("_h"))
    salt = F.pmod(
        F.conv(F.substring("_h", 1, 8), 16, 10).cast("bigint"),
        F.lit(n_salts),
    )
    w_cell = Window.partitionBy("host", "_salt").orderBy(
        F.col("overdue").desc(), "_h", "url"
    )
    pruned = (
        base.withColumn("_salt", salt)
        .withColumn("_cell_rank", F.row_number().over(w_cell))
        .filter(F.col("_cell_rank") <= cap)
        .drop("_salt", "_cell_rank")
    )
    w_exact = Window.partitionBy("host").orderBy(
        F.col("overdue").desc(), "_h", "url"
    )
    return (
        pruned.withColumn("recrawl_rank", F.row_number().over(w_exact))
        .filter(F.col("recrawl_rank") <= cap)
        .select("url", "host", "overdue", "recrawl_rank")
    )


def snapshot_diff(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """Dump-over-dump change classification — the first thing a
    recurring crawl computes between two snapshots (Common Crawl dump
    N vs N+1): which URLs appeared, disappeared, changed content, or
    stayed byte-identical. The added/changed sets seed reprocessing;
    the changed/unchanged ratio per host feeds the change-rate
    estimator above (crawl_revisit_priority).

    Inputs are (url, text) relations; output one row per url in either
    snapshot with verdict in {added, removed, changed, unchanged} and
    both content fingerprints (null on the missing side —
    degrade-don't-drop).

    Scale contract: both sides are reduced MAP-SIDE to (url,
    md5-prefix int64) before the join, so the one full-outer shuffle
    carries ~16 bytes per URL and the page text never crosses an
    exchange (plan-asserted) — at 10^10 URLs the diff is a few hundred
    GB of shuffle, not the corpus. The fingerprint is a 60-bit md5
    prefix (15 hex chars — the widest prefix that stays inside signed
    int64 in BOTH Spark and DuckDB, so the oracle replays it exactly):
    at 10^10 changed URLs per dump pair the expected number of
    false-'unchanged' collisions is ~1e-8, vs a few per pair at the
    32-bit width this shipped with through r4 (ADVICE r4).
    """

    def fp(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            "url",
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
            .cast("bigint")
            .alias(name),
        )

    a = fp(prev, "prev_fp")
    b = fp(curr, "curr_fp")
    verdict = (
        F.when(F.col("prev_fp").isNull(), "added")
        .when(F.col("curr_fp").isNull(), "removed")
        .when(F.col("prev_fp") == F.col("curr_fp"), "unchanged")
        .otherwise("changed")
    )
    return a.join(b, "url", "full_outer").select(
        "url", verdict.alias("verdict"), "prev_fp", "curr_fp"
    )
