"""robots.txt allow/deny matching over a rules table.

The reference has no robots support (its "politeness" is provider
rate-limit budgets, scanner/github.go:26-29); the north_rule adds
robots allow/deny as a frontier filter. Rules are modeled as a table
``robots(host, path_prefix, allow)`` — the parsed form of per-host
robots.txt files — and matching follows the standard longest-prefix-match
rule (Google's robots.txt spec, RFC 9309 §2.2.2):

  * only rules whose host equals the URL's host apply
  * among rules whose path_prefix is a prefix of the URL path, the
    LONGEST prefix wins
  * on a length tie, allow wins (RFC 9309: least-restrictive)
  * no matching rule -> allowed

Engine side this is a broadcast join + window max — robots tables are
tiny relative to the frontier (even 10^8 hosts x a few rules fits in
executor memory after the host-equi join prunes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def robots_allowed_py(
    rules: dict[str, list[tuple[str, bool]]], host: str, path: str
) -> bool:
    """Oracle-side matcher. ``rules`` maps host -> [(path_prefix, allow)]."""
    best_len = -1
    best_allow = True
    for prefix, allow in rules.get(host, []):
        if path.startswith(prefix) and (
            len(prefix) > best_len or (len(prefix) == best_len and allow)
        ):
            best_len = len(prefix)
            best_allow = allow
    return best_allow


def parse_robots_txt(
    df: DataFrame,
    user_agent: str = "doncrawler",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Parse RAW robots.txt bodies into the ``robots(host, path_prefix,
    allow)`` rules table the frontier filter consumes — the ingest step
    between fetching ``/robots.txt`` and :func:`apply_robots_filter`.

    Grammar (RFC 9309, expressed relationally — no per-row Python):

      * lines split on ``\\n``; ``\\r`` stripped (CRLF files), ``#``
        comments removed, fields case-insensitive.
      * a GROUP is one or more consecutive ``User-agent`` lines followed
        by rule lines; a later ``User-agent`` line after rules starts a
        new group. Group membership is a running sum of group-starts
        over a per-host window (robots bodies are KBs, so the window is
        per-host-local; hosts parallelize).
      * group selection: groups naming ``user_agent`` exactly
        (case-insensitive product token) win; if none exists on a host,
        the ``*`` groups apply; rules from ALL selected groups merge
        (RFC 9309 §2.2.1). Longest-substring UA matching is simplified
        to exact-token-else-star, documented here.
      * ``Allow``/``Disallow`` with an empty value match nothing and are
        dropped (RFC 9309 §2.2.2); rules before any group are ignored.
      * the downstream matcher is prefix-only, so a trailing ``*`` is
        stripped (prefix-equivalent) and rules still containing ``*`` or
        ``$`` wildcards are dropped rather than silently mis-matched.

    Output is distinct ``(host, path_prefix, allow)`` — feed straight
    into :func:`compile_rules`.
    """
    sel = _selected_group_lines(df, user_agent, host_col, text_col)
    prefix = F.regexp_replace(F.col("val"), r"\*$", "")
    return (
        sel.filter(
            F.col("field").isin("allow", "disallow") & (F.col("val") != "")
        )
        .select(
            "host",
            prefix.alias("path_prefix"),
            (F.col("field") == "allow").alias("allow"),
        )
        .filter(~F.col("path_prefix").rlike(r"[*$]"))
        .distinct()
    )


def crawl_delays_from_robots(
    df: DataFrame,
    user_agent: str = "doncrawler",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Extract ``Crawl-delay`` (the de-facto politeness extension,
    group-scoped like Allow/Disallow) from raw robots.txt bodies ->
    ``(host, crawl_delay_ms)``, the exact column the host_budgets
    politeness dimension carries. Seconds may be fractional; invalid
    values are ignored (try_cast); when several selected groups state a
    delay, the MAX wins (the conservative, most-polite reading)."""
    sel = _selected_group_lines(df, user_agent, host_col, text_col)
    delay_s = F.expr("try_cast(val AS DOUBLE)")
    return (
        sel.filter((F.col("field") == "crawl-delay") & delay_s.isNotNull())
        .groupBy("host")
        .agg(
            F.round(F.max(delay_s) * 1000)
            .cast("bigint")
            .alias("crawl_delay_ms")
        )
    )


#: rule-bearing line records consumed downstream of grouping
_GROUP_FIELDS = ("user-agent", "allow", "disallow", "crawl-delay")


def _selected_group_lines(
    df: DataFrame, user_agent: str, host_col: str, text_col: str
) -> DataFrame:
    """Shared RFC 9309 group machinery: explode lines, classify,
    assign group ids (runs of consecutive User-agent lines start
    groups), pick the groups that apply to ``user_agent``
    (exact-token-else-star), and return their non-UA lines as
    ``(host, pos, field, val)``.

    Group-start detection runs over EVERY physical line, before any
    relevance filtering: ANY intervening line — blank, comment-only,
    ``Sitemap:``, unknown records — terminates a User-agent run, so
    two UA lines separated by one never merge into a single group
    (matching the reference replay in the grammar test and common
    parser behavior)."""
    ua = user_agent.lower()
    line = F.regexp_replace(
        F.regexp_replace(F.col("raw"), "\r", ""), "#.*", ""
    )
    has_colon = F.instr(line, ":") > 0
    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).select(
        "host",
        "pos",
        F.when(has_colon, F.lower(F.trim(F.substring_index(line, ":", 1))))
        .otherwise(F.lit(""))
        .alias("field"),
        F.when(
            has_colon,
            F.trim(line.substr(F.instr(line, ":") + 1, F.length(line))),
        )
        .otherwise(F.lit(""))
        .alias("val"),
    )
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("field") == "user-agent"
    new_group = is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))
    lines = (
        lines.withColumn("gid", F.sum(new_group.cast("long")).over(w))
        .filter(F.col("gid") > 0)
        .filter(F.col("field").isin(*_GROUP_FIELDS))
    )

    groups = (
        lines.filter(is_ua)
        .groupBy("host", "gid")
        .agg(F.collect_set(F.lower("val")).alias("uas"))
        .select(
            "host",
            "gid",
            F.array_contains("uas", ua).alias("has_ua"),
            F.array_contains("uas", "*").alias("has_star"),
        )
    )
    host_cover = groups.groupBy("host").agg(
        F.max("has_ua").alias("host_has_ua")
    )
    selected = (
        groups.join(host_cover, "host")
        .filter(
            F.col("has_ua") | (~F.col("host_has_ua") & F.col("has_star"))
        )
        .select("host", "gid")
    )
    return lines.filter(~is_ua).join(selected, ["host", "gid"])


def compile_rules(robots: DataFrame, *carry: str) -> DataFrame:
    """Aggregate a host's rules into ONE array column, sorted so the
    winning rule is the first prefix match: longest prefix first, allow
    before deny on length ties (RFC 9309 least-restrictive). The result
    is a per-host dimension row — tiny, broadcastable.

    Rows with a null ``path_prefix`` carry no rule (a host with none gets
    an empty array, i.e. allows everything). Each ``carry`` column rides
    along as its per-host ``max``, so one aggregate over
    ``robots ∪ host_budgets`` builds the crawl's whole host dimension."""
    rule = F.struct(
        (-F.length("path_prefix")).alias("neg_len"),
        (~F.col("allow")).cast("int").alias("deny_rank"),
        F.col("path_prefix").alias("path_prefix"),
        F.col("allow").alias("allow"),
    )
    return robots.groupBy("host").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("path_prefix").isNotNull(), rule))
        ).alias("rules"),
        *(F.max(c).alias(c) for c in carry),
    )


def robots_allowed_col(rules: Column, path: Column) -> Column:
    """Verdict of a :func:`compile_rules` array for ``path``: the first
    prefix match's ``allow``; allowed when nothing matches or ``rules``
    is null (a host with no robots rules)."""
    # try_element_at, not element_at: a host can HAVE rules yet match
    # none of them (empty filtered array -> null, i.e. allowed), and
    # ANSI element_at throws on index 1 of an empty array
    first_match = F.try_element_at(
        F.filter(rules, lambda r: path.startswith(r["path_prefix"])),
        F.lit(1),
    )
    return F.coalesce(first_match["allow"], F.lit(True))


def apply_robots_filter(
    frontier: DataFrame, robots: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split a frontier (with ``host`` and ``path`` columns) into
    (allowed, denied) by longest-prefix robots match.

    Entirely map-side after one broadcast hash join on host: the per-host
    rule array is scanned with higher-order functions (filter +
    element_at), so NO shuffle of the frontier happens here — at 10^10
    frontier rows this stage costs one broadcast and one pass.
    """
    joined = frontier.join(F.broadcast(compile_rules(robots)), "host", "left")
    resolved = joined.withColumn(
        "__allowed", robots_allowed_col(F.col("rules"), F.col("path"))
    ).drop("rules")
    allowed = resolved.filter(F.col("__allowed")).drop("__allowed")
    denied = resolved.filter(~F.col("__allowed")).drop("__allowed")
    return allowed, denied
