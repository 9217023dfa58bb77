"""Repository vitality/activity scoring — the reference's analytic core.

Reference: ``CalculateRepoActivity`` (git/repo_activity.go:38-108) plus the
banded scoring dimension ``vitality-ranges.yml:1-89``. Decomposition per
SURVEY.md §2.5 (A1-A7) and §2.4 (J3):

  A1 commits/day (merge commits count twice)     git/repo_activity.go:172-196
  A2 tags/day                                    git/repo_activity.go:198-206
  A3 first commit per author email               git/repo_activity.go:184-188
  A4 cumulative distinct authors before cutoff   git/repo_activity.go:208-219
  A5 oldest commit / longevity (+2005 validity)  git/repo_activity.go:177-182,221-234
  A6 banded scoring, capped at 100 per day       git/repo_activity.go:84-100
  A7 average, capped, truncated toward zero      git/repo_activity.go:102-107
  J3 range (band) lookup                         git/repo_activity.go:260-274

All computed natively (hash aggregations + a generated day spine + a
broadcast non-equi range join) — no Python in the plan. Quirks preserved
for parity:

  * the day spine is ``now - i days`` for i in [0, days) and commits are
    bucketed by CALENDAR DAY of that instant (so the spine points, not
    midnight boundaries, define the buckets);
  * userCommunity compares each author's first-commit TIMESTAMP against
    the cutoff INSTANT (strictly before), not the day;
  * a repo with no commits still scores (0 falls in the lowest band of
    every dimension: 4+2+20+20 = 46);
  * first commit before 2005-01-01 01:00 UTC -> longevity sentinel -1,
    which falls in NO band -> 0 longevity points;
  * final index = trunc(avg of per-day scores capped at 100).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Band data from vitality-ranges.yml:1-89 (a config dimension of the
# reference — values, not code). [min, max) -> points.
RANGES_DATA: list[tuple[str, float, float, float]] = [
    (name, float(lo), float(hi), float(pts))
    for name, lo, hi, pts in [
    ("userCommunity", 0, 2, 4),
    ("userCommunity", 2, 4, 8),
    ("userCommunity", 4, 8, 12),
    ("userCommunity", 8, 12, 16),
    ("userCommunity", 12, 16, 20),
    ("userCommunity", 16, 20, 24),
    ("userCommunity", 20, 24, 28),
    ("userCommunity", 24, 28, 32),
    ("userCommunity", 28, 10000, 36),
    ("codeActivity", 0, 4, 2),
    ("codeActivity", 4, 6, 8),
    ("codeActivity", 6, 9, 14),
    ("codeActivity", 9, 12, 20),
    ("codeActivity", 12, 15, 26),
    ("codeActivity", 15, 18, 32),
    ("codeActivity", 18, 25, 38),
    ("codeActivity", 25, 30, 44),
    ("codeActivity", 30, 35, 50),
    ("codeActivity", 35, 10000, 60),
    ("releaseHistory", 0, 1, 20),
    ("releaseHistory", 1, 2, 30),
    ("releaseHistory", 2, 4, 40),
    ("releaseHistory", 4, 100, 50),
    ("longevity", 0, 365, 20),
    ("longevity", 365, 730, 30),
    ("longevity", 730, 10000, 35),
    ]
]

GIT_EPOCH = dt.datetime(2005, 1, 1, 1, 0, 0)  # git/repo_activity.go:228


def ranges_df(spark: SparkSession) -> DataFrame:
    """The bands as a local relation planned in the JVM (no Python RDD)."""
    rows = ", ".join(f"('{n}', {lo!r}D, {hi!r}D, {pts!r}D)" for n, lo, hi, pts in RANGES_DATA)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS bands(name, min, max, points)")


def range_points(
    df: DataFrame,
    ranges: DataFrame,
    value_col: str,
    range_name: str,
    out_col: str,
) -> DataFrame:
    """J3 — banded lookup as a broadcast non-equi range join.

    ``rangePoints`` returns 0 when no band matches (git/repo_activity.go:273)
    -> left join + coalesce(points, 0). The ranges side is 26 rows; the
    broadcast nested-loop join is trivially cheap and never shuffles the
    fact side.
    """
    r = ranges.filter(F.col("name") == range_name).select(
        F.col("min").alias("__min"),
        F.col("max").alias("__max"),
        F.col("points").alias("__points"),
    )
    return (
        df.join(
            F.broadcast(r),
            (F.col(value_col) >= F.col("__min"))
            & (F.col(value_col) < F.col("__max")),
            "left",
        )
        .withColumn(out_col, F.coalesce(F.col("__points"), F.lit(0.0)))
        .drop("__min", "__max", "__points")
    )


def day_spine(
    spark: SparkSession, repos: DataFrame, days: int, now: dt.datetime
) -> DataFrame:
    """One row per (repo, day_idx) with the cutoff instant and its calendar
    day — ``newActivitySnapshot`` (git/repo_activity.go:152-168).

    Generated with F.sequence + explode (no driver loop); the spine is
    |repos| x days rows, co-partitioned with the aggregates it joins.
    """
    return (
        repos.select("repo")
        .distinct()
        .withColumn("day_idx", F.explode(F.sequence(F.lit(0), F.lit(days - 1))))
        .withColumn(
            "cutoff_ts",
            F.timestamp_add("DAY", -F.col("day_idx"), F.lit(now)),
        )
        .withColumn("cal_day", F.to_date("cutoff_ts"))
    )


def daily_activity(commits: DataFrame) -> DataFrame:
    """A1 — commits per (repo, calendar day); merges count twice
    (git/repo_activity.go:190-196)."""
    return (
        commits.groupBy("repo", F.to_date("ts").alias("cal_day"))
        .agg(
            F.sum(
                F.when(F.col("n_parents") > 1, F.lit(2)).otherwise(F.lit(1))
            ).alias("n_activity")
        )
    )


def daily_tags(tags: DataFrame) -> DataFrame:
    """A2 — tag commits per (repo, calendar day)
    (git/repo_activity.go:198-206)."""
    return (
        tags.groupBy("repo", F.to_date("ts").alias("cal_day"))
        .agg(F.count(F.lit(1)).cast("double").alias("n_tags"))
    )


def first_commit_by_author(commits: DataFrame) -> DataFrame:
    """A3 — min commit ts per (repo, author); empty emails excluded
    (git/repo_activity.go:184-188)."""
    return (
        commits.filter(F.col("author_email") != "")
        .groupBy("repo", "author_email")
        .agg(F.min("ts").alias("first_ts"))
    )


def oldest_commit(commits: DataFrame) -> DataFrame:
    """A5 — global min ts per repo (git/repo_activity.go:177-182)."""
    return commits.groupBy("repo").agg(F.min("ts").alias("oldest_ts"))


def user_community(spine: DataFrame, first_commits: DataFrame) -> DataFrame:
    """A4 — per (repo, day_idx): authors whose first commit is strictly
    before the cutoff instant (git/repo_activity.go:208-219).

    Non-equi join spine x authors within each repo. At reference scale
    (days=60, authors per repo ~10^2) this is bounded per repo; skew-safe
    because the join key includes repo.
    """
    fc = first_commits.select(
        F.col("repo").alias("fc_repo"), "author_email", "first_ts"
    )
    return (
        spine.join(
            fc,
            (spine["repo"] == F.col("fc_repo"))
            & (F.col("first_ts") < spine["cutoff_ts"]),
            "left",
        )
        .groupBy("repo", "day_idx")
        .agg(F.count("author_email").cast("double").alias("n_authors"))
    )


def vitality_index(
    spark: SparkSession,
    commits: DataFrame,
    tags: DataFrame,
    days: int,
    now: dt.datetime,
    per_day: bool = False,
) -> DataFrame:
    """A1-A7 end to end: per-repo vitality index.

    ``commits``: (repo, author_email, ts, n_parents); ``tags``: (repo, ts).
    Returns (repo, vitality double) — or the per-day frame when
    ``per_day`` (repo, day_idx, daily_vitality).
    """
    # NOTE(r5, probed): the spine has two consumers (the base join and
    # user_community's non-equi join), the same shape the graph.py loops
    # pin with a lazy localCheckpoint — but here the pin measured
    # NEUTRAL-to-NEGATIVE (8.6s -> 9.6s median at sf0.1/local[32]): the
    # spine subtree is one cheap distinct, and checkpointing it forfeits
    # the scan-level column pruning both consumers otherwise get.
    # Left unpinned on the measurement.
    #
    # r6 exchange collapse (guide §2.4 "share one exchange"): every
    # relation in this plan is keyed by ``repo`` (alone or as the
    # leading join/grouping key), so ONE hash repartition of the commit
    # fact by repo — width derived from its size — lets the spine
    # distinct, all three aggregates, the non-equi author join and the
    # whole base join chain reuse that partitioning: hash(repo, n)
    # satisfies ClusteredDistribution for (repo, cal_day) / (repo,
    # day_idx) groupings and co-partitions every join. The plan drops
    # from 13 exchanges + per-aggregate shuffles to exactly two
    # exchanges (commits, tags). Measured 5.3s -> ~2s at
    # sf0.1/local[32]; at warehouse scale the single wide shuffle of
    # the fact replaces five separate ones.
    from don_crawler_spark.plans.adaptive import adaptive_partitions

    npart = adaptive_partitions(commits)
    # persist: the spine distinct, three aggregates and the author join
    # are planned as independent subtrees (several end up on the build
    # side of a broadcast join, each a separate job) — without the pin
    # every one re-runs the scan + repartition
    commits = commits.repartition(npart, "repo").persist()
    tags = tags.repartition(npart, "repo")
    spine = day_spine(spark, commits, days, now)
    act = daily_activity(commits)
    tg = daily_tags(tags)
    fc = first_commit_by_author(commits)
    oldest = oldest_commit(commits)
    ranges = ranges_df(spark)

    base = (
        spine.join(act, ["repo", "cal_day"], "left")
        .join(tg, ["repo", "cal_day"], "left")
        .join(user_community(spine, fc), ["repo", "day_idx"], "left")
        .join(oldest, ["repo"], "left")
        .fillna(
            {"n_activity": 0, "n_tags": 0.0, "n_authors": 0.0}
        )
        .withColumn(
            # activityLongevity (git/repo_activity.go:221-234): fractional
            # age in days; pre-2005 -> -1 (no band matches -> 0 points);
            # no commits -> 0 (lowest band -> 20 points).
            "longevity",
            F.when(F.col("oldest_ts").isNull(), F.lit(0.0))
            .when(F.col("oldest_ts") < F.lit(GIT_EPOCH), F.lit(-1.0))
            .otherwise(
                (
                    F.unix_timestamp(F.lit(now))
                    - F.unix_timestamp("oldest_ts")
                ).cast("double")
                / F.lit(86400.0)
            ),
        )
        .withColumn("n_activity_d", F.col("n_activity").cast("double"))
    )

    scored = range_points(base, ranges, "n_authors", "userCommunity", "p_community")
    scored = range_points(scored, ranges, "n_activity_d", "codeActivity", "p_activity")
    scored = range_points(scored, ranges, "n_tags", "releaseHistory", "p_release")
    scored = range_points(scored, ranges, "longevity", "longevity", "p_longevity")

    daily = scored.withColumn(
        "daily_vitality",
        F.least(
            F.lit(100.0),
            F.col("p_community")
            + F.col("p_activity")
            + F.col("p_release")
            + F.col("p_longevity"),
        ),
    )
    if per_day:
        return daily.select("repo", "day_idx", "daily_vitality")

    # A7: mean of per-day scores, capped at 100, truncated toward zero
    # (float64(int(x)), git/repo_activity.go:102-107).
    return daily.groupBy("repo").agg(
        F.floor(F.least(F.lit(100.0), F.avg("daily_vitality")))
        .cast("double")
        .alias("vitality")
    )
