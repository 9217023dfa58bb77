#!/usr/bin/env python
"""Per-query timer for the registered query suite (``__spark_entry__``).

Each query runs on a noop sink, so the time is the query's own work and
no write; each run reports its Spark job count. ``--explain`` dumps one
query's formatted physical plan instead.

Usage:
  python bench_extra.py --queries graph_hits,graph_pagerank --repeats 3
  python bench_extra.py --explain graph_hits [--out graph_hits.txt]

Reads the corpus from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
and runs local[$SPARK_GRAFT_CPUS] (default 32).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def make_spark(cpus: int):
    from don_crawler_spark.session import get_spark

    # static plans (AQE off) and 16 MB file splits, as the benchmark runs
    return get_spark(
        "don-crawler-bench-extra",
        cpus=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
            "spark.sql.adaptive.enabled": "false",
        },
    )


def next_job_id(spark) -> int:
    """The id the scheduler gives the next Spark job. Ids are sequential,
    so a run's job count is the difference of two reads. (The length of
    ``statusTracker().getJobIdsForGroup(None)`` is not: it stops growing,
    or shrinks, once Spark evicts jobs past ``spark.ui.retainedJobs``.)"""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def probe_mbs() -> float:
    """Memory fill bandwidth in MB/s: the host state a timing ran in."""
    import numpy as np

    a = np.empty(100 * 1024 * 1024, dtype=np.int8)
    t0 = time.monotonic()
    a[:] = 1
    a[:] = 2
    return round(200 / (time.monotonic() - t0), 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", type=str, default=None)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain", type=str, default=None)
    ap.add_argument("--out", type=str, default=None,
                    help="--explain writes here (default: stdout)")
    ap.add_argument("--json", type=str, default=None, help="append result line here")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = make_spark(cpus)
    sc = spark.sparkContext
    queries = entry_mod.queries()

    if args.explain:
        df = queries[args.explain](spark, sf_dir)
        txt = sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(txt)
            print(f"wrote {args.out} ({len(txt)} bytes)")
        else:
            print(txt)
        spark.stop()
        return

    result: dict = {"probe_before": probe_mbs()}
    out: dict = {}
    for name in args.queries.split(",") if args.queries else []:
        runs, jobs = [], []
        for _ in range(max(1, args.repeats)):
            j0 = next_job_id(spark)
            sc.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            queries[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs.append(round(time.monotonic() - t0, 3))
            jobs.append(next_job_id(spark) - j0)
            sc.setJobDescription(None)
        spark.catalog.clearCache()
        out[name] = {
            "median": round(statistics.median(runs), 3),
            "runs": runs,
            "jobs": jobs,
        }
        print(f"{name}: median={out[name]['median']} runs={runs} jobs={jobs}",
              flush=True)
    result["queries"] = out
    result["probe_after"] = probe_mbs()
    line = json.dumps(result)
    print(line)
    if args.json:
        with open(args.json, "a") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
