#!/usr/bin/env python3
"""Benchmark of the don_crawler_spark crawl engine.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository, at ``local[nproc]``,
as a closed loop: one driver process, one crawl at a time, each crawl
starting when the previous one has committed. Inputs are generated from
``--seed``. Workloads are described in ``workloads.py``.

Set-up (``setup_s``, in CPU seconds): the Spark session, the workload's
corpus and, for ``crawl_polite``, its first round, crawled cold into a
base checkpoint, so JIT, codegen and Python-worker start-up land there.
Then crawls run until ``--seconds`` of crawl wall have passed (at least
one); a polite crawl resumes a copy of the base checkpoint. Correctness
gates run after the loop, untimed, on every crawl's checkpoint; a crawl
that raises or fails its gate counts as failed.

``--trace 0`` prints the end-to-end metrics: CPU seconds of the whole
process tree per crawl and for set-up, and peak memory; the wall
timings go to the context line. ``--trace 1`` runs one
crawl, the one the loop would run first, with spans around the driver's
public calls (``tracing.py``), then the kernel micro-timings
(``kernels.py``) and the checkpoint funnel (``checkpoint_stats.py``),
and prints the per-layer metrics; its spans go to
``.perfbench/traces/``. The last stdout line is
the result; the line before it is the run's context (host probe, cpus,
seed, corpus size, oracle wall, wall timings).

Everything the run writes stays under ``.perfbench/`` in the checkout;
its work directory, the Spark JVM and the JVM's Python workers are gone
when the process exits.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")


def _keep_temp_files_in(work: str) -> None:
    """Point every temp-file user at ``work``: Python (the package zip,
    py4j's connection file), Spark's local dirs and the JVM."""
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = work


def start_session(cpus: int):
    from don_crawler_spark.session import get_spark

    # bench.py's crawl settings -- static plans, since AQE's
    # per-exchange stage materialization costs ~1 s per exchange at this
    # scale, and small file splits so the corpus scan spreads over every
    # core -- but one shuffle partition per two cores: a round runs ~150
    # small stages that each shuffle a few hundred rows, so more tasks
    # per stage only add scheduling latency. Measured on a 4-core host,
    # warm, alternating in one process: polite round 2 took 12.4-16.6 s
    # at 4 partitions and 8.7-10.9 s at 2; the saturation crawl took
    # 20.3 s at either. A 1 GB heap holds both workloads; the session
    # pre-touches the whole heap at start, so a larger one only adds
    # start-up time.
    return get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=max(1, cpus // 2),
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to end."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def crawl(spark, wl, corpus: str, ckpt: str, base: str | None = None,
          max_rounds: int | None = None):
    """One crawl of ``corpus``; returns (wall seconds, CrawlSummary).

    ``base``: a committed checkpoint to copy to ``ckpt`` first (untimed),
    so the crawl resumes after its last round. ``max_rounds`` overrides
    the workload's.
    """
    from don_crawler_spark.plans.driver import run_crawl

    cfg = wl.config
    if max_rounds is not None:
        cfg = dataclasses.replace(cfg, max_rounds=max_rounds)
    if base is not None:
        shutil.copytree(base, ckpt)
    t0 = time.monotonic()
    seed_urls = None
    if wl.seed_all_pages:
        seed_urls = spark.read.parquet(f"{corpus}/pages.parquet").select("url")
    summary = run_crawl(spark, corpus, ckpt, cfg, seed_urls=seed_urls)
    return time.monotonic() - t0, summary


def run(args, work: str) -> tuple[dict, dict]:
    from don_crawler_spark.plans.oracle import crawl_oracle
    from don_crawler_spark.sources.synth import generate_corpus

    from checkpoint_stats import (
        checkpoint_size, funnel, polite_gate, saturation_expected,
        saturation_gate,
    )
    from host import PeakRss, probe_mbs, tree_cpu_s
    from workloads import POLITE, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # the metric names and units to print
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    context = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "cpus": cpus,
        "pages": wl.corpus["n_pages"], "probe_mbs_before": probe_mbs(),
    }
    layer: dict[str, float] = {}

    # --- set-up ------------------------------------------------------------
    t_setup, cpu_setup = time.monotonic(), tree_cpu_s()
    spark = start_session(cpus)
    try:
        layer["session.get_spark_s"] = time.monotonic() - t_setup
        corpus = os.path.join(work, "corpus")
        t0 = time.monotonic()
        generate_corpus(corpus, seed=args.seed, **wl.corpus)
        layer["sources.synth.generate_s"] = time.monotonic() - t0
        # warm-up: the workload's first rounds, committed once to a base
        # checkpoint that every measured crawl resumes, so the JVM has
        # JIT-compiled the planner, the round's stages are code-generated
        # and the Python workers run before t0
        base = None
        if wl.warmup_rounds:
            base = os.path.join(work, "base_ckpt")
            context["warmup_s"], _ = crawl(spark, wl, corpus, base,
                                           max_rounds=wl.warmup_rounds)
        setup_cpu_s = tree_cpu_s() - cpu_setup
        context["setup_wall_s"] = time.monotonic() - t_setup

        # the oracle on the polite corpus: crawl_polite's gate reference,
        # and a single-threaded baseline wall for every result's context
        polite_corpus = corpus
        if wl is not POLITE:
            polite_corpus = os.path.join(work, "polite_corpus")
            generate_corpus(polite_corpus, seed=args.seed, **POLITE.corpus)
        t0 = time.monotonic()
        oracle = crawl_oracle(polite_corpus, POLITE.config)
        layer["plans.oracle.wall_s"] = time.monotonic() - t0

        done: list[tuple[str, float, object]] = []  # (ckpt, wall, summary)
        failed = 0
        if args.trace:
            # one crawl, the same one the untraced loop measures, with
            # spans around the driver's calls; then the kernels
            from kernels import kernel_rates
            from tracing import Tracer, instrument_crawl, next_job_id, round_phases

            tracer = Tracer(run_id=uuid.uuid4().hex)
            ckpt = os.path.join(work, "ckpt_traced")
            job0 = next_job_id(spark)
            with tracer.span("plans.crawl"):
                with instrument_crawl(tracer, spark) as rounds:
                    wall, summary = crawl(spark, wl, corpus, ckpt, base)
            layer["plans.crawl.jobs"] = next_job_id(spark) - job0
            phases = round_phases(tracer, rounds)
            for key in phases[0]:
                layer[key] = statistics.median(p[key] for p in phases)
            layer["trace.overhead_s"] = tracer.self_s
            layer["plans.crawl.wall_s"] = wall
            layer["plans.crawl.urls_per_s"] = summary.urls_fetched / wall
            layer["plans.round.p50_s"] = statistics.median(
                summary.wall_ms_per_round) / 1000
            done.append((ckpt, wall, summary))
            layer.update(kernel_rates(spark, corpus, wl.config))
        else:
            # --- measured closed loop ---------------------------------------
            crawl_cpu_s: list[float] = []  # process-tree CPU seconds per crawl
            with PeakRss() as rss:
                while not done or sum(w for _, w, _ in done) < args.seconds:
                    ckpt = os.path.join(work, f"ckpt{len(done) + failed}")
                    try:
                        cpu0 = tree_cpu_s()
                        wall, summary = crawl(spark, wl, corpus, ckpt, base)
                        crawl_cpu_s.append(tree_cpu_s() - cpu0)
                    except Exception:  # a failed crawl is a result, not a crash
                        traceback.print_exc()
                        failed += 1
                        if failed > 3:
                            raise
                        continue
                    done.append((ckpt, wall, summary))
    finally:
        stop_session(spark)

    # --- untimed correctness gates ------------------------------------------
    attempted = len(done) + failed
    expected = None
    if wl is not POLITE:
        expected = saturation_expected(corpus, wl.config)
    errors: list[str] = []
    for ckpt, _wall, summary in done:
        errs = (
            polite_gate(ckpt, summary.rounds, oracle) if wl is POLITE
            else saturation_gate(ckpt, expected)
        )
        failed += bool(errs)
        errors += errs
    if errors:
        print("gate failures: " + "; ".join(errors), file=sys.stderr)

    if args.trace:
        ckpt, _wall, summary = done[0]
        layer.update(funnel(ckpt, summary.rounds, corpus))
        layer.update(checkpoint_size(ckpt))
        values = layer
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        tracer.write(os.path.join(
            OUT, "traces", f"{wl.name}-seed{args.seed}-{tracer.run_id}.json"))
    else:
        # CPU seconds are the gated timings; the wall timings go to the
        # context line (see README.md for why)
        values = {
            "setup_s": setup_cpu_s,
            "cpu_s": statistics.median(crawl_cpu_s),
            "peak_rss_mb": rss.peak_mb,
        }
        walls = [w for _, w, _ in done]
        context.update(
            wall_s=statistics.median(walls),
            urls_per_s=sum(s.urls_fetched for _, _, s in done) / sum(walls),
            round_p50_s=statistics.median(
                ms / 1000 for _, _, s in done for ms in s.wall_ms_per_round),
        )

    context.update(
        crawls=len(done), failed=failed, error_rate=failed / attempted,
        errors=errors[:5],
        oracle_wall_s=layer["plans.oracle.wall_s"],
        trace_overhead_s=layer.get("trace.overhead_s"),
        probe_mbs_after=probe_mbs(),
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer" if args.trace else "end_to_end"]
        },
    }
    return result, context


def main() -> int:
    # the package must come from this checkout; without it the import
    # fails here, before any set-up and without a result line
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    _keep_temp_files_in(work)
    try:
        result, context = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
