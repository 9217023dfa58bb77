"""SparkSession factory with the engine's scale-oriented defaults.

Local mode here stands in for a multi-executor cluster: partitioning,
AQE, and Arrow settings are chosen so the same plans hold at 1000
executors (see README "Scale notes").
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make don_crawler_spark importable on executor Python workers.

    Pandas UDFs are pickled by reference to this module, so workers must
    import it. On a real cluster this is ``spark-submit --py-files
    don_crawler_spark.zip``; locally we build the same zip once per session
    and ``addPyFile`` it — identical code path, so the packaging story is
    exercised by every test run.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="don_crawler_spark_pyfiles_")
    zip_base = os.path.join(staging, "don_crawler_spark")
    archive = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                  os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(archive)


def get_spark(
    app_name: str = "don_crawler_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    executors: int | None = None,
    executor_mem_mb: int = 4096,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (fallback: all cores).
    ``shuffle_partitions`` defaults to 2x cpus locally; on a real cluster
    this would be sized to ~128MB of shuffle data per partition and AQE
    coalesces downward at runtime.

    ``executors``: when set, run ``local-cluster[executors, cpus, mem]``
    — real executor JVM PROCESSES instead of driver threads. This is the
    sandbox analog of "N executors vs 4N executors" (the north rule's
    scaling criterion): separate processes isolate per-process kernel
    memory-throttling the way real cluster executors do, which
    ``local[N]`` threads cannot (measured: this host caps a single
    process's page-dirtying rate; threads share the cap, processes each
    get their own). ``cpus`` then means cores PER executor.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        total_cores = cpus * (executors or 1)
        shuffle_partitions = max(32, 2 * total_cores)
    if executors is not None:
        # local-cluster needs SPARK_HOME and an explicit python for the
        # executor-side workers
        import pyspark

        os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
        import sys

        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        master = f"local-cluster[{executors},{cpus},{executor_mem_mb}]"
    else:
        master = f"local[{cpus}]"
    # 16g (not larger): the heap is committed+pre-touched up front (see
    # below), and pre-touch costs wall time proportional to heap size on
    # this host. 16g comfortably fits 32 concurrent columnar-scan tasks
    # plus the per-round persist() working set at bench scale. Clamped to
    # what the host actually has (minus 4g headroom for Python workers +
    # page cache) so small hosts still start.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    try:
        avail_g = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 30)
        want_g = int(str(driver_mem).lower().rstrip("gm"))
        if str(driver_mem).lower().endswith("g") and want_g > max(1, avail_g - 4):
            driver_mem = f"{max(1, avail_g - 4)}g"
    except (ValueError, OSError):
        pass

    # Python-worker allocator knobs — same pathology as the JVM heap note
    # below, on the Python side: pymalloc arenas and Arrow's default pool
    # unmap freed memory, so every Arrow batch re-faults pages; on this
    # host page faults are expensive and kernel-serialized across
    # processes (measured: extract UDF at local[16] spent 3.3 sys-cores
    # vs 0.8 user-cores). Routing through glibc with trimming disabled
    # keeps pages mapped once faulted (measured 107s -> 67s on the same
    # job). Set in our environ so locally-forked pyspark.daemon workers
    # inherit them; spark.executorEnv.* carries them on a real cluster.
    worker_env = {
        "PYTHONMALLOC": "malloc",
        "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
        "ARROW_DEFAULT_MEMORY_POOL": "system",
    }
    for k, v in worker_env.items():
        os.environ.setdefault(k, v)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting. At crawl scale a
        # heavy host (30%+ of the frontier) would otherwise serialize one
        # shuffle partition of a join; AQE splits it. The per-host budget
        # window is not split: it ranks a host's candidates in one task
        # (see the Scale notes in plans/round.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", (extra_conf or {}).get(
            "spark.driver.memory", driver_mem))
        # FIXED, PRE-TOUCHED HEAP — load-bearing on virtualized hosts.
        # Without -Xms, G1 starts tiny and repeatedly grows/uncommits the
        # heap under columnar-binary scan churn; every re-commit faults
        # pages back in, and on this microVM kernel a fault costs ~1-5
        # µs/page (measured 200-900 MB/s zeroing), so an html-column scan
        # burned 1200s of SYS time vs 28s of user time and local[16] ran
        # 3x SLOWER than local[4]. A committed (-Xms=-Xmx) pre-touched
        # heap faults each page exactly once at startup; the same scan
        # then runs in 2-3s, stable across iterations. On a real cluster
        # the equivalent is spark.executor.extraJavaOptions below.
        # -Xms derives from the FINAL resolved spark.driver.memory (an
        # extra_conf override below would otherwise leave -Xms > -Xmx)
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms"
            + (extra_conf or {}).get("spark.driver.memory", driver_mem)
            + " -XX:+AlwaysPreTouch",
        )
        # executors get the same fixed pre-touched heap as the driver
        # (-Xms = executor memory): without it G1 grows/uncommits the
        # heap under scan churn and every re-commit pays this host's
        # pathological page-fault cost (see the driver note above)
        .config(
            "spark.executor.extraJavaOptions",
            (f"-Xms{executor_mem_mb}m " if executors is not None else "")
            + "-XX:+AlwaysPreTouch",
        )
        # broadcastTimeout: the 300s default is a hang detector, not a
        # budget — but a broadcast value may sit at the end of a long
        # compute pipeline (a round's sequence offsets aggregate the
        # whole budget-ranked selection before they broadcast). On the
        # 2-core scaling-bench executors (executors != None) a legitimate
        # build can take a long time -> 3600; normal sessions get 1200:
        # still a working hang detector (r3 ADVICE), but with headroom
        # for a legitimate build caught in this host's documented 6x
        # write-throttle swings.
        .config(
            "spark.sql.broadcastTimeout",
            "3600" if executors is not None else "1200",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONMALLOC", worker_env["PYTHONMALLOC"])
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            worker_env["MALLOC_MMAP_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
            worker_env["MALLOC_TRIM_THRESHOLD_"],
        )
        .config(
            "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL",
            worker_env["ARROW_DEFAULT_MEMORY_POOL"],
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Force the sort-based (Unsafe) shuffle writer everywhere. With
        # <= 200 reduce partitions Spark's default switches to the
        # bypass-merge writer, which opens numPartitions FILES PER MAP
        # TASK (64-partition shuffle -> 64 file creates + 64 serializer
        # buffer sets per task); on this host file creation and buffer
        # page-dirtying are the documented pathological cost, measured
        # ~0.35s of CPU per reduce-width map task regardless of row
        # count (dedup_minhash_lsh 7.9s -> 2.5s, a plain 100k-row
        # repartition+agg 1.3s -> 0.4s, from this one setting). A
        # production cluster runs > 200 shuffle partitions and therefore
        # the sort writer ANYWAY — this aligns local behavior with the
        # at-scale code path instead of tuning for the sandbox.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        # GENERATED-CLASS CACHE above one crawl round's classes. Every
        # round runs the same plan shape, so a round should reuse the
        # classes an earlier round compiled. Counted with CodegenMetrics
        # on the 3k-page polite crawl (seed 801, 4 cores, Spark 4.1.2): a
        # round run in a fresh JVM compiles 130 distinct classes, 160
        # with the seed round.
        # That is more than the default LRU's 100 entries, so a round
        # evicted its own classes before the next one asked for them: a
        # byte-identical repeat of round 2 missed 119-122 of its classes
        # (Janino compile, then JIT, again); with this cache it misses
        # none. A round's number and start reach its plan as data, not
        # literals (plans/round.py round_values), so a new round adds no
        # class either: round 3 after round 2 compiles 0 (8 while they
        # were inlined), and so does round 2 after round 1 (16), whose
        # seed round reads its empty seen set as a parquet scan, the
        # way later rounds read theirs. 1000 entries hold a round's
        # classes with room to spare; a class is ~2.3 KB of bytecode on
        # average (13.5 KB max), so a full cache is a few MB. It is a plan-shape
        # constant like the settings above, not a host-tuned one.
        # Static conf: the JVM reads it once.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if executors is not None:
        builder = builder.config("spark.executor.memory", f"{executor_mem_mb}m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
