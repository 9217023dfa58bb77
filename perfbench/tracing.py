"""In-memory spans around the crawl driver's public calls.

The benchmark records spans from outside the package: it wraps
``driver.run_round`` and the ``CheckpointStore`` methods at their module
attributes for the length of one traced crawl and restores them after.
No package source is edited.

A round span runs from the end of the previous commit to the end of
the round's own ``commit_round``, so consecutive round spans tile the
crawl and every call the driver makes for round K -- checkpoint reads,
the pre-cut probe, the DAG build, the writes and the commit -- falls
inside round K. The first round span of a crawl opens when the driver
asks the store for its latest round: a fresh crawl then writes and
commits its seed frontier (kept as ``plans.crawl.seed``), a resumed one
goes straight to its next round.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import asdict, dataclass, field


def next_job_id(spark) -> int:
    """The id the scheduler gives the next Spark job.

    Job ids are sequential, so the jobs a span ran are the ids between its
    start and end values. This reads the scheduler's counter instead of
    diffing ``statusTracker()`` lists, whose lengths shrink when Spark
    evicts old jobs.
    """
    # py4j hands the scheduler's AtomicInteger back as a Python int
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; ``write`` dumps them once, at the end.

    ``self_s`` is the time spent in the tracer's own bookkeeping -- span
    open/close and the job-id lookups -- which is what tracing adds to
    the traced crawl's wall.
    """

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.self_s = 0.0
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []

    def charge(self, t0: float) -> None:
        """Add the time since ``perf_counter()`` read ``t0`` to ``self_s``
        (under the lock: the driver's output threads trace too)."""
        dt = time.perf_counter() - t0
        with self._lock:
            self.self_s += dt

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        # a worker thread with no open span of its own (the driver's
        # output pool) belongs to whatever the main thread has open
        stack = self._stack() or self._main_stack
        return stack[-1].id if stack else None

    def open(self, name: str, **attrs) -> Span:
        t0 = time.perf_counter()
        with self._lock:
            span = Span(len(self.spans), name, time.monotonic(), None,
                        self._parent(), self.run_id, attrs)
            self.spans.append(span)
        self._stack().append(span)
        self.charge(t0)
        return span

    def close(self, span: Span, **attrs) -> None:
        t0 = time.perf_counter()
        span.end = time.monotonic()
        span.attrs.update(attrs)
        self._stack().remove(span)
        self.charge(t0)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


@contextlib.contextmanager
def instrument_crawl(tracer: Tracer, spark):
    """Wrap the driver's public calls with spans for one crawl."""
    from don_crawler_spark.plans import driver
    from don_crawler_spark.plans.checkpoint import CheckpointStore

    rounds: list[Span] = []
    state: dict = {"open": None}

    def job_id() -> int:
        t0 = time.perf_counter()
        job = next_job_id(spark)
        tracer.charge(t0)
        return job

    def open_round(rnd: int) -> None:
        state["open"] = tracer.open("plans.round", round=rnd, job0=job_id())

    def timed(name: str, fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    orig_run_round = driver.run_round
    orig = {
        m: getattr(CheckpointStore, m)
        for m in ("latest_round", "write_table", "read_table", "read_seen",
                  "row_count", "commit_round")
    }

    def latest_round(self):
        rnd = orig["latest_round"](self)
        if state["open"] is None:
            open_round(rnd + 1)
        return rnd

    def write_table(self, df, rnd, name):
        with tracer.span(f"plans.write.{name}", round=rnd):
            return orig["write_table"](self, df, rnd, name)

    def commit_round(self, rnd, counters):
        with tracer.span("plans.checkpoint.commit", round=rnd):
            orig["commit_round"](self, rnd, counters)
        if state["open"] is not None:
            span = state["open"]
            tracer.close(span, job1=job_id())
            if rnd == 0:
                span.name = "plans.crawl.seed"
                span.attrs["round"] = 0
            else:
                rounds.append(span)
        open_round(rnd + 1)

    driver.run_round = timed("plans.round.build", orig_run_round)
    CheckpointStore.latest_round = latest_round
    CheckpointStore.write_table = write_table
    CheckpointStore.commit_round = commit_round
    for m in ("read_table", "read_seen", "row_count"):
        setattr(CheckpointStore, m, timed("plans.checkpoint.read", orig[m]))
    try:
        yield rounds
    finally:
        driver.run_round = orig_run_round
        for m, fn in orig.items():
            setattr(CheckpointStore, m, fn)
        # the round opened after the last commit never committed: it is
        # the driver's tail (reads for a round that max_rounds cut off, or
        # an empty round), kept in the trace under its own name
        if state["open"] is not None:
            state["open"].name = "plans.crawl.tail"
            tracer.close(state["open"], job1=job_id())


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


PHASES = {
    "plans.round.build": "plans.round.build_s",
    "plans.write.fetched_full": "plans.write.fetched_full_s",
    "plans.write.frontier": "plans.write.frontier_s",
    "plans.write.seen_bloom": "plans.write.seen_bloom_s",
    "plans.write.metrics": "plans.write.metrics_s",
    "plans.checkpoint.read": "plans.checkpoint.read_s",
    "plans.checkpoint.commit": "plans.checkpoint.commit_s",
}


def round_phases(tracer: Tracer, rounds: list[Span]) -> list[dict]:
    """Per committed round: seconds per phase, the unattributed rest of
    the round wall, and the Spark jobs the round ran."""
    out = []
    for r in rounds:
        kids = tracer.children(r)
        row = {metric: 0.0 for metric in PHASES.values()}
        for k in kids:
            if k.name in PHASES:
                row[PHASES[k.name]] += k.end - k.start
        covered = union_seconds(
            [(max(k.start, r.start), min(k.end, r.end)) for k in kids]
        )
        row["plans.round.unattributed_s"] = (r.end - r.start) - covered
        row["plans.round.jobs"] = r.attrs["job1"] - r.attrs["job0"]
        out.append(row)
    return out
