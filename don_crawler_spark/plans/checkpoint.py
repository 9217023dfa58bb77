"""Snapshot checkpoint protocol — manifest-over-parquet.

Iceberg's runtime jar is not available in this sandbox (probed r5: a
full-filesystem search finds no ``iceberg-spark-runtime`` jar, there is
no ivy/maven cache, and the environment is offline with package installs
disallowed — the ``spark.jars.packages`` path cannot resolve), so
snapshots are parquet directories plus a JSON manifest written LAST via
write-temp-then-atomic-rename (SURVEY.md §7 step 5). The manifest is the
commit point: a killed job leaves at most a dangling round directory that
the next run ignores, so resume loses at most one round (north_star's
resumability requirement). On a real deployment each round would be one
Iceberg transaction appending to ``fetched``/``trace`` and replacing
``frontier`` — the protocol here mirrors those semantics.

Layout:
    {root}/round=K/{fetched_full,frontier,metrics}.parquet/
    {root}/manifest_K.json          <- commit record for round K

``trace``, ``fetched`` and ``seen_delta`` are virtual: read-time
projections of ``fetched_full`` (see ``CheckpointStore._VIRTUAL``).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- manifest protocol -------------------------------------------------

    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self.root, f"manifest_{rnd:05d}.json")

    def latest_round(self) -> int:
        """Highest round with a committed manifest; 0 = fresh crawl."""
        best = 0
        for name in os.listdir(self.root):
            if name.startswith("manifest_") and name.endswith(".json"):
                try:
                    best = max(best, int(name[len("manifest_") : -len(".json")]))
                except ValueError:
                    continue
        return best

    def read_manifest(self, rnd: int) -> dict:
        with open(self._manifest_path(rnd)) as fh:
            return json.load(fh)

    def commit_round(self, rnd: int, counters: dict) -> None:
        """Atomic commit: the manifest appears only fully written."""
        payload = json.dumps({"round": rnd, "counters": counters}, indent=1)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)
        os.replace(tmp, self._manifest_path(rnd))

    # --- table paths ---------------------------------------------------------

    # trace and seen_delta are PROJECTIONS of the per-round fetched_full
    # fact table (same row set: the selected URLs) — derived at read time
    # instead of written separately, so a round commits 2 big writes
    # (fetched_full, frontier) instead of 4.
    _VIRTUAL = {
        "trace": ["round", "seq_in_round", "host", "url", "status"],
        "seen_delta": ["url_hash", "url", "first_round"],
        "fetched": None,  # = fetched_full minus engine-internal columns
    }
    # rows excluded from the seen projection: retriable 503 attempts
    # (P6/P7 — they requeue, so they must stay invisible to the anti-join)
    _SEEN_FILTER_COL = "__seen_eligible"
    _FETCHED_INTERNAL = {
        "seq_in_round",
        "host",
        "url_hash",
        "first_round",
        "__seen_eligible",
    }

    def table_path(self, rnd: int, name: str) -> str:
        return os.path.join(self.root, f"round={rnd:05d}", f"{name}.parquet")

    def write_table(self, df: DataFrame, rnd: int, name: str) -> None:
        df.write.mode("overwrite").parquet(self.table_path(rnd, name))

    def row_count(self, rnd: int, name: str) -> int:
        """Exact row count of a checkpointed table from parquet FOOTERS —
        a driver-side metadata read (one small footer per file), no Spark
        job. The driver sizes each round's fetch-join Bloom prune with the
        frontier's count: it soundly bounds the round's selected set
        (selected ⊆ deduped frontier), unlike the budgets-dimension sum,
        which reads small when frontier hosts are absent from the
        dimension (each uncovered host silently gets the default cap)."""
        import pyarrow.parquet as pq

        path = self.table_path(rnd, name)
        total = 0
        for entry in os.listdir(path):
            if entry.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(path, entry)).metadata.num_rows
        return total

    def read_table(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        return spark.read.parquet(self.table_path(rnd, name))

    def _round_paths(self, name: str, upto_round: int) -> list[str]:
        if name in self._VIRTUAL:
            name = "fetched_full"
        paths = [self.table_path(r, name) for r in range(1, upto_round + 1)]
        return [p for p in paths if os.path.exists(p)]

    def read_seen(self, spark: SparkSession, upto_round: int) -> DataFrame | None:
        """The seen-set is the union of per-round deltas (append-only —
        each round writes O(new) rows, mirroring S8's incremental fetch)."""
        paths = self._round_paths("fetched_full", upto_round)
        if not paths:
            return None
        return (
            spark.read.parquet(*paths)
            .filter(self._SEEN_FILTER_COL)
            .select("url_hash", "url", "first_round")
        )

    def read_all(self, spark: SparkSession, name: str, upto_round: int) -> DataFrame | None:
        paths = self._round_paths(name, upto_round)
        if not paths:
            return None
        df = spark.read.parquet(*paths)
        if name == "seen_delta":
            df = df.filter(self._SEEN_FILTER_COL)
        cols = self._VIRTUAL.get(name)
        if cols is None and name in self._VIRTUAL:
            cols = [c for c in df.columns if c not in self._FETCHED_INTERNAL]
        return df.select(*cols) if cols else df
