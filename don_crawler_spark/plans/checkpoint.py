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

The crawl's reads declare their schemas, so none runs a Spark
schema-inference job: ``read_table`` of the frontier
(``round.FRONTIER_SCHEMA``) and ``read_seen`` (``SEEN_SCHEMA`` plus
``__seen_eligible``). The driver reads the corpus tables the same way
(``sources.synth.CORPUS_SCHEMAS``). ``read_declared`` checks every
file's footer for the declared columns first; other tables
(``fetched_full``, ``metrics``, ``read_all``) are read with inference.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from don_crawler_spark.plans.round import FRONTIER_SCHEMA

SEEN_SCHEMA = StructType(
    [
        StructField("url_hash", LongType()),
        StructField("url", StringType()),
        StructField("first_round", IntegerType()),
    ]
)


def parquet_files(path: str) -> list[str]:
    """The data files of a parquet table: the file itself, or a
    directory's ``*.parquet`` entries (Spark's ``_SUCCESS`` and ``.crc``
    side files excluded)."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, e)
        for e in sorted(os.listdir(path))
        if e.endswith(".parquet") and not e.startswith((".", "_"))
    ]


def read_declared(
    spark: SparkSession, schema: StructType, *paths: str
) -> DataFrame:
    """Read parquet ``paths`` with a declared ``schema``: no inference
    job. A declared schema alone would read a missing column as null, so
    every file's footer is checked on the driver first (pyarrow, no
    Spark job); a missing one raises ``ValueError``, before any round
    when the driver loads its inputs. A column of the wrong type fails
    the first scan of it, before the round commits. A missing path
    raises Spark's ``AnalysisException``, as an inferring read does."""
    import pyarrow.parquet as pq

    df = spark.read.schema(schema).parquet(*paths)
    for path in paths:
        for f in parquet_files(path):
            missing = set(schema.fieldNames()) - set(pq.read_schema(f).names)
            if missing:
                raise ValueError(f"{f} lacks column(s) {sorted(missing)}")
    return df


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
    _SEEN_READ_SCHEMA = StructType(
        SEEN_SCHEMA.fields + [StructField(_SEEN_FILTER_COL, BooleanType())]
    )
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

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in parquet_files(self.table_path(rnd, name))
        )

    def read_table(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        path = self.table_path(rnd, name)
        if name == "frontier":  # every round reads its input frontier
            return read_declared(spark, FRONTIER_SCHEMA, path)
        return spark.read.parquet(path)

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
            read_declared(spark, self._SEEN_READ_SCHEMA, *paths)
            .filter(self._SEEN_FILTER_COL)
            .select(*SEEN_SCHEMA.fieldNames())
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
