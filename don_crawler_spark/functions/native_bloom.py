"""JVM-native Bloom prune: filter a huge scan by membership in a key set
that is too big to broadcast as a hashed relation.

Spark's own runtime-filter rule (InjectRuntimeFilter) does exactly this —
it builds a ``BloomFilterAggregate`` over the creation side and prunes the
probe side's scan with ``BloomFilterMightContain`` — but neither function
is exposed in the public registry, and the injection rule only fires on
equi-joins under size thresholds Catalyst controls. The crawl's fetch
join (plans/round.py) needs the same prune deterministically: without
it, extraction runs over the WHOLE pages corpus every round, not over the
selected set. So this module wires the same two Catalyst expressions up
directly:

  * ``bloom_filter_agg`` is copied from ``FunctionRegistry.internal`` into
    the session registry (once per session) — a distributed aggregate
    with map-side partial merge; the driver never sees the keys.
  * The filter value is attached as a SCALAR SUBQUERY (the form
    ``BloomFilterMightContain`` requires) and the probe is built via
    ``classic.ExpressionUtils`` — evaluated map-side at the scan, so the
    probe side's payload columns never cross an exchange.

Everything is fail-soft: any py4j/API mismatch (e.g. Spark Connect, a
future internal rename) returns ``None`` and callers fall back to their
un-pruned plan — degraded cost, identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _ensure_bloom_agg_registered(spark) -> bool:
    """Copy ``bloom_filter_agg`` from the internal function registry into
    the session registry. Returns False when the internal machinery is
    unavailable.

    Deliberately NOT memoized per session: an ``id(spark)``-keyed cache
    can collide when a stopped session's address is reused by a new one,
    silently skipping registration and degrading every round to the
    un-pruned extraction scan. registerFunction overwrites, so
    re-running the few py4j calls per round is both safe and cheap next
    to the round's jobs."""
    try:
        gw = spark.sparkContext._gateway
        jvm = spark._jvm
        clazz = gw.jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.analysis.FunctionRegistry$"
        )
        internal = clazz.getField("MODULE$").get(None).internal()
        fid = jvm.org.apache.spark.sql.catalyst.FunctionIdentifier(
            "bloom_filter_agg"
        )
        builder = internal.lookupFunctionBuilder(fid)
        if not builder.isDefined():
            return False
        spark._jsparkSession.sessionState().functionRegistry().registerFunction(
            fid, internal.lookupFunction(fid).get(), builder.get()
        )
        return True
    except Exception:
        return False


def bloom_membership_col(
    build_df: DataFrame,
    build_col: str,
    probe_col: Column,
    n_items: int,
    n_bits: int,
) -> Column | None:
    """A boolean Column: ``probe_col`` might be in the set of
    ``build_df[build_col]`` values (long keys). False ⇒ definitely absent,
    so filtering with it never drops a real match; true positives plus an
    ``n_items``/``n_bits``-controlled false-positive rate pass through.

    Returns None when the native expressions are unavailable (caller
    falls back to an un-pruned plan).
    """
    spark = build_df.sparkSession
    if not _ensure_bloom_agg_registered(spark):
        return None
    try:
        from pyspark.sql.classic.column import Column as CCol

        gw = spark.sparkContext._gateway
        jvm = spark._jvm
        eu = (
            gw.jvm.java.lang.Class.forName(
                "org.apache.spark.sql.classic.ExpressionUtils$"
            )
            .getField("MODULE$")
            .get(None)
        )
        bloom_scalar = build_df.agg(
            F.expr(
                f"bloom_filter_agg({build_col}, {int(n_items)}L, {int(n_bits)}L)"
            ).alias("__bf")
        ).scalar()
        mc = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            eu.expression(bloom_scalar._jc), eu.expression(probe_col._jc)
        )
        return CCol(eu.column(mc))
    except Exception:
        return None
