"""Parquet table sources.

Plain ``spark.read.parquet`` so Catalyst gets full pushdown: column
pruning and predicate pushdown reach the parquet scan (verified in
tests via ``PushedFilters`` in the formatted plan). At cluster scale the
same call reads a partitioned S3 layout; nothing here assumes local
files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Relation cache (guide §6 — file-listing/metadata caching, the same
# idea as spark.sql.hive.filesourcePartitionFileCacheSize): every
# ``spark.read.parquet`` resolves the relation from scratch — driver-side
# file listing plus a footer read — which measures 0.3-0.5 s per call on
# the bench host. A registry process (bench: 68 headliners; sweep: 552
# queries) calls load_table hundreds of times over the same ten
# read-only tables, so the repeated resolution is pure fixed overhead.
# Caching the resolved DataFrame (NOT its data — every action still
# scans parquet) removes it. DataFrames are SESSION-bound (sessionState,
# temp-view catalog, confs), so the outer key is the owning SparkSession
# object itself via a weak map — ``spark.newSession()`` gets fresh
# relations, a stopped session's entries are collectable, and a cached
# df can never leak another session's catalog (an applicationId key did
# exactly that: a temp view created on the cached df registered on the
# ORIGINAL session). The inner key carries the path's (mtime_ns, size)
# so a table rewritten in place — the sweep's altered-corpus
# generators — invalidates its entry.
import weakref

_RELATION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
_RELATION_CACHE_MAX = 512


def _session_relations(spark: SparkSession) -> dict[tuple, DataFrame]:
    d = _RELATION_CACHE.get(spark)
    if d is None:
        d = {}
        _RELATION_CACHE[spark] = d
    return d


def path_stamp(path: str) -> tuple:
    """``(mtime_ns, size)`` of ``path``, or ``(0, 0)`` when it is missing:
    the source identity that keys every cache built from a file, so a
    file rewritten in place invalidates what was derived from it."""
    try:
        st = os.stat(path)
    except OSError:
        return (0, 0)
    return (st.st_mtime_ns, st.st_size)


def _cached(spark: SparkSession, path: str, tag: str, build) -> DataFrame:
    """The session's DataFrame for ``tag`` + ``path``, built on a miss."""
    cache = _session_relations(spark)
    key = (tag + os.path.abspath(path), path_stamp(path))
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = build()
    if len(cache) >= _RELATION_CACHE_MAX:
        cache.clear()
    cache[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from a scale-factor directory.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark only
    reads as a long (``spark.sql.legacy.parquet.nanosAsLong``); convert it
    to a microsecond timestamp here so downstream operators see a real
    timestamp column. The scan is ``raw_relation``'s.
    """

    def build() -> DataFrame:
        df = raw_relation(spark, sf_dir, name)
        if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
            # integer division — a double divide loses precision at ~1e18 ns.
            # Build the timestamp in the NTZ domain (timestampadd on an NTZ
            # literal) so the wall clock equals the stored value regardless
            # of spark.sql.session.timeZone — timestamp_micros() would give
            # an LTZ instant whose extracted components shift per session TZ.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " timestamp_ntz'1970-01-01 00:00:00')"
                ),
            )
        return df

    return _cached(spark, os.path.join(sf_dir, f"{name}.parquet"), "", build)


def scatter(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the session's default parallelism.

    Two jobs at once for compute-heavy map stages: (1) a single-file
    parquet scan arrives as one partition, which would serialize all
    downstream hashing on one core; (2) the exchange is a projection-
    collapse barrier, so expensive array columns computed before it are
    NOT re-inlined (Spark excludes lambda-bearing expressions from
    subexpression elimination) into every consumer afterwards.

    The repartition is unconditional. Asking ``df.rdd`` for its
    partition count first would build the RDD, which under AQE runs
    every upstream shuffle while the query is still being built, and it
    would make the plan's shape (the barrier included) depend on the
    input's file layout. The check never skipped a repartition here:
    the tables fed to it are single files under 4 MB even at sf0.1,
    which Spark reads as one split at any core count.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once, on first use, and read it back from the
    executors' block stores on every later use.

    The pinned DataFrame plans as a bare ``Scan ExistingRDD``, so it is
    also a plan barrier: the optimizer sees neither its lineage nor its
    expressions, which keeps an iterative plan from growing per round
    and stops projection collapse from inlining an expensive column
    into each consumer. Every action reading it reuses the same rows,
    nondeterministic columns included.

    The pin is lazy: no job runs for the data until the first action.
    It is not free while the query is built, though: under AQE the
    RDD behind it is built from the finalized adaptive plan, which runs
    every upstream shuffle. The blocks live only on executors and keep
    no lineage, so a lost executor fails the query instead of
    recomputing them.
    """
    return df.localCheckpoint(eager=False)


def raw_relation(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The UNCONVERTED parquet relation for one table (stored schema,
    no events-ts adaptation), resolved once per session via the
    relation cache. Streaming readers use it to see the storage
    representation (e.g. TIMESTAMP(NANOS) arriving as long) and apply
    their own in-stream conversion."""

    def build() -> DataFrame:
        if name == "events":
            # runtime-settable; needed even when the caller built the
            # session (e.g. the verify driver) without our defaults.
            try:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            except Exception:
                pass
        return spark.read.parquet(path)

    path = os.path.join(sf_dir, f"{name}.parquet")
    return _cached(spark, path, "raw:", build)
