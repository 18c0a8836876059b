"""Atomic dataset publishing: versioned directories + pointer swap.

The commit protocol every table format (Delta/Iceberg/Hudi) formalizes,
reduced to its primitive: writers produce an immutable versioned
directory (``v=N``), then atomically swap a tiny pointer file to it
(write-temp + rename — atomic on POSIX and on object stores with
atomic rename semantics). Readers resolve the pointer first, then read
ONLY that version's directory — they never observe a half-written
version, and concurrent republication never corrupts a read in flight
(the old version's files are immutable until vacuumed).

The reference's per-object S3 PUTs (updated_document_actions.py
cache rewrites) get exactly this upgrade at scale: rewrite the cache
table into ``v=N+1`` and swap the pointer, instead of mutating objects
in place under readers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from navigator_data_ingest_spark.sources.sinks import scratch_dir
from navigator_data_ingest_spark.sources.tables import load_table

_POINTER = "_LATEST"


def _write_version(df: DataFrame, root: str, version: int) -> str:
    vdir = os.path.join(root, f"v={version}")
    df.write.mode("overwrite").parquet(vdir)
    return vdir


def _swap_pointer(root: str, version: int) -> None:
    """Atomic pointer swap: full content written to a temp name in the
    same directory, then rename over the pointer (one metadata op)."""
    tmp = os.path.join(root, f".{_POINTER}.tmp")
    with open(tmp, "w") as f:
        f.write(f"v={version}\n")
    os.replace(tmp, os.path.join(root, _POINTER))


def read_published(spark: SparkSession, root: str) -> DataFrame:
    with open(os.path.join(root, _POINTER)) as f:
        vdir = f.read().strip()
    return spark.read.parquet(os.path.join(root, vdir))


def _republish(spark: SparkSession, sf_dir: str, op: str) -> str:
    """Rebuild the v1 -> v2 publication state under ``op``'s own root
    and return the root (pointer left at v2). Each of the three publish
    keys has its own root, so a threaded sweep running them together
    never deletes or swaps a sibling's version mid-read."""
    root = scratch_dir(f"publish_{op}", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    v1 = (
        orders.where(F.year("o_orderdate") < 1995)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    _write_version(v1, root, 1)
    _swap_pointer(root, 1)
    v2 = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))").alias(
                "cents"
            ),
        )
    )
    _write_version(v2, root, 2)
    _swap_pointer(root, 2)
    return root


def sink_atomic_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry round-trip: publish v1 (partial aggregate), publish v2
    (the corrected full aggregate), read back through the pointer —
    the result must be EXACTLY v2's content (the oracle recomputes
    v2's semantics), proving readers follow the swap and never see v1
    remnants or a mixed directory."""
    root = _republish(spark, sf_dir, "publish")
    return read_published(spark, root).orderBy("o_orderpriority")


def sink_atomic_publish_sql() -> str:
    return """
    SELECT o_orderpriority,
           count(*)::bigint AS n_orders,
           sum(floor(o_totalprice * 100 + 0.5))::bigint AS cents
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def sink_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM for the pointer-swap layout: after a republication, old
    version directories are unreferenced but still on disk (readers
    mid-flight may hold them — production vacuums enforce a retention
    window; here the republication is complete, so retention is zero).
    Deleting everything the pointer does NOT reference is the other
    half of the table-format lifecycle started by sink_atomic_publish.

    The registry round-trip re-publishes v1→v2, vacuums, then proves
    (a) only the referenced version remains on disk and (b) the
    surviving data still answers the v2 oracle — vacuum removed only
    garbage. Version counts ride along as audit columns.
    """
    # rebuild the two-version state (own root), then vacuum
    root = _republish(spark, sf_dir, "vacuum")
    with open(os.path.join(root, _POINTER)) as f:
        live = f.read().strip()
    before = sorted(d for d in os.listdir(root) if d.startswith("v="))
    for d in before:
        if d != live:
            shutil.rmtree(os.path.join(root, d))
    after = sorted(d for d in os.listdir(root) if d.startswith("v="))
    if after != [live]:
        # a hard error, not assert: the invariant must hold under -O too
        raise RuntimeError(f"vacuum left {after}, pointer {live}")
    return (
        read_published(spark, root)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("cents_total"),
        )
        .select(
            F.lit(len(before)).cast("int").alias("versions_before"),
            F.lit(len(after)).cast("int").alias("versions_after"),
            "n_rows",
            "cents_total",
        )
    )


def sink_vacuum_orphans_sql() -> str:
    return """
    WITH v2 AS (
        SELECT o_orderpriority,
               sum(floor(o_totalprice * 100 + 0.5))::bigint AS cents
        FROM orders GROUP BY o_orderpriority
    )
    SELECT 2::int AS versions_before, 1::int AS versions_after,
           count(*)::bigint AS n_rows,
           sum(cents)::bigint AS cents_total
    FROM v2
    """


def src_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the pointer-swap layout: read a SUPERSEDED version
    explicitly while the pointer references a newer one — the audit /
    reproducibility read every table format exposes as
    ``VERSION AS OF``. Works because published versions are immutable:
    v1's files are untouched by the v2 publication (only the pointer
    moved), so the historical read is exact, not a reconstruction.

    The registry query republishes v1→v2, then reads ``v=1``
    explicitly; the oracle recomputes v1's semantics (the pre-1995
    subset), proving the superseded version is still byte-faithful.
    """
    root = _republish(spark, sf_dir, "timetravel")  # v1 + v2, pointer at v2
    with open(os.path.join(root, _POINTER)) as f:
        live = f.read().strip()
    if live != "v=2":
        raise RuntimeError(f"pointer should reference v=2, found {live}")
    return (
        spark.read.parquet(os.path.join(root, "v=1"))
        .select(
            F.lit(1).cast("int").alias("version"),
            "o_orderpriority",
            "n_orders",
        )
        .orderBy("o_orderpriority")
    )


def src_time_travel_sql() -> str:
    return """
    SELECT 1::int AS version, o_orderpriority, count(*)::bigint AS n_orders
    FROM orders WHERE year(o_orderdate) < 1995
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
