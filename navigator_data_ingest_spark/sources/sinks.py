"""Sinks: parser-input and report writers.

The reference uploads one JSON object per document and one report per
batch (`main.py:186-232`, `new_document_actions.py:120`). At scale the
object-per-document layout is replaced by partitioned JSON-lines /
parquet datasets (same payload schema, one file per task instead of one
PUT per row); the report stays a single small aggregate.
"""

from __future__ import annotations

import atexit
import functools
import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def sink_path(kind: str, key: str) -> str:
    """The package's one temp root for ``(kind, key)``: deterministic and
    per-process.

    Deterministic within a process so reruns overwrite instead of
    accumulating. Scoped to the process id because two processes
    running the same key (pytest alongside a sweep, a second driver
    session) would otherwise race one process's overwrite or delete
    against the other's read-back. Caches kept here across calls (the
    binfiles, dpp and time-ordered feed layouts) are therefore
    per-process too: a cheap rebuild per JVM instead of a cross-process
    mtime race. Every root of the process is removed when it exits.
    """
    h = hashlib.md5(key.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    _remove_roots_at_exit(tmp)
    return os.path.join(tmp, f"nav_spark_{kind}_{h}_{os.getpid()}")


@functools.cache
def _remove_roots_at_exit(tmp: str) -> None:
    atexit.register(_remove_own_roots, tmp)


def _remove_own_roots(tmp: str) -> None:
    """Remove the ``sink_path`` roots of the exiting process, found by
    its pid (a forked child that exits removes its own, not the
    parent's); no other process reads them."""
    for d in glob.glob(os.path.join(tmp, f"nav_spark_*_{os.getpid()}")):
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(kind: str, key: str) -> str:
    """``sink_path(kind, key)``, emptied and recreated: fresh per-run
    state (stream checkpoints, foreachBatch tables, publish roots) that
    no earlier run in this process can leak into. A reused stream
    checkpoint, for one, would resume from its committed offsets and
    emit nothing into the new run's sink."""
    d = sink_path(kind, key)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def write_parser_input(df: DataFrame, path: str, fmt: str = "json") -> None:
    """ParserInput records -> partitioned JSON-lines or parquet dataset."""
    writer = df.write.mode("overwrite")
    if fmt == "json":
        writer.json(path)
    elif fmt == "parquet":
        # geography is the reference's upload prefix ({geo}/{year}); at
        # scale it is the natural partition key for the cache dataset.
        writer.partitionBy("document_geography").parquet(path)
    else:
        raise ValueError(f"unsupported sink format: {fmt}")


REPORT_SCHEMA = StructType(
    [
        StructField("ingest_type", StringType()),
        StructField("error", StringType()),
        StructField("n_docs", LongType()),
    ]
)


def write_report(df: DataFrame, path: str) -> None:
    """Batch results report -> single JSON file (driver-sized aggregate).

    coalesce(1) is correct here, not a smell: the report is a
    per-(type, error) rollup — a handful of rows regardless of input
    scale — and the reference writes exactly one report object per batch
    (reports/ingest/batch_1.json). ``main.build_report`` already rolls
    the batch up in one partition, so there the write adds no stage; a
    report built from a partitioned input (``sink_report``) is merged
    into one task after its aggregation's exchange.
    """
    df.coalesce(1).write.mode("overwrite").json(path)


# ---------------------------------------------------------------------------
# registry round-trip queries
# ---------------------------------------------------------------------------


def sink_parser_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parser inputs -> partitioned parquet -> read back (lossless check)."""
    from navigator_data_ingest_spark.operators.ingest import ingest_parser_input
    from navigator_data_ingest_spark.sources.json_cache import PARSER_INPUT_FIELDS

    out = sink_path("parser_parquet", sf_dir)
    src = ingest_parser_input(spark, sf_dir)
    write_parser_input(src, out, fmt="parquet")
    # explicit schema (the writer's own): a zero-row upstream writes no
    # data files and inference raises UNABLE_TO_INFER_SCHEMA; non-empty
    # reads are unchanged
    return (
        spark.read.schema(src.schema).parquet(out)
        .select(*PARSER_INPUT_FIELDS)
        .orderBy("document_id")
    )


def sink_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Results report -> JSON -> read back with explicit schema."""
    from navigator_data_ingest_spark.operators.ingest import ingest_results_report

    out = sink_path("report", sf_dir)
    write_report(ingest_results_report(spark, sf_dir), out)
    return (
        spark.read.schema(REPORT_SCHEMA)
        .json(out)
        .orderBy("ingest_type", "error")
    )
