"""Custom Python DataSource (the Spark 4 extension surface).

The reference ingests from an external system the engine does not
control (HTTP + S3 listings, reference utils.py:19 LawPolicyGenerator);
the Spark-4-native way to wrap such a system as a first-class table is
the Python DataSource API (``pyspark.sql.datasource``): the source
declares its schema and an explicit PARTITION list, and Spark schedules
one Python-worker read task per partition — the same partition-parallel
contract a JVM connector gets, with pushless sources still benefiting
from column pruning at the Arrow boundary.

``SyntheticCrawlDataSource`` is a deterministic stand-in for a crawl
frontier: N_PARTITIONS independent id ranges, every field derived from
md5(page_id) so a DuckDB oracle regenerates the identical table from
``generate_series`` — proving the source is partition-stable and
re-run-stable (a re-read yields byte-identical rows, the property a
restartable ingest needs).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from navigator_data_ingest_spark.sources.sinks import scratch_dir
from navigator_data_ingest_spark.streaming.streams import drain

_REG_LOCK = threading.Lock()


def _register(spark: SparkSession, cls) -> None:
    """Idempotent DataSource registration, safe under session-sharing
    threads: concurrent py4j registration calls can collide, and a
    swallowed collision error leaves the source UNregistered for the
    loser (seen as DATA_SOURCE not found in the threaded sweep).
    Serialize with a lock and only treat 'exists' as success."""
    with _REG_LOCK:
        try:
            spark.dataSource.register(cls)
        except Exception as e:
            if "exists" not in str(e).lower():
                raise


N_PARTITIONS = 8
ROWS_PER_PARTITION = 250
_SCHEMA = "page_id bigint, url string, status int, n_bytes bigint"


def _row(page_id: int) -> tuple[int, str, int, int]:
    h = hashlib.md5(f"crawl:{page_id}".encode()).hexdigest()
    status = 404 if int(h[0:2], 16) % 10 == 0 else 200
    n_bytes = int(h[2:8], 16) % 100000
    return (page_id, f"https://example.org/p/{page_id}", status, n_bytes)


class _CrawlReader(DataSourceReader):
    def partitions(self):  # explicit split => one read task per range
        return [InputPartition(i) for i in range(N_PARTITIONS)]

    def read(self, partition):
        base = partition.value * ROWS_PER_PARTITION
        for k in range(ROWS_PER_PARTITION):
            yield _row(base + k)


class SyntheticCrawlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_crawl"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema):
        return _CrawlReader()


def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: register the source (idempotent per session),
    read it, and project a fetch-plan summary the ingest stage would
    hand to the downloader."""
    _register(spark, SyntheticCrawlDataSource)
    df = spark.read.format("synthetic_crawl").load()
    return df.where("status = 200").orderBy("page_id")


def src_python_datasource_sql() -> str:
    total = N_PARTITIONS * ROWS_PER_PARTITION
    h = "md5('crawl:' || i::varchar)"
    return f"""
    WITH ids AS (
        SELECT unnest(generate_series(0, {total - 1})) AS i
    ), rows_ AS (
        SELECT i::bigint AS page_id,
               'https://example.org/p/' || i::varchar AS url,
               CASE WHEN ('0x' || substr({h}, 1, 2))::uinteger % 10 = 0
                    THEN 404 ELSE 200 END AS status,
               (('0x' || substr({h}, 3, 6))::uinteger % 100000)::bigint
                   AS n_bytes
        FROM ids
    )
    SELECT page_id, url, status, n_bytes
    FROM rows_ WHERE status = 200 ORDER BY page_id
    """


# --------------------------------------------------------------------------
# streaming Python DataSource (offset-tracked, restart-resumable)
# --------------------------------------------------------------------------

STREAM_STEPS = 3            # finite frontier: 3 offset steps
STREAM_ROWS_PER_STEP = 250  # rows admitted per step


class _CrawlStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked frontier over the same deterministic crawl rows:
    each micro-batch admits one id-range step; past STREAM_STEPS the
    offset stops advancing (a drained frontier). ``readBetweenOffsets``
    replays committed-but-unflushed ranges — the exactly-once recovery
    contract."""

    def initialOffset(self):
        return {"step": 0}

    def read(self, start):
        s = int(start["step"])
        if s >= STREAM_STEPS:
            return iter([]), {"step": s}
        base = s * STREAM_ROWS_PER_STEP
        rows = [_row(base + k) for k in range(STREAM_ROWS_PER_STEP)]
        return iter(rows), {"step": s + 1}

    def readBetweenOffsets(self, start, end):
        out = []
        for s in range(int(start["step"]), int(end["step"])):
            base = s * STREAM_ROWS_PER_STEP
            out.extend(_row(base + k) for k in range(STREAM_ROWS_PER_STEP))
        return iter(out)


class SyntheticCrawlStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_crawl_stream"

    def schema(self) -> str:
        return _SCHEMA

    def simpleStreamReader(self, schema):
        return _CrawlStreamReader()


def src_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Python DataSource rung: the crawl frontier consumed as
    a STREAM with source-managed offsets, drained through THREE separate
    query starts sharing one checkpoint — each start resumes from the
    committed offset and admits exactly one step, so the output proves
    offset persistence and exactly-once delivery across restarts (the
    property a resumable ingest actually needs; a single always-on
    drain only proves the happy path). Sink is an append-mode parquet
    dir; the certification aggregates per step.

    In deployment the reader body wraps the real frontier (HTTP
    pagination, a queue, an S3 listing diff) and the restart loop is
    the scheduler's retry — nothing downstream changes.
    """
    _register(spark, SyntheticCrawlStreamSource)
    root = scratch_dir("pystream", sf_dir)
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    for _ in range(STREAM_STEPS):
        # a Python stream source runs one batch per start
        drain(
            spark.readStream.format("synthetic_crawl_stream")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append"),
            ckpt,
        )
    got = spark.read.schema(_SCHEMA).parquet(out_dir)
    return (
        got.groupBy(
            (F.col("page_id") / STREAM_ROWS_PER_STEP)
            .cast("bigint")
            .alias("step")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("n_ok"),
            F.sum("n_bytes").alias("bytes_sum"),
        )
        .orderBy("step")
    )


def src_python_datasource_stream_sql() -> str:
    total = STREAM_STEPS * STREAM_ROWS_PER_STEP
    h = "md5('crawl:' || i::varchar)"
    return f"""
    WITH ids AS (
        SELECT unnest(generate_series(0, {total - 1})) AS i
    ), rows_ AS (
        SELECT i, (i // {STREAM_ROWS_PER_STEP})::bigint AS step,
               CASE WHEN ('0x' || substr({h}, 1, 2))::uinteger % 10 = 0
                    THEN 404 ELSE 200 END AS status,
               (('0x' || substr({h}, 3, 6))::uinteger % 100000)::bigint
                   AS n_bytes
        FROM ids
    )
    SELECT step, count(*)::bigint AS n_rows,
           sum(CASE WHEN status = 200 THEN 1 ELSE 0 END)::bigint AS n_ok,
           sum(n_bytes)::bigint AS bytes_sum
    FROM rows_ GROUP BY step ORDER BY step
    """


# --------------------------------------------------------------------------
# Python DataSource WRITER (the Spark 4 custom-sink surface)
# --------------------------------------------------------------------------


@dataclasses.dataclass
class _SinkCommit(WriterCommitMessage):
    path: str
    n_rows: int
    sum_chars: int


class _AuditSinkWriter(DataSourceWriter):
    """Writes each partition as one JSON-lines part file into a staging
    dir, then the COMMIT step (driver-side, after every task succeeded)
    publishes a manifest naming exactly the committed parts — the
    two-phase protocol every exactly-once sink needs. An abort leaves
    no manifest, so readers (which go through the manifest) never see
    partial output.
    """

    def __init__(self, options):
        self.path = options.get("path")

    def write(self, iterator):
        import uuid

        os.makedirs(self.path, exist_ok=True)
        part = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        sum_chars = 0
        with open(part, "w") as fh:
            for row in iterator:
                fh.write(json.dumps({"doc_id": row.doc_id, "n_chars": row.n_chars}) + "\n")
                n += 1
                sum_chars += row.n_chars
        return _SinkCommit(path=part, n_rows=n, sum_chars=sum_chars)

    def commit(self, messages):
        manifest = {
            "files": sorted(m.path for m in messages if m is not None),
            "n_rows": sum(m.n_rows for m in messages if m is not None),
            "sum_chars": sum(m.sum_chars for m in messages if m is not None),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages):  # pragma: no cover - failure path
        for m in messages:
            if m is not None:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class AuditSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "audit_sink"

    def writer(self, schema, overwrite):
        return _AuditSinkWriter(self.options)


SINK_PARTITIONS = 4




def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource WRITER certification (the Spark 4 custom-sink
    twin of src_python_datasource): write the documents length table
    through a two-phase (per-task part file -> driver commit manifest)
    Python sink, then audit the COMMITTED output — file count equals
    the task count, and the manifest totals equal what a reader finds
    in the parts, which the DuckDB oracle recomputes from the source
    table. The sink writes into ``sinks.scratch_dir``.

    The write runs executor-side (one Python worker per partition);
    only the commit messages reach the driver — the same contract a
    JVM FileFormat sink has, which is what makes the API viable for
    real 100 TB sinks.
    """
    _register(spark, AuditSinkDataSource)
    from navigator_data_ingest_spark.sources.tables import load_table

    out = scratch_dir("pysink", sf_dir)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .repartition(SINK_PARTITIONS, "doc_id")
    )
    # the WRITE path resolves Python data sources through the JVM's
    # THREAD-LOCAL active session (reads carry their session; writes
    # don't): from a fresh driver thread the active session is unset
    # and save() fails DATA_SOURCE_NOT_FOUND even though registration
    # succeeded. Pin it for this thread before writing.
    try:
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:
        pass
    docs.write.format("audit_sink").mode("append").option("path", out).save()
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    # explicit schema + empty-manifest guard: with a zero-row source the
    # committed parts are empty JSON files (inference finds no columns
    # and the agg below would fail UNRESOLVED_COLUMN); non-empty reads
    # are unchanged
    rb_schema = "doc_id bigint, n_chars bigint"
    if man["files"]:
        parts = spark.read.schema(rb_schema).json(man["files"])
    else:
        parts = spark.createDataFrame([], rb_schema)
    readback = parts.agg(
        F.count(F.lit(1)).alias("rb_rows"),
        F.sum("n_chars").alias("rb_chars"),
        F.countDistinct("doc_id").alias("rb_docs"),
    )
    return readback.select(
        F.lit(len(man["files"])).cast("bigint").alias("n_files"),
        F.lit(man["n_rows"]).cast("bigint").alias("manifest_rows"),
        F.lit(man["sum_chars"]).cast("bigint").alias("manifest_chars"),
        F.col("rb_rows").cast("bigint"),
        F.col("rb_chars").cast("bigint"),
        F.col("rb_docs").cast("bigint"),
    )


def sink_python_datasource_sql() -> str:
    # manifest_chars is a DEFINITE total the Python committer sums (0 on
    # an empty source), so the oracle coalesces its SQL sum; rb_chars is
    # the readback's SQL aggregate and stays NULL-on-empty on both
    # engines.
    return f"""
    SELECT {SINK_PARTITIONS}::BIGINT AS n_files,
           count(*)::BIGINT AS manifest_rows,
           coalesce(sum(n_chars), 0)::BIGINT AS manifest_chars,
           count(*)::BIGINT AS rb_rows,
           sum(n_chars)::BIGINT AS rb_chars,
           count(DISTINCT doc_id)::BIGINT AS rb_docs
    FROM documents
    """
