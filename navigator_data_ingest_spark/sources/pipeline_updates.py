"""PipelineUpdates JSON source.

The reference's batch input (`utils.py:19 LawPolicyGenerator`) is one
JSON object per run: ``{"new_documents": [BackendDocument...],
"updated_documents": {doc_id: [Update...]}}`` (fixture:
`tests/fixtures/small/new_and_updated_documents.json`). It json.loads
the whole file on the driver; here the file is read by Spark with an
EXPLICIT nested schema (no sampling-based inference — at 100 TB schema
inference means an extra full pass) and exploded into two DataFrames:

* ``new_documents``  — one row per BackendDocument
* ``updates``        — one row per (document_id, seq, Update), i.e. the
  ``updated_documents`` map-of-arrays flattened with ``explode`` +
  ``posexplode`` so downstream action mapping is a plain column op.

``s3_value`` / ``db_value`` are polymorphic in the reference (string or
whole-document object, see types.py `Update`); they are captured as raw
JSON strings (Spark's JSON reader serializes non-string tokens when the
schema asks for a string), which keeps the schema closed while losing
nothing — consumers that need the object can ``from_json`` it on demand.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from navigator_data_ingest_spark.operators import ingest
from navigator_data_ingest_spark.sources.sinks import sink_path

# BackendDocument (reference types.py): explicit closed schema.
METADATA_SCHEMA = StructType(
    [
        StructField(k, ArrayType(StringType()))
        for k in ("hazards", "frameworks", "instruments", "keywords", "sectors", "topics")
    ]
)

BACKEND_DOCUMENT_SCHEMA = StructType(
    [
        StructField("publication_ts", TimestampType()),
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField("source_url", StringType()),
        StructField("download_url", StringType()),
        StructField("url", StringType()),
        StructField("md5_sum", StringType()),
        StructField("type", StringType()),
        StructField("source", StringType()),
        StructField("import_id", StringType()),
        StructField("family_import_id", StringType()),
        StructField("category", StringType()),
        StructField("geography", StringType()),
        StructField("languages", ArrayType(StringType())),
        StructField("metadata", METADATA_SCHEMA),
        StructField("slug", StringType()),
        StructField("family_slug", StringType()),
    ]
)

UPDATE_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("s3_value", StringType()),  # raw JSON when non-string
        StructField("db_value", StringType()),
    ]
)

PIPELINE_UPDATES_SCHEMA = StructType(
    [
        StructField("new_documents", ArrayType(BACKEND_DOCUMENT_SCHEMA)),
        StructField("updated_documents", MapType(StringType(), ArrayType(UPDATE_SCHEMA))),
    ]
)


def read_pipeline_updates(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Read one-or-many PipelineUpdates JSON files -> (new_docs, updates).

    ``path`` may be a glob; each file is one batch object (multiLine).
    """
    raw = (
        spark.read.schema(PIPELINE_UPDATES_SCHEMA)
        .option("multiLine", "true")
        .json(path)
    )
    new_docs = raw.select(F.explode("new_documents").alias("d")).select("d.*")
    updates = (
        raw.select(F.explode("updated_documents").alias("document_id", "upds"))
        .select("document_id", F.posexplode("upds").alias("pos", "u"))
        .select(
            "document_id",
            (F.col("pos") + 1).cast("int").alias("seq"),
            F.col("u.type").alias("update_type"),
            F.col("u.s3_value").alias("s3_value"),
            F.col("u.db_value").alias("db_value"),
        )
    )
    return new_docs, updates


# ---------------------------------------------------------------------------
# registry query: synthesize a PipelineUpdates file from the documents
# table, round-trip it through the source, return the exploded updates.
# ---------------------------------------------------------------------------


def _synthesize_updates_file(spark: SparkSession, sf_dir: str) -> str:
    """Write a deterministic PipelineUpdates JSON derived from sf_dir.

    Driver-side collect is deliberate and bounded: this materializes the
    TEST INPUT FILE (the reference's batch input is one JSON object and
    is inherently driver-sized); the engine-side parsing it feeds is
    fully distributed.

    The payload is a pure function of sf_dir, so every call for one
    sf_dir rewrites the same per-process path: repeated calls leave one
    directory behind, not one each. The file is written under a temporary
    name and renamed into place, so a reader never sees it half written.
    """
    nd_rows = (
        ingest.synthetic_new_documents(spark, sf_dir)
        .select(
            "doc_id", "import_id", "name", "description", "slug",
            "publication_ts", "geography", "category", "source_url",
            "download_url",
        )
        .orderBy("doc_id")
        .collect()
    )
    upd_rows = (
        ingest.synthetic_updates(spark, sf_dir)
        .orderBy("doc_id", "seq")
        .collect()
    )
    new_documents = [
        {
            "publication_ts": r.publication_ts.isoformat(),
            "name": r.name,
            "description": r.description,
            "source_url": r.source_url,
            "download_url": r.download_url,
            "url": None,
            "md5_sum": None,
            "type": "Decree",
            "source": "TEST",
            "import_id": r.import_id,
            "family_import_id": f"TEST.family.{r.doc_id}.0",
            "category": r.category,
            "geography": r.geography,
            "languages": [],
            "metadata": {k.name: [] for k in METADATA_SCHEMA},
            "slug": r.slug,
            "family_slug": f"slug_TEST.family.{r.doc_id}.0",
        }
        for r in nd_rows
    ]
    updated_documents: dict[str, list[dict]] = {}
    for r in upd_rows:
        updated_documents.setdefault(r.document_id, []).append(
            {
                "type": r.update_type,
                "s3_value": f"cur-{r.update_type}-{r.doc_id}",
                "db_value": f"new-{r.update_type}-{r.doc_id}",
            }
        )
    payload = {"new_documents": new_documents, "updated_documents": updated_documents}
    out_dir = sink_path("updates", sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "new_and_updated_documents.json")
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)
    return path


def src_pipeline_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip query: synthesize file -> parse -> exploded updates.

    The returned updates DF exercises the hard part of the source (the
    map-of-arrays explode with stable seq numbering); the new_documents
    side is asserted field-for-field in tests.
    """
    path = _synthesize_updates_file(spark, sf_dir)
    _, updates = read_pipeline_updates(spark, path)
    return updates.select(
        "document_id", "seq", "update_type", "s3_value", "db_value"
    ).orderBy("document_id", "seq")
