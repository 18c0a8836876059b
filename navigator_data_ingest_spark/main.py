"""Batch entry point: the reference's `main.py` run shape on Spark.

One invocation = one batch (reference main.py:115): read a
PipelineUpdates JSON, plan the work, write outputs. Where the reference
fans out over a 4-worker thread pool mutating S3 one object at a time,
this plans everything as DataFrames and writes three datasets:

    {out}/parser_input/     initial ParserInput records (JSON lines)
    {out}/archive_plan/     (src_path, dst_path) rename plan parquet
    {out}/report/           the per-(type, error) batch summary JSON

Each output is planned and run exactly once. The row counts the batch
returns are observed on the writes themselves (``df.observe``), so no
count job re-reads the input. The archive plan is a rename set and is
written unsorted: its row order is unspecified.

Run:
    python -m navigator_data_ingest_spark.main \
        --updates-file new_and_updated_documents.json --output-dir /tmp/out
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.text import optional_http_url
from navigator_data_ingest_spark.operators.ingest import (
    expand_archive_paths,
    map_update_actions,
    order_update_actions,
)
from navigator_data_ingest_spark.sources.pipeline_updates import (
    read_pipeline_updates,
)
from navigator_data_ingest_spark.sources.sinks import write_parser_input, write_report


def build_parser_input(new_docs: DataFrame) -> DataFrame:
    """BackendDocument rows -> initial ParserInput records.

    Direct field translations (new_document_actions.py:88-95); rows with
    an invalid non-null source_url are excluded here and surface as
    ValueError rows in the report instead of raising per-document.
    """
    return new_docs.where(optional_http_url(F.col("source_url"))).select(
        F.col("import_id").alias("document_id"),
        F.col("slug").alias("document_slug"),
        F.col("name").alias("document_name"),
        F.col("description").alias("document_description"),
        F.col("source_url").alias("document_source_url"),
        F.col("type").alias("document_type"),
        F.col("geography").alias("document_geography"),
        F.lit(None).cast("string").alias("document_cdn_object"),
        F.lit(None).cast("string").alias("document_content_type"),
        F.lit(None).cast("string").alias("document_md5_sum"),
    )


def build_report(new_docs: DataFrame, updates: DataFrame) -> DataFrame:
    """IngestResult rollup (main.py:186-232): counts per (type, error)."""
    new_side = new_docs.select(
        F.lit("new").alias("ingest_type"),
        F.when(~optional_http_url(F.col("source_url")), F.lit("ValueError")).alias("error"),
    )
    upd_side = (
        updates.select("document_id")
        .distinct()
        .select(
            F.lit("updated").alias("ingest_type"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    return (
        new_side.unionAll(upd_side)
        .groupBy("ingest_type", "error")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def run_batch(spark: SparkSession, updates_file: str, output_dir: str) -> dict:
    """Execute one ingest batch; returns the row count of each output.

    The counts are the observed row counts of the three writes, so each
    output runs once. The archive plan skips the ordered operators'
    presentation sorts: its row order is unspecified.
    """
    new_docs, updates = read_pipeline_updates(spark, updates_file)
    observed: dict[str, Observation] = {}

    def counted(key: str, df: DataFrame) -> DataFrame:
        # an Observation can only be used once: fresh ones for every batch
        observed[key] = Observation()
        return df.observe(observed[key], F.count(F.lit(1)).alias("rows"))

    parser_input = counted("parser_input", build_parser_input(new_docs))
    archive_plan = counted(
        "archive_plan",
        expand_archive_paths(
            order_update_actions(map_update_actions(updates), ordered=False),
            sort_output=False,
        ),
    )
    report = counted("report", build_report(new_docs, updates))

    write_parser_input(parser_input, os.path.join(output_dir, "parser_input"))
    archive_plan.write.mode("overwrite").parquet(
        os.path.join(output_dir, "archive_plan")
    )
    write_report(report, os.path.join(output_dir, "report"))
    return {k: obs.get["rows"] for k, obs in observed.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--updates-file", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from navigator_data_ingest_spark.session import get_spark

    spark = get_spark(app_name="ingest-batch", master=args.master)
    counts = run_batch(spark, args.updates_file, args.output_dir)
    print(counts)
    spark.stop()


if __name__ == "__main__":
    main()
