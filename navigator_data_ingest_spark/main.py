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

The three writes are independent: none reads another's output. A
batch's executor work is small next to Spark's fixed per-job driver
cost, so writes run one after another would leave most cores idle while
the driver plans, schedules and commits each job. They run concurrently
on one thread pool instead, as the reference runs its per-document work
on a driver-side pool. A write added later goes through the same pool.

Run:
    python -m navigator_data_ingest_spark.main \
        --updates-file new_and_updated_documents.json --output-dir /tmp/out
"""

from __future__ import annotations

import argparse
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from navigator_data_ingest_spark.operators.ingest import (
    expand_archive_paths,
    map_update_actions,
    order_update_actions,
    parser_input_records,
    results_report,
    url_error_col,
)
from navigator_data_ingest_spark.sources.pipeline_updates import (
    read_pipeline_updates,
)
from navigator_data_ingest_spark.sources.sinks import write_parser_input, write_report


def build_parser_input(new_docs: DataFrame) -> DataFrame:
    """BackendDocument rows -> initial ParserInput records, the document
    type taken as given (new_document_actions.py:88-95)."""
    return parser_input_records(new_docs, F.col("type"))


def build_report(new_docs: DataFrame, updates: DataFrame) -> DataFrame:
    """IngestResult rollup (main.py:186-232): counts per (type, error).

    A batch carries no fetched bytes, so a new document's only error is
    the ValueError of an invalid source_url.
    """
    return results_report(
        new_docs.select(url_error_col().alias("error")),
        updates.select("document_id").distinct(),
    )


def run_batch(spark: SparkSession, updates_file: str, output_dir: str) -> dict:
    """Execute one ingest batch; returns the row count of each output.

    The outputs are built in order on the calling thread, then the three
    writes run concurrently, each on a pool thread that inherits the
    caller's job group, scheduler pool and job description. The batch
    returns, or raises the first failure in submission order, only once
    every write has finished. The counts are the observed row counts of
    the writes, so each output runs once. The archive plan's row order
    is unspecified.
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
        expand_archive_paths(order_update_actions(map_update_actions(updates))),
    )
    report = counted("report", build_report(new_docs, updates))

    def write_archive_plan(df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    writes = [
        (write_parser_input, parser_input, "parser_input"),
        (write_archive_plan, archive_plan, "archive_plan"),
        (write_report, report, "report"),
    ]
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [
            pool.submit(inherit(write), df, os.path.join(output_dir, name))
            for write, df, name in writes
        ]
    # the pool's exit waited for every write, so none is still running
    # when the first failure is raised here
    for future in futures:
        future.result()
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
