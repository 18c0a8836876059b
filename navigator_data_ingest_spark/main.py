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

The three outputs are independent: none reads another's output. A
batch's executor work is small next to Spark's fixed per-job driver
cost: building a DataFrame is py4j round trips and analysis, and each
write is driver-side planning, scheduling and commit. Done one after
another, this leaves most cores idle. So the three outputs are built
concurrently on one thread pool, and once every build has finished the
three writes run concurrently on the same pool, as the reference runs
its per-document work on a driver-side pool. An output added later goes
through the same pool.

Each updated document's actions are ordered inside its own update
array (``operators.ingest.order_update_actions``), so the archive plan
is one narrow stage: scan, generate, write, with no shuffle.

Run:
    python -m navigator_data_ingest_spark.main \
        --updates-file new_and_updated_documents.json --output-dir /tmp/out
"""

from __future__ import annotations

import argparse
import os
from collections.abc import Callable
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
# run_batch reads each updated document's Update array whole. The
# reader keeps the name ``read_pipeline_updates`` here because
# perfbench/driver.py traces run_batch's callees by their names in this
# module.
from navigator_data_ingest_spark.sources.pipeline_updates import (
    read_pipeline_batch as read_pipeline_updates,
)
from navigator_data_ingest_spark.sources.sinks import write_parser_input, write_report


def build_parser_input(new_docs: DataFrame) -> DataFrame:
    """BackendDocument rows -> initial ParserInput records, the document
    type taken as given (new_document_actions.py:88-95)."""
    return parser_input_records(new_docs, F.col("type"))


def build_archive_plan(updated: DataFrame) -> DataFrame:
    """(document_id, updates) rows -> the archive rename plan of the
    actions that run (updated_document_actions.py)."""
    return expand_archive_paths(order_update_actions(map_update_actions(updated)))


def build_report(new_docs: DataFrame, updated: DataFrame) -> DataFrame:
    """IngestResult rollup (main.py:186-232): counts per (type, error).

    A batch carries no fetched bytes, so a new document's only error is
    the ValueError of an invalid source_url. An updated document counts
    once if it has at least one update, in however many files of a glob.
    """
    return results_report(
        new_docs.select(url_error_col().alias("error")),
        updated.where(F.size("updates") > 0).select("document_id").distinct(),
    )


def run_batch(spark: SparkSession, updates_file: str, output_dir: str) -> dict:
    """Execute one ingest batch; returns the row count of each output.

    The three outputs are built concurrently on a thread pool. Once
    every build has finished, the three writes run concurrently on the
    same pool. Each pool thread inherits the caller's job group,
    scheduler pool and job description. The batch returns, or raises
    the first failure in submission order, only once every task it
    started has finished; a failed build starts no write. The counts are
    the observed row counts of the writes, so each output runs once. The
    archive plan's row order is unspecified.
    """
    new_docs, updated = read_pipeline_updates(spark, updates_file)

    def write_archive_plan(df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    # name, build, its inputs, write
    outputs = [
        ("parser_input", build_parser_input, (new_docs,), write_parser_input),
        ("archive_plan", build_archive_plan, (updated,), write_archive_plan),
        ("report", build_report, (new_docs, updated), write_report),
    ]
    # an Observation can only be used once: fresh ones for every batch
    observed = {name: Observation() for name, *_ in outputs}

    def counted(name: str, build: Callable[..., DataFrame], *inputs: DataFrame) -> DataFrame:
        return build(*inputs).observe(observed[name], F.count(F.lit(1)).alias("rows"))

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(outputs)) as pool:
        builds = [
            pool.submit(inherit(counted), name, build, *inputs)
            for name, build, inputs, _ in outputs
        ]
        # a failed build raises here; the pool's exit waits for the others
        dfs = [future.result() for future in builds]
        writes = [
            pool.submit(inherit(write), df, os.path.join(output_dir, name))
            for (name, _, _, write), df in zip(outputs, dfs)
        ]
    # the pool's exit waited for every write, so none is still running
    # when the first failure is raised here
    for future in writes:
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
