"""One workload in one Spark driver process (launched by run.py).

The process builds its session with ``session.get_spark``, runs
untimed warm-up iterations, then a closed loop of iterations for the
given number of seconds: one caller, the next iteration starts only
after the previous one has finished. It reports to run.py with
single-line JSON messages on stdout (``MSG`` prefix) and, after the
``measured`` message, waits for one line on stdin so that run.py can
read the peak memory of this process and its JVM before the output
checks run.

Usage: python3 perfbench/driver.py --spec <work>/spec.json
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import tracing as tr  # noqa: E402
from layers import FETCH_KEY, layer_metrics  # noqa: E402

MSG = "@@perfbench "


def send(**fields) -> None:
    print(MSG + json.dumps(fields, separators=(",", ":")), flush=True)


class BatchIngest:
    """``main.run_batch`` on one PipelineUpdates file per iteration."""

    # A batch's time is mostly per-job driver work, which the JIT takes
    # several batches to compile: iterations fall from ~2x to ~1x the
    # steady time over the first 4-6 batches on a 4-core host.
    WARMUP_ITERATIONS = 6

    # run_batch's module-level callees, wrapped in a span each when traced
    WRAPPED = {
        "read_pipeline_updates": "pipeline_updates.build",
        "build_parser_input": "main.build_parser_input",
        "map_update_actions": "ingest.map_update_actions",
        "order_update_actions": "ingest.order_update_actions",
        "expand_archive_paths": "ingest.expand_archive_paths",
        "build_report": "main.build_report",
        "write_parser_input": "sinks.parser_input_write",
        "write_report": "sinks.report_write",
    }

    def __init__(self, spark, spec: dict) -> None:
        from navigator_data_ingest_spark import main

        self.main = main
        self.spark = spark
        self.updates_file = spec["updates_file"]
        self.out_dir = spec["out_dir"]
        self.docs = spec["docs"]
        self.counts: list[dict] = []

    def warm_up(self) -> tuple[int, int]:
        """Untimed iterations; returns (operations attempted, failed)."""
        failed = sum(self.iteration(None)[1] for _ in range(self.WARMUP_ITERATIONS))
        return self.WARMUP_ITERATIONS, failed

    def iteration(self, tracer: tr.Tracer | None) -> tuple[list[float], int]:
        t0 = time.perf_counter()
        try:
            if tracer is None:
                counts = self.main.run_batch(self.spark, self.updates_file, self.out_dir)
            else:
                counts = self._traced(tracer)
        except Exception:
            traceback.print_exc()
            return [], 1
        self.counts.append(counts)
        return [time.perf_counter() - t0], 0

    def _traced(self, tracer: tr.Tracer) -> dict:
        main, saved, plans = self.main, {}, {}

        def wrap(attr: str, span: str):
            fn = getattr(main, attr)

            def call(*args, **kwargs):
                if attr in ("write_parser_input", "write_report"):
                    tracer.catalyst(args[0])
                with tracer.span(span):
                    out = fn(*args, **kwargs)
                if attr == "expand_archive_paths":
                    plans["archive"] = out
                elif attr == "write_parser_input":
                    # run_batch writes the archive plan inline next
                    tracer.catalyst(plans["archive"])
                    tracer.begin("sinks.archive_plan_write")
                elif attr == "write_report":
                    # then the three post-write count()s
                    tracer.begin("batch.recount")
                return out

            return call

        for attr, span in self.WRAPPED.items():
            saved[attr] = getattr(main, attr)
            setattr(main, attr, wrap(attr, span))
        try:
            with tracer.span("batch.run_batch"):
                return main.run_batch(self.spark, self.updates_file, self.out_dir)
        finally:
            for attr, fn in saved.items():
                setattr(main, attr, fn)

    def check(self) -> tuple[int, int, dict]:
        """(checks attempted, checks failed, exact layer counts)."""
        with open(self.updates_file, encoding="utf-8") as f:
            expected = checks.batch_expected(json.load(f))
        problems = checks.batch_diff(expected, checks.batch_actual(self.out_dir), self.counts[-1])
        problems += [
            f"iteration {i} returned {c}, first returned {self.counts[0]}"
            for i, c in enumerate(self.counts) if c != self.counts[0]
        ]
        for p in problems:
            print("batch_ingest check failed:", p, file=sys.stderr)
        return 1, int(bool(problems)), {"ingest.archive_rows": expected["archive_plan"]}


class QuerySuite:
    """A seeded-order pass over registry keys, each written to ``noop``."""

    # passes keep getting faster for several passes (driver-side planning
    # code is still being JIT-compiled); the last warm-up pass collects
    # each key's rows for the output check
    WARMUP_ITERATIONS = 4

    def __init__(self, spark, spec: dict) -> None:
        from navigator_data_ingest_spark import registry

        self.spark = spark
        self.keys = spec["keys"]
        self.data_dir = spec["data_dir"]
        self.docs = spec["docs"]
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.rng = random.Random(spec["seed"])
        self.outputs: dict[str, tuple[list[str], list[tuple]] | str] = {}

    def warm_up(self) -> tuple[int, int]:
        failed = sum(self.iteration(None)[1] for _ in range(self.WARMUP_ITERATIONS - 1))
        for key in self.keys:
            try:
                df = self.queries[key](self.spark, self.data_dir)
                self.outputs[key] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                self.outputs[key] = traceback.format_exc()
                failed += 1
        return len(self.keys) * self.WARMUP_ITERATIONS, failed

    def iteration(self, tracer: tr.Tracer | None) -> tuple[list[float], int]:
        times, failed = [], 0
        for key in self.rng.sample(self.keys, len(self.keys)):
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = self.queries[key](self.spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span("query", key=key):
                        with tracer.span("query.build", key=key):
                            df = self.queries[key](self.spark, self.data_dir)
                        tracer.catalyst(df)
                        with tracer.span("query.run", key=key):
                            df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            times.append(time.perf_counter() - t0)
        return times, failed

    def check(self) -> tuple[int, int, dict]:
        """Compare the rows collected in the last warm-up pass with each
        key's DuckDB oracle on the same tables."""
        con = checks.duckdb_con(self.data_dir)
        failed, counts = 0, {}
        for key in self.keys:
            got = self.outputs[key]
            if isinstance(got, str):
                problem = got
            else:
                problem = checks.rows_diff(*got, *checks.oracle_rows(con, self.oracles[key]))
            if problem:
                print(f"query_suite check failed: {key}: {problem}", file=sys.stderr)
                failed += 1
            elif key == FETCH_KEY:
                cols, rows = got
                col = {c: i for i, c in enumerate(cols)}
                counts = {
                    "fetch.rows": len(rows),
                    "fetch.retries": sum(r[col["attempts"]] - 1 for r in rows),
                    "fetch.dead_letters": sum(r[col["status"]] != 200 for r in rows),
                }
        con.close()
        return len(self.keys), failed, counts


WORKLOADS = {"batch_ingest": BatchIngest, "query_suite": QuerySuite}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--spec", required=True)
    args = ap.parse_args()
    with open(args.spec, encoding="utf-8") as f:
        spec = json.load(f)

    from navigator_data_ingest_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-" + spec["workload"])
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[spec["workload"]](spark, spec)
    tracer = tr.Tracer(spark.sparkContext) if spec["trace"] else None

    attempted, failed = wl.warm_up()
    phases = {"session_s": session_s, "warmup_s": time.perf_counter() - t0 - session_s}
    send(event="setup_done")

    iters = {"traced": [], "untraced": []}
    op_times: list[float] = []
    start = time.perf_counter()
    n = 0
    while (time.perf_counter() - start < spec["seconds"]
           or (tracer is not None and not (iters["traced"] and iters["untraced"]))):
        traced = tracer is not None and n % 2 == 0
        t = time.perf_counter()
        if traced:
            with tracer.span("iteration", index=n):
                ops, bad = wl.iteration(tracer)
        else:
            ops, bad = wl.iteration(None)
            op_times.extend(ops)
        iters["traced" if traced else "untraced"].append(time.perf_counter() - t)
        attempted += len(ops) + bad
        failed += bad
        n += 1
    phases["measure_s"] = time.perf_counter() - start
    send(event="measured")
    sys.stdin.readline()

    t = time.perf_counter()
    checked, check_failed, counts = wl.check()
    phases["check_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark.stop()
    phases["stop_s"] = time.perf_counter() - t
    result = {
        "attempted": attempted + checked,
        "failed": failed + check_failed,
        "docs": wl.docs,
        "iterations": iters["untraced"],
        "op_times": op_times,
        "phases": phases,
    }
    if tracer is not None:
        groups = tr.parse_event_log(tr.event_log_path(spec["event_log_dir"]))
        result["layers"], result["per_iteration"] = layer_metrics(
            spec, tracer.spans, groups, iters, session_s, counts
        )
    with open(spec["result_file"], "w", encoding="utf-8") as f:
        json.dump(result, f)
    send(event="done")


if __name__ == "__main__":
    main()
