"""Per-layer metrics of a traced run, from spans and the event log.

Every metric is computed per traced iteration (one batch, or one suite
pass) and reported as the median over the traced iterations. A metric
whose layer a workload does not exercise reads 0 there.
"""

from __future__ import annotations

import statistics

from tracing import group_totals

FETCH_KEY = "ingest_download_fetch"

# Per-layer metrics every workload exercises, plus layer counts (which
# read 0 where a workload does not reach the layer): name -> unit.
PER_LAYER = {
    "session.start_s": "s",
    "api.build_s": "s",
    "api.build_jobs": "count",
    "api.run_s": "s",
    "api.run_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.max_task_skew": "ratio",
    "trace.overhead_s": "s",
    "pipeline_updates.input_scans": "count",
    "pipeline_updates.read_amplification": "ratio",
    "pipeline_updates.parse_tasks": "count",
    "ingest.archive_rows": "count",
    "sinks.output_bytes": "bytes",
    "batch.jobs": "count",
    "batch.stages": "count",
    "batch.tasks": "count",
    "fetch.build_jobs": "count",
    "fetch.python_bytes_sent": "bytes",
    "fetch.python_bytes_received": "bytes",
    "fetch.rows": "count",
    "fetch.retries": "count",
    "fetch.dead_letters": "count",
}
# Times of layers only one workload calls; they would read exactly 0 on
# every run of the other, so they are printed and kept in the sidecar
# but are not result metrics.
LAYER_TIMES = {
    "pipeline_updates.build_s": "s",
    "ingest.build_s": "s",
    "sinks.parser_input_write_s": "s",
    "sinks.archive_plan_write_s": "s",
    "sinks.report_write_s": "s",
    "batch.recount_s": "s",
    "fetch.build_s": "s",
    "fetch.python_run_s": "s",
    "fetch.python_boot_s": "s",
    "fetch.python_init_s": "s",
}
# spans that build DataFrames, and spans that run jobs to write them
_BUILD = ("pipeline_updates.", "main.build_", "ingest.", "query.build")
_RUN = ("sinks.", "batch.recount", "query.run")


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _gids(spans) -> list[str]:
    return [f"pb{s['id']}" for s in spans]


def _iteration(spec: dict, spans: list[dict], groups: dict) -> tuple[dict, dict]:
    """Layer metrics and the per-key breakdown of one traced iteration."""
    named = lambda prefix: [s for s in spans if s["name"].startswith(prefix)]  # noqa: E731
    total = group_totals(groups, _gids(spans))
    m = {
        "exec.run_s": total["run_ms"] / 1e3,
        "exec.cpu_s": total["cpu_ns"] / 1e9,
        "exec.gc_s": total["gc_ms"] / 1e3,
        "exec.tasks": total["tasks"],
        "exec.shuffle_write_bytes": total["shuffle_write_bytes"],
        "exec.spill_bytes": total["spill_bytes"],
        "exec.max_task_skew": total["max_task_skew"],
    }
    builds, runs = named(_BUILD), named(_RUN)
    m.update({
        "api.build_s": _dur(builds),
        "api.build_jobs": group_totals(groups, _gids(builds))["jobs"],
        "api.run_s": _dur(runs),
        "api.run_jobs": group_totals(groups, _gids(runs))["jobs"],
    })
    cat = named("catalyst")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(s[phase + "_s"] for s in cat)

    if spec["workload"] == "batch_ingest":
        batch = total
        sinks = group_totals(groups, _gids(named("sinks.")))
        m.update({
            "pipeline_updates.build_s": _dur(named("pipeline_updates.build")),
            # stages that read the updates file; nothing else in a batch
            # reads input, so each is one full scan of it
            "pipeline_updates.input_scans": batch["scan_stages"],
            "pipeline_updates.read_amplification": batch["input_bytes"] / spec["updates_bytes"],
            "pipeline_updates.parse_tasks": batch["scan_tasks"] / max(batch["scan_stages"], 1),
            "ingest.build_s": _dur(named("ingest.")),
            "sinks.parser_input_write_s": _dur(named("sinks.parser_input_write")),
            "sinks.archive_plan_write_s": _dur(named("sinks.archive_plan_write")),
            "sinks.report_write_s": _dur(named("sinks.report_write")),
            "sinks.output_bytes": sinks["output_bytes"],
            "batch.recount_s": _dur(named("batch.recount")),
            "batch.jobs": batch["jobs"],
            "batch.stages": batch["stages"],
            "batch.tasks": batch["tasks"],
        })
        return m, {}

    fetch_build = [s for s in builds if s["key"] == FETCH_KEY]
    fetch = group_totals(groups, _gids(s for s in spans if s.get("key") == FETCH_KEY))
    m.update({
        "fetch.build_s": _dur(fetch_build),
        "fetch.build_jobs": group_totals(groups, _gids(fetch_build))["jobs"],
        "fetch.python_run_s": fetch["python_run"] / 1e3,
        "fetch.python_boot_s": fetch["python_boot"] / 1e3,
        "fetch.python_init_s": fetch["python_init"] / 1e3,
        "fetch.python_bytes_sent": fetch["python_bytes_sent"],
        "fetch.python_bytes_received": fetch["python_bytes_received"],
    })
    per_key = {}
    for q in named("query"):
        if q["name"] != "query":
            continue
        kids = [s for s in spans if s["parent"] == q["id"]]
        b = [s for s in kids if s["name"] == "query.build"]
        r = [s for s in kids if s["name"] == "query.run"]
        c = [s for s in kids if s["name"] == "catalyst"]
        per_key[q["key"]] = {
            "build_s": round(_dur(b), 4),
            "build_jobs": group_totals(groups, _gids(b))["jobs"],
            "catalyst_s": {p: round(sum(s[p + "_s"] for s in c), 4)
                           for p in ("analysis", "optimization", "planning")},
            "run_s": round(_dur(r), 4),
            "run_jobs": group_totals(groups, _gids(r))["jobs"],
        }
    return m, per_key


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    ids, out = {root["id"]}, [root]
    for s in spans:  # spans are recorded in entry order: parents first
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def layer_metrics(spec: dict, spans: list[dict], groups: dict, iters: dict,
                  session_s: float, counts: dict) -> tuple[dict, list[dict]]:
    """(metric -> median over traced iterations, per-iteration detail)."""
    rows, detail = [], []
    for it in (s for s in spans if s["name"] == "iteration"):
        m, per_key = _iteration(spec, _subtree(spans, it), groups)
        rows.append(m)
        detail.append({"index": it["index"], "seconds": round(it["end"] - it["start"], 4),
                       "layers": m, "per_key": per_key})
    out = {name: 0.0 for name in {**PER_LAYER, **LAYER_TIMES}}
    for name in rows[0]:
        out[name] = statistics.median(r[name] for r in rows)
    out.update(counts)
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = statistics.median(iters["traced"]) - statistics.median(iters["untraced"])
    return out, detail
