"""Ingest benchmark: one workload, one run, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload batch_ingest --seed 1 --seconds 8 --trace 0

Workloads:
    batch_ingest  main.run_batch on a seeded PipelineUpdates file
    query_suite   a fixed list of registry keys over seeded tables, each
                  written to the noop sink; includes ingest_download_fetch

The run generates its inputs from --seed under .perfbench_work/, starts
one Spark driver process for the workload (perfbench/driver.py), and
measures it from outside: set-up time from process start to the end of
the untimed warm-up iterations, and the peak resident memory (VmHWM) of
the driver Python process plus its JVM. It prints one line per metric,
then the result object as the last line. --trace 0 reports the
end-to-end metrics; --trace 1 reruns with job groups, Catalyst phase
capture and an event log, and reports the per-layer metrics. Per-key
and per-iteration detail goes to .perfbench_out/<workload>-s<seed>-t<trace>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

BATCH_NEW_DOCS = 300
BATCH_UPDATED_DOCS = 300
SUITE_SCALE = 0.001  # sf0.001 row counts: 6000 lineitem; 150 documents
# One heavy key (the Python fetch stage) and five light ones, so the
# median operation sits inside the light keys whatever the pass count.
SUITE_KEYS = [
    "ingest_download_fetch",
    "q1_pricing_summary",
    "q_sql_api",
    "text_quality",
    "ingest_parser_input",
    "dedup_fingerprint",
]
DRIVER_MEMORY = "1g"  # get_spark defaults to 8g; these inputs need far less
RUN_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s",
    "iter_p50_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def peak_rss_mb(driver_pid: int) -> float:
    """VmHWM of the driver Python process plus its JVM child."""
    jvms = [c for c in _children(driver_pid) if _comm(c) == "java"]
    if len(jvms) != 1:
        raise RuntimeError(f"expected one JVM under pid {driver_pid}, found {jvms}")
    return (_vm_hwm_kb(driver_pid) + _vm_hwm_kb(jvms[0])) / 1024


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Wait for every process in the driver's session to end, killing
    the session once the driver is gone or overdue."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    grace = time.monotonic() + 10  # the JVM exits on its own once its parent has
    while _session_pids(proc.pid):
        if time.monotonic() > grace + 20:
            raise RuntimeError("driver processes did not exit")
        if time.monotonic() > grace:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def make_inputs(workload: str, seed: int, work: str) -> dict:
    import gen

    spec = {"workload": workload, "seed": seed}
    if workload == "batch_ingest":
        payload = gen.pipeline_updates(seed, BATCH_NEW_DOCS, BATCH_UPDATED_DOCS)
        path = os.path.join(work, "updates", "new_and_updated_documents.json")
        spec.update(
            updates_file=path,
            updates_bytes=gen.write_pipeline_updates(path, payload),
            out_dir=os.path.join(work, "out"),
            docs=BATCH_NEW_DOCS + BATCH_UPDATED_DOCS,
        )
    else:
        data = os.path.join(work, "data")
        gen.write_query_tables(data, seed, SUITE_SCALE)
        import pyarrow.parquet as pq

        spec.update(
            data_dir=data,
            keys=SUITE_KEYS,
            docs=pq.read_metadata(os.path.join(data, "documents.parquet")).num_rows,
        )
    return spec


def driver_env(work: str, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS")}
    tmp = os.path.join(work, "tmp")
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(c) for c in conf) + " pyspark-shell",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no /tmp/hsperfdata_* files
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    return env


def run_driver(spec: dict, work: str) -> tuple[dict, float, float]:
    """Run the driver process; returns (its result, setup_s, peak_rss_mb)."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spec_file = os.path.join(work, "spec.json")
    with open(spec_file, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    err = open(os.path.join(work, "driver.err"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "driver.py"), "--spec", spec_file],
        cwd=work, env=driver_env(work, spec["trace"]), stdin=subprocess.PIPE,
        stdout=subprocess.PIPE, stderr=err, text=True, start_new_session=True,
    )
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    setup_s = rss = None
    try:
        for line in proc.stdout:
            if not line.startswith("@@perfbench "):
                continue
            event = json.loads(line[len("@@perfbench "):])["event"]
            if event == "setup_done":
                setup_s = time.perf_counter() - t0
            elif event == "measured":
                rss = peak_rss_mb(proc.pid)
                proc.stdin.write("\n")
                proc.stdin.flush()
            elif event == "done":
                break
        proc.stdin.close()
        code = proc.wait()
    finally:
        timer.cancel()
        stop_session(proc)
        err.close()
    if code != 0 or setup_s is None or rss is None:
        with open(os.path.join(work, "driver.err"), encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"driver exited with {code}:\n{tail}")
    with open(spec["result_file"], encoding="utf-8") as f:
        return json.load(f), setup_s, rss


def _p90(ops: list[float]) -> float:
    """Nearest-rank p90 (sidecar only: a run holds too few operations for
    ten to lie beyond it)."""
    return sorted(ops)[-(len(ops) // 10) - 1]


def end_to_end(result: dict, setup_s: float, rss: float) -> dict:
    iter_p50 = statistics.median(result["iterations"])
    return {
        "setup_s": setup_s,
        "iter_p50_s": iter_p50,
        "docs_per_s": result["docs"] / iter_p50,
        "peak_rss_mb": rss,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("batch_ingest", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "navigator_data_ingest_spark")):
        sys.exit(f"perfbench: no navigator_data_ingest_spark package under {ROOT}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = make_inputs(args.workload, args.seed, work)
        spec.update(
            seconds=args.seconds,
            trace=bool(args.trace),
            event_log_dir=os.path.join(work, "eventlog"),
            result_file=os.path.join(work, "result.json"),
        )
        result, setup_s, rss = run_driver(spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = {}
    if args.trace:
        from layers import LAYER_TIMES, PER_LAYER

        metrics = {k: (result["layers"][k], u) for k, u in PER_LAYER.items()}
        detail = {k: (result["layers"][k], u) for k, u in LAYER_TIMES.items()}
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in end_to_end(result, setup_s, rss).items()}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    sidecar = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(sidecar, "w", encoding="utf-8") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "setup_s": setup_s,
                   "peak_rss_mb": rss, "query_p50_s": statistics.median(result["op_times"]),
                   "query_p90_s": _p90(result["op_times"]),
                   **result}, f, indent=1)
    for name, (value, unit) in {**metrics, **detail}.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
