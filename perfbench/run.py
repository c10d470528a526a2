#!/usr/bin/env python3
"""The repo benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload corpus-sf0.1 --seed 1 \\
        --seconds 15 --trace 0

Run it from the root of a checkout. It builds the program from source
(`perfbench/build.py`), generates its inputs, runs the workload,
checks every output, and prints as its last stdout line one JSON
object: `correct`, `attempted`, `failed` and `metrics` (name ->
{value, unit}). `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer metrics of a traced run. Everything it writes goes under
`.bench_build/` of the checkout. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import ingest  # noqa: E402

WORKLOADS = ("corpus-sf0.1", "ingest-steady")
E2E = ["setup_s", "latency_p50_s", "latency_tail_s", "throughput_per_s"]
# Every per-layer metric, with its unit. A layer a workload does not
# exercise reads 0 there (the corpus workload makes no POST, the
# ingest workloads construct no corpus query).
PER_LAYER = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "catalyst.analyze_s": "s", "catalyst.optimize_s": "s",
    "catalyst.plan_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_s": "s", "exec.task_busy_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.busy_cores": "cores", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.task_failures": "count",
    "cachedplans.persists": "count", "cachedplans.storage_peak_mb": "MB",
    "cachedplans.release_s": "s",
    "receiver.status_200": "count", "receiver.status_400": "count",
    "receiver.status_other": "count", "receiver.conn_errors": "count",
    "receiver.ack_p50_ms": "ms", "receiver.ack_p99_ms": "ms",
    "spool.files": "count", "spool.bytes": "bytes",
    "spool.backlog_max": "count",
    "microbatch.batches": "count", "microbatch.rows_p50": "count",
    "microbatch.tasks_p50": "count", "microbatch.trigger_ms_p50": "ms",
    "microbatch.trigger_ms_p99": "ms", "microbatch.latest_offset_ms": "ms",
    "microbatch.get_batch_ms": "ms", "microbatch.planning_ms": "ms",
    "microbatch.add_batch_ms": "ms", "microbatch.wal_commit_ms": "ms",
    "microbatch.commit_offsets_ms": "ms",
    "submitsink.jobs_per_batch": "count", "submitsink.state_files": "count",
    "submitsink.state_keys": "count", "submitsink.submit_files": "count",
    "submitsink.bytes_written": "bytes", "submitsink.dups_dropped": "count",
    "gen.sent": "count", "gen.late_p99_ms": "ms",
    "self.query_s": "s", "self.construct_s": "s", "self.plan_s": "s",
    "self.execute_s": "s", "self.batch_s": "s", "self.job_s": "s",
    "self.stage_s": "s", "self.task_s": "s",
    "jvm.heap_live_peak_mb": "MB",
    "trace.latency_p50_s": "s", "trace.throughput_per_s": "1/s",
}


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def result_line(res, trace):
    if trace:
        lay = dict(res["layers"])
        for k in ("latency_p50_s", "throughput_per_s"):
            lay[f"trace.{k}"] = res["e2e"][k][0]
        metrics = {k: {"value": float(lay.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k][0]),
                       "unit": res["e2e"][k][1]} for k in E2E}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"[perfbench] cannot build the program: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        if a.workload == "corpus-sf0.1":
            res = corpus.run(root, classpath, run_dir, a.seed, a.seconds,
                             bool(a.trace), cores(), log)
        else:
            res = ingest.run(root, classpath, run_dir, a.seed, a.seconds,
                             bool(a.trace), cores(), log)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    for f in res["info"].get("failures", []):
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    # bulky outputs (result dumps, spool, sink) are not kept
    for d in ("out", "serve"):
        keep = {"result.json", "spans.jsonl", "oracle_sql.json"}
        p = os.path.join(run_dir, d)
        if os.path.isdir(p):
            for n in os.listdir(p):
                if n not in keep:
                    q = os.path.join(p, n)
                    shutil.rmtree(q) if os.path.isdir(q) else os.remove(q)
    print(json.dumps(result_line(res, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
