"""`corpus-sf0.1`: a fixed systematic sample of `SparkEntry.queries`
on generated sf0.1 tables, one client, one query at a time.

The seed fixes the order of the sample. Each timed execution is
construction plus the full result (`Action.fullResult`, a collect of
every column of every row); the collected rows are then checked
cell-exact against the DuckDB oracle, outside the timed region.
"""
import hashlib
import json
import os
import random
import shutil
import subprocess
import threading
import time

import pyarrow.parquet as pq

import build
import datagen
import oracle
import stats

# Every QUERY_STRIDE-th query of the name-sorted corpus is timed: a
# sample spread over the query families whose single pass fits one
# run. One untimed pass over the same queries, in the same order, runs
# first: without it the first timed queries pay for the cold JIT, and
# which queries those are changes with the seed.
QUERY_STRIDE = 20
QUERY_OFFSET = 3
PASS_NOMINAL_S = 15.0
# A fixed, pre-touched heap: heap growth and shrinkage would otherwise
# put first-touch page faults into whichever query grows the heap.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
TIMEOUT_S = 170


def data_dir(root):
    """Generated sf0.1 tables (written once per checkout). The
    directory is named after the content, because the program keys the
    fixtures some source queries derive from the tables (under
    `target/fixtures/` of the working directory) by that name."""
    src = open(datagen.__file__, "rb").read()
    data_id = hashlib.sha256(
        src + f"{datagen.DATA_SEED}/{datagen.SF}".encode()).hexdigest()[:16]
    parent = os.path.join(root, build.BUILD_DIR, "data")
    d = os.path.join(parent, f"gen-sf0.1-{data_id}")
    marker = os.path.join(d, ".complete")
    if not os.path.isfile(marker):
        if os.path.isdir(parent):
            for old in os.listdir(parent):
                shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
        datagen.write(d)
        open(marker, "w").close()
    return d, data_id


def all_names(classpath, root):
    cache = classpath.split(os.pathsep)[0] + ".names"
    if not os.path.isfile(cache):
        subprocess.run(build.java(classpath, "perfbench.CorpusBench",
                                  "names", cache, heap=["-Xmx512m"]),
                       check=True,
                       cwd=root, stdout=subprocess.DEVNULL)
    return [n for n in open(cache).read().split() if n]


def sample(names):
    """The timed queries, independent of the seed."""
    return [n for i, n in enumerate(sorted(names))
            if i % QUERY_STRIDE == QUERY_OFFSET]


def order(timed, seed):
    out = list(timed)
    random.Random(seed).shuffle(out)
    return out


def check_executions(executions, sqls, result_of, expected_of):
    """One failure line per execution that threw or whose result is
    not the oracle's."""
    failures = []
    for e in executions:
        why = e["error"] or None
        if why is None:
            sql = sqls.get(e["name"], "")
            if not sql:
                why = "no oracle SQL"
            else:
                why = oracle.check(result_of(e), sql, expected_of(sql))
        if why:
            failures.append(f"{e['name']}: {why}")
    return failures


def run(root, classpath, run_dir, seed, seconds, trace, cores, log):
    data, data_id = data_dir(root)
    names = order(sample(all_names(classpath, root)), seed)
    passes = max(1, round(seconds / PASS_NOMINAL_S))
    names_file = os.path.join(run_dir, "names.txt")
    with open(names_file, "w") as f:
        f.write("\n".join(names) + "\n")
    out = os.path.join(run_dir, "out")
    work = os.path.join(root, build.BUILD_DIR, "work")
    os.makedirs(work, exist_ok=True)

    t0 = time.monotonic()
    proc = subprocess.Popen(
        build.java(classpath, "perfbench.CorpusBench", "run", data, out,
                   names_file, str(passes), "1" if trace else "0",
                   str(cores), ",".join(names), heap=JVM_HEAP),
        cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
    watchdog = threading.Timer(TIMEOUT_S, proc.kill)
    watchdog.start()
    setup_s = None
    try:
        for line in proc.stdout:
            if line.strip() == '{"ready":true}':
                setup_s = time.monotonic() - t0
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or setup_s is None:
        raise RuntimeError(f"corpus JVM exited {proc.returncode}")
    t_jvm = time.monotonic() - t0
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)

    orc = oracle.Oracle(data, data_id,
                        os.path.join(root, build.BUILD_DIR, "oracle"))
    try:
        failures = check_executions(
            result["executions"], sqls,
            lambda e: pq.read_table(os.path.join(out, f"e{e['k']}")),
            orc.expected)
    finally:
        orc.close()
    print(f"[perfbench] corpus: setup {setup_s:.1f} s, JVM {t_jvm:.1f} s, "
          f"checks {time.monotonic() - t0 - t_jvm:.1f} s", file=log, flush=True)
    execs = result["executions"]
    walls = [e["wall_s"] for e in execs]
    # too few executions for the ten-beyond tail: the slowest one
    tail, tail_pct = max(walls), 100.0
    pass_walls = [sum(e["wall_s"] for e in execs if e["pass"] == p)
                  for p in range(result["passes"])]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (stats.hd_median(walls), "s"),
        "latency_tail_s": (tail, "s"),
        "throughput_per_s": (len(names) / stats.median(pass_walls), "1/s"),
    }
    layers = result.get("layers", {})
    layers["jvm.heap_live_peak_mb"] = max(e["heap_peak_mb"] for e in execs)
    info = {"queries": len(names), "passes": result["passes"],
            "tail_percentile": tail_pct, "corpus_s": stats.median(pass_walls),
            "failures": failures}
    return {"attempted": len(execs), "failed": len(failures), "e2e": e2e,
            "layers": layers, "info": info}
