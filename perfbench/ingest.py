"""`ingest-steady`: the webhook receiver -> spool -> micro-batch ->
submit-sink chain under load from a single-process generator.

The generator sends an open loop at a fixed rate; every latency is
timed from the request's scheduled send time, so a late send counts
against the service (no coordinated omission).

Points are delivered when the submit directory lists a file holding
their CoT row. A background poller lists the directory, reads each new
file's `msg_key` column once and records when the file was first seen.
"""
import datetime
import http.client
import json
import os
import queue
import random
import select
import subprocess
import threading
import time

import pyarrow.parquet as pq

import build
import stats

BASE_MS = 1754956800000  # 2025-08-12T00:00:00Z
PROBE_ENTITY = 2_000_000_000


class Point:
    """One POST: `key` is (entityId, time ms) for a schema-valid body,
    None for an invalid one."""
    __slots__ = ("body", "key", "kind")

    def __init__(self, body, key, kind):
        self.body, self.key, self.kind = body, key, kind


def body(entity, t_ms, rng):
    item = {
        "converterId": "conv-1", "deviceId": 40000 + entity, "teamId": 7,
        "trackPoint": {
            "time": t_ms, "direction": rng.randrange(360),
            "inboundMessageId": rng.randrange(10**6),
            "isEmergency": rng.random() < 0.02, "source": "iridium",
            "point": {"x": round(rng.uniform(-120, -80), 5),
                      "y": round(rng.uniform(25, 50), 5)}},
        "source": "everywhere", "entityId": entity,
        "deviceType": "inReach Mini 2", "name": f"Unit {entity}",
        "alias": f"U-{entity}" if entity % 3 else ""}
    return json.dumps(item, separators=(",", ":")).encode()


def invalid_body(rng):
    """A body the receiver must answer with 400."""
    choice = rng.randrange(4)
    if choice == 0:
        return b'{"entityId": 5, "trackPoint": {"direction": 3}}'
    if choice == 1:
        return b'{"entityId": "five", "trackPoint": {"time": 1754956800000}}'
    if choice == 2:
        return b'{"entityId": 5, "trackPoint": {"time": 17549'
    return b'[1, 2, 3]'


def zipf_picker(rng, n, s=1.1):
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    return lambda: rng.choices(range(n), weights)[0]


def plan(seed, n, entities=200, repost=0.0, invalid=0.0):
    """The seeded POST sequence: Zipf-skewed entities, each posting
    strictly increasing times; `repost` of the sends repeat an earlier
    body (half of them one of the last few sends, so they can share a
    micro-batch with the original), `invalid` are schema-invalid."""
    rng = random.Random(seed)
    pick = zipf_picker(rng, entities)
    clock = {}
    out, valid = [], []
    for _ in range(n):
        r = rng.random()
        if r < invalid:
            out.append(Point(invalid_body(rng), None, "invalid"))
        elif r < invalid + repost and valid:
            if rng.random() < 0.5:
                src = valid[max(0, len(valid) - 1 - rng.randrange(5))]
            else:
                src = valid[rng.randrange(len(valid))]
            out.append(Point(src.body, src.key, "repost"))
        else:
            e = pick() + 1
            t = clock.get(e, BASE_MS + e * 7919) + 1000 * rng.randint(1, 60)
            clock[e] = t
            p = Point(body(e, t, rng), (e, t), "valid")
            valid.append(p)
            out.append(p)
    return out


def parse_key(msg_key):
    """'inreach-<entity>@<yyyy-MM-ddTHH:mm:ss.SSSZ>' -> (entity, ms)."""
    ident, iso = msg_key.split("@", 1)
    dt = datetime.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return int(ident.rsplit("-", 1)[1]), round(dt.timestamp() * 1000)


class Poller(threading.Thread):
    """Records when each delivered key's submit file was first listed."""

    def __init__(self, submit_dir, period=0.02):
        super().__init__(daemon=True)
        self.dir, self.period = submit_dir, period
        self.seen_files = set()
        self.first_seen = {}
        self.deliveries = []  # one time per poll that found new files
        self.lock = threading.Lock()
        self.stop_flag = threading.Event()

    def poll_once(self):
        try:
            names = [e.name for e in os.scandir(self.dir) if e.is_file()]
        except FileNotFoundError:
            return
        now = time.monotonic()
        new = [n for n in names
               if n not in self.seen_files and not n.startswith(("_", "."))]
        if new:
            self.deliveries.append(now)
        for n in new:
            self.seen_files.add(n)
            # one thread: the service under test owns the cores
            keys = pq.read_table(os.path.join(self.dir, n),
                                 columns=["msg_key"],
                                 use_threads=False).column(0).to_pylist()
            with self.lock:
                for k in keys:
                    self.first_seen.setdefault(parse_key(k), now)

    def run(self):
        while not self.stop_flag.is_set():
            self.poll_once()
            time.sleep(self.period)

    def wait_for(self, keys, timeout):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if all(k in self.first_seen for k in keys):
                    return True
            time.sleep(self.period)
        return False

    def stop(self):
        self.stop_flag.set()
        self.join()


class Client:
    """One keep-alive connection; `post` returns (status, error).

    A POST is sent once. If it fails, it is not sent again: the
    failure is returned (status None) and counted, because the body
    may already have reached the receiver. The only reconnect happens
    before anything is written: a kept-alive connection whose socket
    already reads as ready (the server closed it while idle) is
    replaced by a new one."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def _closed_by_server(self):
        sock = self.conn.sock
        return sock is not None and bool(select.select([sock], [], [], 0)[0])

    def post(self, payload):
        if self.conn is not None and self._closed_by_server():
            self.conn.close()
            self.conn = None
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection(
                    "127.0.0.1", self.port, timeout=30)
            self.conn.request("POST", "/bench", body=payload, headers={
                "Content-Type": "application/json"})
            resp = self.conn.getresponse()
            resp.read()
            return resp.status, None
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            self.conn = None
            return None, f"{type(e).__name__}: {e}"

    def close(self):
        if self.conn is not None:
            self.conn.close()


class Record:
    __slots__ = ("point", "scheduled", "sent", "acked", "status", "error",
                 "sent_wall")

    def __init__(self, point, scheduled):
        self.point, self.scheduled = point, scheduled
        self.sent = self.acked = self.status = self.error = None
        self.sent_wall = None


def send_open_loop(port, points, rate, connections, deadline=lambda: None):
    """Send point i at t0 + i/rate on the first free connection, until
    the points run out or point i's time reaches `deadline()` (a
    monotonic time, or None while it is not known yet)."""
    work = queue.Queue()
    records = []

    def worker():
        c = Client(port)
        while True:
            item = work.get()
            if item is None:
                break
            rec = records[item]
            rec.sent = time.monotonic()
            rec.status, rec.error = c.post(rec.point.body)
            rec.acked = time.monotonic()
        c.close()

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(connections)]
    for t in threads:
        t.start()
    t0 = time.monotonic() + 0.05
    for i, p in enumerate(points):
        at = t0 + i / rate
        delay = at - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        end = deadline()
        if end is not None and at >= end:
            break
        records.append(Record(p, at))
        work.put(i)
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return records


def read_back(submit_dir):
    """(entity, ms) -> number of CoT rows in the committed submit dir."""
    counts = {}
    for n in sorted(os.listdir(submit_dir)):
        if n.startswith(("_", ".")) or not os.path.isfile(
                os.path.join(submit_dir, n)):
            continue
        for k in pq.read_table(os.path.join(submit_dir, n),
                               columns=["msg_key"]).column(0).to_pylist():
            key = parse_key(k)
            counts[key] = counts.get(key, 0) + 1
    return counts


def account(records, delivered):
    """Check every response and delivery; return the failures and the
    first send of each valid key.

    Failures: a valid POST not answered 200, a valid distinct point
    not delivered exactly once, an invalid POST not answered 400.
    A re-POST delivered twice shows as its key's count of 2."""
    failures = []
    first_send = {}
    for r in records:
        p = r.point
        if p.key is None:
            if r.status != 400:
                failures.append(f"invalid body answered {r.status}")
            continue
        if r.status != 200:
            failures.append(f"valid POST answered {r.status} ({r.error})")
        first_send.setdefault(p.key, r)
    for key in first_send:
        n = delivered.get(key, 0)
        if n != 1:
            failures.append(f"point {key} delivered {n} times")
    return failures, first_send


# ---- one workload run -------------------------------------------------

STEADY_RATE = 20.0      # points/s offered by ingest-steady
# The timed window opens once STEADY_WARMUP_BATCHES micro-batches have
# delivered since the probe, and the sends stop --seconds later. The
# first batches run on a cold JIT, and on a slower or busier machine
# more of them are slow, so a fixed warm-up time would let them into
# the timed window. If the warm-up batches have not all delivered
# STEADY_WARMUP_MAX_S after the probe, the window opens there.
STEADY_WARMUP_BATCHES = 10
STEADY_WARMUP_MAX_S = 45.0
# Two keep-alive connections carry 20 points/s without queueing (an
# acknowledgement takes a few ms); more would only add sender threads
# to the cores the service runs on.
STEADY_CONNECTIONS = 2
STEADY_REPOST = 0.05
STEADY_INVALID = 0.02
ENTITIES = 200
# spark-submit's default driver memory, fixed and pre-touched
SERVE_HEAP = ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch"]
READY_TIMEOUT_S = 60
DRAIN_TIMEOUT_S = 60
TIMEOUT_S = 170         # the whole service run, then it is killed


def _warm_end(deliveries, mark, now):
    """When the warm-up ends: at the STEADY_WARMUP_BATCHES-th delivery
    after `mark`, or STEADY_WARMUP_MAX_S after it if that comes first.
    None if neither has happened by `now`."""
    after = [t for t in list(deliveries) if t > mark]
    end = min(after[STEADY_WARMUP_BATCHES - 1:STEADY_WARMUP_BATCHES]
              + [mark + STEADY_WARMUP_MAX_S])
    return end if end <= now else None


def _probe_key():
    return (PROBE_ENTITY, BASE_MS)


def _files(d, suffix=""):
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, n) for n in os.listdir(d)
            if not n.startswith(("_", ".")) and n.endswith(suffix)
            and os.path.isfile(os.path.join(d, n))]


def _measured_progress(stats_doc):
    """Progress events of non-empty batches after the measured window
    opened, and the spool backlog seen at every event."""
    events = sorted(stats_doc.get("progress", []),
                    key=lambda p: p["progress"]["batchId"])
    committed, backlog, measured = 0, [], []
    for ev in events:
        p = ev["progress"]
        committed += p.get("numInputRows", 0)
        backlog.append(ev["spooled"] - committed)
        if p.get("numInputRows", 0) > 0 and ev["at_ms"] >= stats_doc["mark_ms"]:
            measured.append(p)
    return measured, backlog


def layer_metrics(stats_doc, records, run_dir, delivered, run_keys):
    """Per-layer figures of one traced ingest run."""
    lay = {}
    batches, backlog = _measured_progress(stats_doc)
    per_batch = stats_doc.get("batches", {})
    ex = [per_batch[str(p["batchId"])] for p in batches
          if str(p["batchId"]) in per_batch]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in batches]
    med = lambda xs: stats.median(xs) if xs else 0.0
    lay["microbatch.batches"] = len(batches)
    lay["microbatch.rows_p50"] = med([p["numInputRows"] for p in batches])
    lay["microbatch.tasks_p50"] = med([b["tasks"] for b in ex])
    trig = dur("triggerExecution")
    lay["microbatch.trigger_ms_p50"] = med(trig)
    lay["microbatch.trigger_ms_p99"] = stats.percentile(trig, 99) if trig else 0
    for name, key in [("latest_offset_ms", "latestOffset"),
                      ("get_batch_ms", "getBatch"),
                      ("planning_ms", "queryPlanning"),
                      ("add_batch_ms", "addBatch"),
                      ("wal_commit_ms", "walCommit"),
                      ("commit_offsets_ms", "commitOffsets")]:
        lay[f"microbatch.{name}"] = med(dur(key))
    lay["self.batch_s"] = sum(
        p["durationMs"].get("triggerExecution", 0) - sum(
            v for k, v in p["durationMs"].items() if k != "triggerExecution")
        for p in batches) / 1e3
    for k in ["jobs", "stages", "tasks", "task_busy_s", "task_run_s",
              "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb", "task_failures"]:
        lay[f"exec.{k}"] = sum(b[k] for b in ex)
    lay["exec.busy_cores"] = (lay["exec.task_run_s"] / lay["exec.task_busy_s"]
                              if lay["exec.task_busy_s"] else 0.0)
    lay["exec.driver_gap_s"] = sum(trig) / 1e3 - lay["exec.task_busy_s"]
    lay["self.job_s"] = sum(b["job_s"] - b["stage_s"] for b in ex)
    lay["self.stage_s"] = sum(b["stage_s"] - b["task_busy_s"] for b in ex)
    lay["self.task_s"] = lay["exec.task_busy_s"]
    lay["submitsink.jobs_per_batch"] = med([b["jobs"] for b in ex])
    lay["codegen.compiles"] = stats_doc["codegen_compiles"]
    lay["codegen.compile_s"] = stats_doc["codegen_compile_s"]
    lay["spool.backlog_max"] = max(backlog) if backlog else 0

    serve = os.path.join(run_dir, "serve")
    spool = _files(os.path.join(serve, "spool"))
    lay["spool.files"] = len(spool)
    lay["spool.bytes"] = sum(os.path.getsize(f) for f in spool)
    state = _files(os.path.join(serve, "state"), ".parquet")
    submit = _files(os.path.join(serve, "submit"), ".parquet")
    lay["submitsink.state_files"] = len(state)
    lay["submitsink.state_keys"] = sum(
        pq.ParquetFile(f).metadata.num_rows for f in state)
    lay["submitsink.submit_files"] = len(submit)
    lay["submitsink.bytes_written"] = sum(
        os.path.getsize(f) for f in state + submit)
    accepted = sum(1 for r in records
                   if r.point.key is not None and r.status == 200)
    lay["submitsink.dups_dropped"] = accepted - sum(
        delivered.get(k, 0) for k in run_keys)

    st = [r.status for r in records]
    lay["receiver.status_200"] = st.count(200)
    lay["receiver.status_400"] = st.count(400)
    lay["receiver.status_other"] = sum(
        1 for s in st if s is not None and s not in (200, 400))
    lay["receiver.conn_errors"] = st.count(None)
    lay["gen.sent"] = len(records)
    late = [(r.sent - r.scheduled) * 1e3 for r in records]
    lay["gen.late_p99_ms"] = stats.percentile(late, 99)
    return lay


def spans(records, stats_doc, visible_at, run_id):
    """The spans of one run, in epoch ms: `post` (send to response),
    `visible` (send to the first listing of the point's submit file),
    and `batch` -> its `durationMs` phases, with the batch's Spark
    jobs -> stages under the batch. `visible_at` maps a delivered key
    to the epoch ms of that listing."""
    out = []
    for i, r in enumerate(records):
        out.append({"name": f"post{i}", "start": r.sent_wall,
                    "end": r.sent_wall + (r.acked - r.sent) * 1e3,
                    "parent": "", "run": run_id})
        if r.point.kind == "valid" and r.point.key in visible_at:
            out.append({"name": f"visible{i}", "start": r.sent_wall,
                        "end": visible_at[r.point.key],
                        "parent": "", "run": run_id})
    per_batch = stats_doc.get("batches", {})
    for p in _measured_progress(stats_doc)[0]:
        start = datetime.datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")).timestamp() * 1e3
        b = f"batch{p['batchId']}"
        out.append({"name": b, "start": start,
                    "end": start + p["durationMs"].get("triggerExecution", 0),
                    "parent": "", "run": run_id})
        at = start
        for k in ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets"]:
            d = p["durationMs"].get(k, 0)
            out.append({"name": k, "start": at, "end": at + d,
                        "parent": b, "run": run_id})
            at += d
        for j in per_batch.get(str(p["batchId"]), {}).get("jobs_detail", []):
            job = f"job{j['id']}"
            out.append({"name": job, "start": j["start"], "end": j["end"],
                        "parent": b, "run": run_id})
            for st in j["stages"]:
                out.append({"name": f"stage{st['id']}", "start": st["start"],
                            "end": st["end"], "parent": job, "run": run_id})
    return out


def run(root, classpath, run_dir, seed, seconds, trace, cores, log):
    serve = os.path.join(run_dir, "serve")
    dirs = [os.path.join(serve, d)
            for d in ("spool", "checkpoint", "submit", "state")]
    stats_path = os.path.join(run_dir, "serve-stats.json")
    work = os.path.join(root, build.BUILD_DIR, "work")
    os.makedirs(work, exist_ok=True)
    points = plan(seed, int(STEADY_RATE * (STEADY_WARMUP_MAX_S + seconds)),
                  ENTITIES, STEADY_REPOST, STEADY_INVALID)
    connections = min(STEADY_CONNECTIONS, cores)

    t0 = time.monotonic()
    proc = subprocess.Popen(
        build.java(classpath, "perfbench.ServeBench", *dirs, stats_path,
                   "1" if trace else "0", str(cores), heap=SERVE_HEAP),
        cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=log, text=True)
    watchdog = threading.Timer(TIMEOUT_S, proc.kill)
    watchdog.start()
    poller = Poller(dirs[2])
    try:
        port = None
        for line in proc.stdout:
            if line.startswith('{"serve":"ready"'):
                port = json.loads(line)["port"]
                break
        if port is None:
            raise RuntimeError("service did not start")
        poller.start()
        probe = Client(port)
        status, err = probe.post(body(*_probe_key(), random.Random(0)))
        probe.close()
        if status != 200 or not poller.wait_for([_probe_key()],
                                                READY_TIMEOUT_S):
            raise RuntimeError(f"probe point not delivered ({status} {err})")
        setup_s = time.monotonic() - t0
        proc.stdin.write("mark\n")
        proc.stdin.flush()
        mark = time.monotonic()
        wall0 = time.time() - time.monotonic()

        def window_end():
            warm = _warm_end(poller.deliveries, mark, time.monotonic())
            return None if warm is None else warm + seconds

        records = send_open_loop(port, points, STEADY_RATE, connections,
                                 window_end)
        for r in records:
            r.sent_wall = (wall0 + r.sent) * 1e3
        accepted = {r.point.key for r in records
                    if r.point.key is not None and r.status == 200}
        poller.wait_for(accepted, DRAIN_TIMEOUT_S)
        poller.poll_once()
        proc.stdin.write("stop\n")
        proc.stdin.close()
        proc.wait()
    finally:
        watchdog.cancel()
        if poller.is_alive():
            poller.stop()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"service JVM exited {proc.returncode}")

    delivered = read_back(dirs[2])
    failures, first_send = account(records, delivered)
    if delivered.get(_probe_key(), 0) != 1:
        failures.append("probe point not delivered exactly once")
    after = [t for t in poller.deliveries if t > mark]
    warm_end = _warm_end(after, mark, float("inf"))
    timed = [r for r in records if r.scheduled >= warm_end]
    timed_ids = {id(r) for r in timed}
    timed_first = {k: r for k, r in first_send.items() if id(r) in timed_ids}
    fresh = [poller.first_seen[k] - r.scheduled
             for k, r in timed_first.items() if k in poller.first_seen]
    acks = [(r.acked - r.scheduled) * 1e3 for r in timed
            if r.acked is not None]
    seen = [poller.first_seen[k] for k in timed_first
            if k in poller.first_seen]
    span_s = max(seen) - min(r.sent for r in timed)
    tail, tail_pct = stats.tail(fresh)
    with open(stats_path) as f:
        stats_doc = json.load(f)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (stats.hd_median(fresh), "s"),
        "latency_tail_s": (tail, "s"),
        "throughput_per_s": (len(seen) / span_s, "1/s"),
    }
    layers = {}
    if trace:
        layers = layer_metrics(stats_doc, records, run_dir,
                               delivered, set(first_send))
        visible_at = {k: (wall0 + t) * 1e3
                      for k, t in poller.first_seen.items()}
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in spans(records, stats_doc, visible_at,
                           os.path.basename(run_dir)):
                f.write(json.dumps(s) + "\n")
    layers["jvm.heap_live_peak_mb"] = stats_doc["heap_peak_mb"]
    layers["receiver.ack_p50_ms"] = stats.median(acks)
    layers["receiver.ack_p99_ms"] = stats.percentile(acks, 99)
    info = {"points": len(records), "timed_points": len(timed),
            "distinct_valid": len(first_send),
            "tail_percentile": tail_pct, "failures": failures[:20],
            "fresh_median_s": stats.median(fresh),
            "deliveries_s": [round(t - mark, 3) for t in after],
            "warm_end_s": warm_end - mark}
    return {"attempted": len(records), "failed": len(failures), "e2e": e2e,
            "layers": layers, "info": info}
