"""Arithmetic and accounting of the benchmark: the tail rule, seeded
inputs, failure counting and open-loop timing."""
import http.server
import json
import os
import threading
import time
import unittest

import pyarrow as pa

import helpers
import corpus
import ingest
import oracle
import run
import stats


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct = stats.tail(list(range(1, 101)))
        self.assertEqual(value, 90)  # 91..100 lie beyond it
        self.assertEqual(pct, 90.0)
        value, pct = stats.tail(list(range(1000, 0, -1)))
        self.assertEqual(value, 990)
        self.assertEqual(pct, 99.0)

    def test_needs_more_than_ten(self):
        self.assertEqual(stats.tail(list(range(11)))[0], 0)
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))

    def test_median_and_percentile(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.percentile(range(1, 101), 99), 99)

    def test_hd_median(self):
        self.assertAlmostEqual(stats.hd_median([3, 1, 2]), 2)
        self.assertAlmostEqual(stats.hd_median(range(12, 0, -1)), 6.5)
        self.assertEqual(stats.hd_median([5]), 5)
        # one sample next to the middle moves it less than the median
        walls = [0.6, 0.6, 0.8, 0.9, 1.0, 1.1, 1.2, 2.0, 2.1, 2.4, 2.6, 3.5]
        slow = walls[:6] + [1.9] + walls[7:]
        self.assertLess(stats.hd_median(slow) - stats.hd_median(walls),
                        stats.median(slow) - stats.median(walls))


class Seeds(unittest.TestCase):
    def test_same_seed_same_query_order(self):
        names = [f"q{i:02d}" for i in range(12)]
        self.assertEqual(corpus.order(names, 7), corpus.order(names, 7))
        self.assertNotEqual(corpus.order(names, 7), corpus.order(names, 8))
        self.assertEqual(sorted(corpus.order(names, 7)), names)

    def test_sample_ignores_seed(self):
        names = [f"q_{i:03d}" for i in range(240)]
        timed = corpus.sample(list(reversed(names)))
        self.assertEqual(timed, names[corpus.QUERY_OFFSET::20])

    def test_same_seed_same_posts(self):
        a = ingest.plan(3, 500, repost=0.05, invalid=0.02)
        b = ingest.plan(3, 500, repost=0.05, invalid=0.02)
        c = ingest.plan(4, 500, repost=0.05, invalid=0.02)
        self.assertEqual([p.body for p in a], [p.body for p in b])
        self.assertNotEqual([p.body for p in a], [p.body for p in c])
        kinds = [p.kind for p in a]
        self.assertGreater(kinds.count("repost"), 0)
        self.assertGreater(kinds.count("invalid"), 0)
        valid = [p.key for p in a if p.kind == "valid"]
        self.assertEqual(len(valid), len(set(valid)))

    def test_keys_round_trip(self):
        p = ingest.plan(1, 1)[0]
        e, t = p.key
        iso = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t // 1000))
        self.assertEqual(
            ingest.parse_key(f"inreach-{e}@{iso}.{t % 1000:03d}Z"), (e, t))


class Failures(unittest.TestCase):
    SQL = "SELECT a, b FROM t ORDER BY a"

    def test_wrong_query_result_fails(self):
        right = pa.table({"a": [1, 2, 3], "b": [0.5, 1.5, None]})
        wrong = pa.table({"a": [1, 2, 3], "b": [0.5, 1.25, None]})
        expected = oracle.fingerprint(right)
        execs = [{"k": 0, "name": "q_ok", "error": ""},
                 {"k": 1, "name": "q_bad", "error": ""},
                 {"k": 2, "name": "q_threw", "error": "boom"}]
        results = {0: right, 1: wrong}
        failures = corpus.check_executions(
            execs, {"q_ok": self.SQL, "q_bad": self.SQL,
                    "q_threw": self.SQL},
            lambda e: results[e["k"]], lambda sql: expected)
        self.assertEqual([f.split(":")[0] for f in failures],
                         ["q_bad", "q_threw"])

    def test_canonicalization_matches_selfcheck(self):
        import decimal
        # column order, row order, int/float/decimal spelling of the
        # same value and NaN do not matter; the sign of zero does
        a = pa.table({"x": [1.5, float("nan")], "y": [2, 3]})
        b = pa.table({"y": [3.0, 2.0],
                      "x": [float("nan"), 1.5]})
        c = pa.table({"x": pa.array([decimal.Decimal("1.50"), None],
                                    pa.decimal128(10, 2)),
                      "y": [2, 3]})
        self.assertEqual(oracle.fingerprint(a), oracle.fingerprint(b))
        self.assertEqual(oracle.cell_key(decimal.Decimal("1.50")),
                         oracle.cell_key(1.5))
        self.assertNotEqual(oracle.fingerprint(a)["sha256"],
                            oracle.fingerprint(c)["sha256"])
        neg = pa.table({"x": [-0.0, 1.0], "y": ["s", "t"]})
        pos = pa.table({"x": [0.0, 1.0], "y": ["s", "t"]})
        self.assertNotEqual(oracle.fingerprint(neg)["sha256"],
                            oracle.fingerprint(pos)["sha256"])

    def test_order_contract(self):
        unordered = pa.table({"a": [2, 1], "b": [0.0, 0.0]})
        self.assertIsNotNone(oracle.check(
            unordered, self.SQL, oracle.fingerprint(unordered)))

    def _records(self, points, statuses):
        recs = []
        for i, (p, s) in enumerate(zip(points, statuses)):
            r = ingest.Record(p, float(i))
            r.sent, r.acked, r.status = float(i), i + 0.01, s
            recs.append(r)
        return recs

    def test_dropped_point_fails(self):
        points = ingest.plan(5, 50, repost=0.1, invalid=0.1)
        statuses = [400 if p.key is None else 200 for p in points]
        recs = self._records(points, statuses)
        keys = {p.key for p in points if p.key is not None}
        delivered = {k: 1 for k in keys}
        self.assertEqual(ingest.account(recs, delivered)[0], [])
        dropped = next(iter(keys))
        del delivered[dropped]
        failures = ingest.account(recs, delivered)[0]
        self.assertEqual(len(failures), 1)
        delivered[dropped] = 2  # a re-POST delivered twice
        self.assertEqual(len(ingest.account(recs, delivered)[0]), 1)

    def test_wrong_status_fails(self):
        points = ingest.plan(5, 50, invalid=0.2)
        statuses = [200 for _ in points]  # invalid bodies accepted
        recs = self._records(points, statuses)
        keys = {p.key for p in points if p.key is not None}
        failures = ingest.account(recs, {k: 1 for k in keys})[0]
        self.assertEqual(len(failures),
                         sum(1 for p in points if p.key is None))


class SlowHandler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    delay = 0.1

    def do_POST(self):
        self.rfile.read(int(self.headers["Content-Length"]))
        time.sleep(self.delay)
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args):
        pass


class FastHandler(SlowHandler):
    delay = 0.0


class OpenLoop(unittest.TestCase):
    def test_latency_counts_generator_lateness(self):
        server = http.server.HTTPServer(("127.0.0.1", 0), SlowHandler)
        t = threading.Thread(target=server.serve_forever, daemon=True)
        t.start()
        try:
            # one connection, 100 ms per request, offered 50/s: every
            # send after the first is late by a growing amount
            recs = ingest.send_open_loop(server.server_address[1],
                                         ingest.plan(1, 8), 50.0, 1)
        finally:
            server.shutdown()
            server.server_close()
        late = [r.sent - r.scheduled for r in recs]
        self.assertLess(late[0], 0.05)
        self.assertGreater(late[-1], 0.5)
        for r in recs:
            # latency from the scheduled time includes the lateness
            self.assertGreaterEqual(r.acked - r.scheduled,
                                    (r.sent - r.scheduled) + 0.09)

    def test_sends_stop_at_the_deadline(self):
        server = http.server.HTTPServer(("127.0.0.1", 0), FastHandler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        start = time.monotonic()
        try:
            # 50/s; the deadline becomes known 0.1 s in and lies 0.2 s
            # in: about ten sends, not the forty planned
            recs = ingest.send_open_loop(
                server.server_address[1], ingest.plan(1, 40), 50.0, 1,
                lambda: start + 0.2 if time.monotonic() > start + 0.1
                else None)
        finally:
            server.shutdown()
            server.server_close()
        self.assertTrue(8 <= len(recs) <= 12, len(recs))
        self.assertTrue(all(r.scheduled < start + 0.2 for r in recs))
        self.assertTrue(all(r.status == 200 for r in recs))

    def test_warm_up_ends_at_the_nth_delivery_or_the_cap(self):
        n, cap = ingest.STEADY_WARMUP_BATCHES, ingest.STEADY_WARMUP_MAX_S
        mark = 100.0
        # deliveries before the mark do not count
        deliveries = [99.0] + [mark + 1 + i for i in range(n)]
        self.assertEqual(ingest._warm_end(deliveries, mark, mark + 50),
                         mark + n)
        self.assertIsNone(ingest._warm_end(deliveries[:-1], mark, mark + 5))
        self.assertEqual(
            ingest._warm_end(deliveries[:-1], mark, mark + cap + 1),
            mark + cap)
        late = [mark + cap + 1 + i for i in range(n)]
        self.assertEqual(ingest._warm_end(late, mark, float("inf")),
                         mark + cap)


class DropFirstHandler(SlowHandler):
    """Reads the first request it is sent and closes the connection
    without answering; answers every later one."""
    delay = 0.0
    dropped = 0

    def do_POST(self):
        if DropFirstHandler.dropped == 0:
            DropFirstHandler.dropped += 1
            self.rfile.read(int(self.headers["Content-Length"]))
            self.close_connection = True
            return
        super().do_POST()


class IdleCloseHandler(SlowHandler):
    """Answers each request, then closes the kept-alive connection
    without saying so (no `Connection: close`)."""
    delay = 0.0

    def do_POST(self):
        super().do_POST()
        self.close_connection = True


class Connections(unittest.TestCase):
    def _serve(self, handler):
        server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        self.addCleanup(server.server_close)
        self.addCleanup(server.shutdown)
        return server.server_address[1]

    def test_dropped_connection_is_a_failure_not_a_retry(self):
        DropFirstHandler.dropped = 0
        port = self._serve(DropFirstHandler)
        points = [p for p in ingest.plan(2, 20) if p.key is not None][:3]
        c = ingest.Client(port)
        recs = []
        for i, p in enumerate(points):
            r = ingest.Record(p, float(i))
            r.status, r.error = c.post(p.body)
            recs.append(r)
        c.close()
        self.assertEqual(DropFirstHandler.dropped, 1)
        self.assertEqual([r.status for r in recs], [None, 200, 200])
        self.assertIsNotNone(recs[0].error)
        # the point was sent once and never acknowledged: even if the
        # receiver spooled it, the run counts one failure
        failures = ingest.account(recs, {p.key: 1 for p in points})[0]
        self.assertEqual(len(failures), 1)
        self.assertIn("answered None", failures[0])

    def test_idle_close_reconnects_before_sending(self):
        port = self._serve(IdleCloseHandler)
        c = ingest.Client(port)
        statuses = []
        for p in ingest.plan(3, 3):
            statuses.append(c.post(p.body))
            time.sleep(0.1)  # let the server's close arrive
        c.close()
        self.assertEqual(statuses, [(200, None)] * 3)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_the_command(self):
        with open(os.path.join(helpers.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
