#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery (no JVM, no build):

    python3 perfbench/selftest.py
"""
import hashlib
import http.server
import os
import shutil
import threading
import time
import unittest

import gen
import loadgen
import stats

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work", "selftest")


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(999)), 0.99))
        self.assertEqual(stats.percentile(list(range(1000)), 0.99), 989)
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)
        self.assertEqual(stats.percentile(list(range(100)), 0.9), 89)


class ChainVerifierCatches(unittest.TestCase):
    def setUp(self):
        self.bodies = gen.live_bodies(3, 40, 64)
        self.want = gen.chain(self.bodies)

    def fold(self, seqs_bodies):
        v = stats.ChainVerifier()
        for seq, b in seqs_bodies:
            v.add(seq, b)
        return v.verify(self.want, len(self.bodies))

    def test_intact(self):
        self.assertTrue(self.fold(enumerate(self.bodies)))

    def test_dropped(self):
        self.assertFalse(self.fold([(i, b) for i, b in enumerate(self.bodies) if i != 17]))

    def test_duplicated(self):
        recs = list(enumerate(self.bodies))
        self.assertFalse(self.fold(recs[:10] + [recs[9]] + recs[10:]))

    def test_reordered(self):
        recs = list(enumerate(self.bodies))
        recs[5], recs[6] = recs[6], recs[5]
        self.assertFalse(self.fold(recs))
        # bodies swapped under in-order seq_nums: only the chain sees it
        swapped = list(self.bodies)
        swapped[5], swapped[6] = swapped[6], swapped[5]
        self.assertFalse(self.fold(enumerate(swapped)))


class SeqDigestCatches(unittest.TestCase):
    """The connector scan's order-free digest: delivery order does not
    matter, but a dropped, duplicated or re-sequenced record does."""

    def test_digest(self):
        recs = list(enumerate(gen.live_bodies(4, 40, 64)))
        want = gen.seq_digest(recs)
        self.assertEqual(gen.seq_digest(reversed(recs)), want)
        self.assertNotEqual(gen.seq_digest(recs[:17] + recs[18:]), want)
        self.assertNotEqual(gen.seq_digest(recs + [recs[9]]), want)
        swapped = [(seq, recs[11 - seq][1] if seq in (5, 6) else b) for seq, b in recs]
        self.assertNotEqual(gen.seq_digest(swapped), want)


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class SameSeedSameInputs(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def test_live_tail(self):
        self.assertEqual(gen.live_bodies(7, 30, 1024), gen.live_bodies(7, 30, 1024))
        self.assertNotEqual(gen.live_bodies(7, 30, 1024), gen.live_bodies(8, 30, 1024))
        spans = [(0.0, 2.0, 20), (2.0, 1.0, 10)]
        a = gen.poisson_offsets(7, spans)
        self.assertEqual(a, gen.poisson_offsets(7, spans))
        self.assertNotEqual(a, gen.poisson_offsets(8, spans))
        self.assertEqual(a, sorted(a))
        self.assertTrue(all(t < 2.0 for t in a[:20]) and all(t >= 2.0 for t in a[20:]))

    def test_bulk_ingest(self):
        sizes = dict(fan_streams=50, fan_body=16, deep_streams=3, deep_per_round=40,
                     deep_body=32, rounds=2)
        a = gen.bulk_inputs(7, os.path.join(WORK, "a"), **sizes)
        b = gen.bulk_inputs(7, os.path.join(WORK, "b"), **sizes)
        c = gen.bulk_inputs(8, os.path.join(WORK, "c"), **sizes)
        self.assertEqual(a, b)
        self.assertEqual(tree_digest(os.path.join(WORK, "a")), tree_digest(os.path.join(WORK, "b")))
        self.assertNotEqual(a, c)
        self.assertEqual(sum(v["records"] for v in a.values()), 80)

    def test_analytics(self):
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.analytics_corpus(seed, os.path.join(WORK, name), docs=60, events=200, vectors=30)
        self.assertEqual(tree_digest(os.path.join(WORK, "a")), tree_digest(os.path.join(WORK, "b")))
        self.assertNotEqual(tree_digest(os.path.join(WORK, "a")), tree_digest(os.path.join(WORK, "c")))


class StalledResponder(unittest.TestCase):
    """One request stalls for 0.5 s; the requests queued behind it must
    show that wait in their scheduled-time latency even though the
    server answers each of them quickly."""

    def test_stall_inflates_scheduled_latency(self):
        seen = []

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):
                self.rfile.read(int(self.headers["Content-Length"]))
                seen.append(1)
                if len(seen) == 3:
                    time.sleep(0.5)
                self.send_response(200)
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"{}")

            def log_message(self, *args):
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            t0 = time.perf_counter() + 0.05
            res = loadgen.open_loop("127.0.0.1", srv.server_address[1], "/", [b"x"] * 10,
                                    dues=[t0 + k / 20 for k in range(10)], headers={})
        finally:
            srv.shutdown()
            srv.server_close()
        self.assertTrue(all(r["status"] == 200 for r in res))
        behind = res[3]
        self.assertGreater(behind["done"] - behind["due"], 0.3)   # from the schedule
        self.assertLess(behind["done"] - behind["sent"], 0.2)     # service time alone
        self.assertGreater(behind["sent"] - behind["due"], 0.25)  # the generator ran late


if __name__ == "__main__":
    unittest.main()
