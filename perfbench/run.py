#!/usr/bin/env python3
"""The graft benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

Builds the JVM side (perfbench/build.sbt: the repo's sources plus
perfbench/src) when its inputs changed, generates the workload's inputs
from --seed, runs it, verifies every output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list (0 where the workload does not touch that layer).
Exits 1 when an integrity check failed, 2 when it could not run.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import gen
import stats
from stats import median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))

# live_tail: 10 unary appends/s (Poisson arrivals) of 10 x 1 KiB records
# from one keep-alive writer connection, after a warm-up segment at the
# same rate. With the dispatcher and the two SSE readers that is four
# generator threads and at most three connections, within nproc. The tail
# read path needs ~100 deliveries before its latency settles, so a second
# SSE session follows the stream during the warm-up only.
LIVE = {"rate": 10, "per_batch": 10, "body": 1024, "warm_s": 12,
        "catchup_reads": 7, "point_reads": 40, "point_count": 10,
        "drain_s": 20}
# bulk_ingest: fan-outs of 3k streams, deep rounds into 8 streams, then
# catch-up scans of those 8 (medians reported)
BULK = {"fan_streams": 3000, "fan_body": 64, "fan_reps": 2, "deep_streams": 8,
        "deep_per_round": 16384, "deep_body": 1024, "rounds": 8, "scan_reps": 5}
# analytics: corpus size, and two queries of each family, each timed
# once after the warm pass: Structured Streaming over the connector (demos
# on a fixed fixture; they ignore the corpus), and the shuffle-bound dedup
# pipelines
CORPUS = {"docs": 1000, "events": 20000, "vectors": 1000}
FAMILIES = {
    "streaming": ["e2e_stream_join", "e2e_stream_window"],
    "dedup": ["dedup_minhash_lsh", "dedup_ngram_prefix"],
}

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    """The run could not produce a result (exit 2, nothing printed)."""


# ---------------------------------------------------------------- build

def build():
    """Compiles the JVM side when any of its inputs changed; returns the
    runtime classpath."""
    src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(src):
        raise BenchError(f"no program sources at {src}")
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (src, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "inputs.sha256"), os.path.join(target, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                with open(cp_file) as f:
                    return f.read()
    log("building the JVM side (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        raise BenchError("sbt build failed")
    os.makedirs(target, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    with open(cp_file) as f:
        return f.read()


# ------------------------------------------------------------------ JVM

class Jvm:
    """The JVM side: `graftbench.Main <workload> <work> <trace> k=v...`."""

    def __init__(self, cp, workload, work, trace, opts):
        # the generated inputs reach the disk before the program starts, so
        # their writeback does not overlap the timed work
        os.sync()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.work = work
        self.log_path = os.path.join(work, "jvm.log")
        self.launched = time.time()
        # a fixed-size heap keeps the collector's sizing decisions out of
        # the timings
        cmd = (["java", "-Xms2g", "-Xmx2g", *ADD_OPENS, "-Dsun.jnu.encoding=UTF-8",
                "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                "graftbench.Main", workload, work, "1" if trace else "0",
                f"cpus={CPUS}"] + [f"{k}={v}" for k, v in opts.items()])
        self.log_file = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log_file, text=True, cwd=work)

    def command(self, line):
        """Sends one stdin command and waits for its `OK`."""
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        if self.proc.stdout.readline().strip() != "OK":
            raise BenchError(f"JVM did not acknowledge {line!r}")

    def finish(self, timeout=150):
        """Waits for exit and returns jvm_out.json."""
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.kill()
            raise BenchError("JVM timed out")
        finally:
            self.log_file.close()
        if self.proc.returncode != 0:
            with open(self.log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise BenchError(f"JVM exited with {self.proc.returncode}")
        with open(os.path.join(self.work, "jvm_out.json")) as f:
            return json.load(f)

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def spark_sums(trace, jobs):
    """Totals over the stages of `jobs` (job dicts from the listener)."""
    ids = {s for j in jobs for s in j["stages"]}
    st = [s for s in trace["stages"] if s["id"] in ids]
    return {
        "jobs": len(jobs), "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "input_bytes": sum(s["input_bytes"] for s in st),
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in st) / 2**20,
        "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in st) / 2**20,
        "spill_mb": sum(s["spill_bytes"] for s in st) / 2**20,
        "executor_run_s": sum(s["run_ms"] for s in st) / 1e3,
        "executor_gc_s": sum(s["gc_ms"] for s in st) / 1e3,
    }


def jobs_within(trace, lo_us, hi_us):
    return [j for j in trace["jobs"] if j["start"] >= lo_us and j["end"] <= hi_us]


def span_tree(trace):
    """Children intervals per span id: child spans and the Spark jobs
    submitted under it."""
    kids = {}
    for s in trace["spans"]:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in trace["jobs"]:
        kids.setdefault(j["parent"], []).append((j["start"], j["end"]))
    return kids


def spans_named(trace, name):
    return [s for s in trace["spans"] if s["name"] == name]


def span_s(s):
    return (s["end"] - s["start"]) / 1e6


def fsync_ms_p50(work, n=20):
    """Median wall of write + fsync of a 4 KiB file in the work dir."""
    path = os.path.join(work, "fsync.probe")
    out = []
    for _ in range(n):
        t = time.perf_counter()
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
        os.write(fd, b"x" * 4096)
        os.fsync(fd)
        os.close(fd)
        out.append((time.perf_counter() - t) * 1e3)
    os.remove(path)
    return median(out)


# ------------------------------------------------------------ live_tail

def live_tail(cp, work, seed, seconds, trace):
    import loadgen
    p = LIVE
    n_warm = p["rate"] * p["warm_s"]
    n_batches = n_warm + p["rate"] * seconds
    bodies = gen.live_bodies(seed, n_batches * p["per_batch"], p["body"])
    batches = [bodies[k * p["per_batch"]:(k + 1) * p["per_batch"]] for k in range(n_batches)]
    payloads = [loadgen.encode_batch(b) for b in batches]
    offsets = gen.poisson_offsets(seed, [(0.0, p["warm_s"], n_warm),
                                         (p["warm_s"], seconds, n_batches - n_warm)])
    total = n_batches * p["per_batch"]
    basin, stream = "bench-live", "live"

    jvm = Jvm(cp, "live_tail", work, trace, {"run_id": f"live_tail-{seed}"})
    try:
        ready = jvm.proc.stdout.readline().split()
        if len(ready) != 2 or ready[0] != "READY":
            jvm.kill()
            raise BenchError(f"JVM did not start serving: {ready}")
        t_ready, t_ready_wall = time.perf_counter(), time.time()
        host, port = ready[1].removeprefix("http://").split(":")
        port = int(port)
        tail = loadgen.SseTail(host, port, stream, basin, total)
        n_warm_read = (n_warm - p["rate"]) * p["per_batch"]
        warm_tail = loadgen.SseTail(host, port, stream, basin, n_warm_read)
        for t in (tail, warm_tail):
            t.start()
            t.opened.wait(30)
        clock_off = time.time() - time.perf_counter()
        t0 = time.perf_counter() + 0.2
        dues = [t0 + o for o in offsets]
        win_lo = t0 + p["warm_s"]
        win_hi = win_lo + seconds
        marks = {}
        backlog = []

        def on_due(k, results):
            # traced runs scrape the server metrics and list the store at
            # the window start; every run samples the tail backlog
            if k == n_warm and trace:
                marks["ack0"] = loadgen.scrape_ack_latency(host, port)
                jvm.command("snap window_start")
            if k % 5 == 0:
                acked = sum(len(batches[i]) for i, r in enumerate(results)
                            if r is not None and r["status"] == 200)
                backlog.append((time.perf_counter(), acked - len(tail.arrivals)))

        headers = {"Content-Type": "application/json", loadgen.BASIN_HEADER: basin,
                   "s2-format": "base64"}
        res = loadgen.open_loop(host, port, f"/v1/streams/{stream}/records", payloads,
                                dues, headers, on_due=on_due)
        acked_at_end = sum(len(batches[i]) for i, r in enumerate(res) if r["status"] == 200)
        backlog_end = acked_at_end - len(tail.arrivals)
        if trace:
            marks["ack1"] = loadgen.scrape_ack_latency(host, port)
        tail.join(p["drain_s"])
        for t in (tail, warm_tail):
            t.stop()
            t.join(5)
        t_catch = time.perf_counter()
        reads, catch_walls = [], []
        for _ in range(p["catchup_reads"]):
            t = time.perf_counter()
            reads.append(loadgen.s2s_read(host, port, stream, basin, 0, total))
            catch_walls.append(time.perf_counter() - t)
        t_catch_hi = time.perf_counter()
        # point reads: bounded reads of a few records at seeded offsets,
        # the tail's per-delivery read without the queueing behind it
        rng = random.Random(f"live_tail-reads/{seed}")
        points = []
        for _ in range(p["point_reads"]):
            start = rng.randrange(total - p["point_count"])
            t = time.perf_counter()
            recs, err = loadgen.s2s_read(host, port, stream, basin, start, p["point_count"])
            points.append(((time.perf_counter() - t) * 1e3, start, recs, err))
        if trace:
            jvm.command("snap end")
        out = jvm.finish()
    finally:
        jvm.kill()

    # ---- integrity: acks must tile [0, total) in some order; the
    # expected chain is the bodies in acked seq order
    failed = 0
    order = []
    for k, r in enumerate(res):
        if r["status"] != 200:
            failed += 1
            log(f"append {k}: status {r['status']} {r['body'][:200]!r}")
            continue
        ack = json.loads(r["body"])
        order.append((ack["start"]["seq_num"], ack["end"]["seq_num"], k))
    order.sort()
    expected_bodies, seq_batch, nxt = [], {}, 0
    for lo, hi, k in order:
        if lo != nxt or hi - lo != len(batches[k]):
            failed += 1
            log(f"append {k} acked [{lo},{hi}) after {nxt}")
        nxt = hi
        expected_bodies += batches[k]
        for s in range(lo, hi):
            seq_batch[s] = k
    expected_chain, n_acked = gen.chain(expected_bodies), len(expected_bodies)
    if out["tail_seq"] != n_acked:
        failed += 1
        log(f"tail {out['tail_seq']} != acked records {n_acked}")
    undelivered = n_acked - len(tail.arrivals)
    failed += max(0, undelivered)
    if not tail.chain.verify(expected_chain, n_acked):
        failed += 1
        log(f"SSE tail chain mismatch ({tail.chain.records} records, in order: {tail.chain.in_order})")
    if not warm_tail.chain.verify(gen.chain(expected_bodies[:n_warm_read]), n_warm_read):
        failed += 1
        log(f"warm-up SSE chain mismatch ({warm_tail.chain.records} records)")
    for e in tail.errors + warm_tail.errors:
        failed += 1
        log(e)
    for recs, err in reads:
        v = stats.ChainVerifier()
        for seq, body in recs:
            v.add(seq, body)
        if err or not v.verify(expected_chain, n_acked):
            failed += 1
            log(f"catch-up read failed: {err} ({v.records} records)")
    for _, start, recs, err in points:
        want = [(start + i, expected_bodies[start + i]) for i in range(p["point_count"])
                if start + i < n_acked]
        if err or recs != want:
            failed += 1
            log(f"point read at {start} failed: {err} ({len(recs)} records)")
    attempted = n_batches + n_acked + 3 + len(reads) + len(points)

    # ---- end to end: the timed window only
    win = [(k, r) for k, r in enumerate(res) if k >= n_warm and r["status"] == 200]
    e2e = [(tail.arrivals[s] - res[seq_batch[s]]["due"]) * 1e3
           for s in seq_batch if seq_batch[s] >= n_warm and s in tail.arrivals]
    ack_ms = [(r["done"] - r["due"]) * 1e3 for _, r in win]
    serve_ms = [(r["done"] - r["sent"]) * 1e3 for _, r in win]
    late_ms = [(r["sent"] - r["due"]) * 1e3 for k, r in enumerate(res) if k >= n_warm]
    catchup_s = median(catch_walls)
    metered_total = sum(loadgen.metered(b) for b in expected_bodies)
    # a backlog growing by more than two seconds of input across the window
    # flags the run: its latency then depends on run length, not on the system
    slope = 0.0
    bl = [(t, b) for t, b in backlog if win_lo <= t < win_hi]
    if len(bl) > 2:
        mt, mb = median([t for t, _ in bl]), sum(b for _, b in bl) / len(bl)
        den = sum((t - mt) ** 2 for t, _ in bl)
        slope = sum((t - mt) * (b - mb) for t, b in bl) / den if den else 0.0
    if slope * seconds > 2 * p["rate"] * p["per_batch"]:
        log(f"FLAG: tail backlog grew {slope:.1f} records/s across the window")
    # set-up ends when the server is ready: the warm-up that follows is a
    # fixed schedule, reported per layer as setup.warmup_s
    e2e_metrics = {
        "setup_s": t_ready_wall - jvm.launched,
        "mem_retained_mb": out["retained_mb"],
        "op_p50_ms": median([ms for ms, _, _, _ in points]),
        "work_s": catchup_s,
    }
    layer = {}
    if trace:
        tr = out["trace"]
        lo_us, hi_us = (clock_off + win_lo) * 1e6, (clock_off + win_hi) * 1e6
        tail_jobs = jobs_within(tr, lo_us, hi_us)
        catch_jobs = jobs_within(tr, (clock_off + t_catch) * 1e6, (clock_off + t_catch_hi) * 1e6)
        win_events = [n for t, n in tail.events if win_lo <= t < win_hi]
        delivered_win = sum(win_events)
        (s0, c0), (s1, c1) = marks["ack0"], marks["ack1"]
        store_mean = (s1 - s0) / max(1, c1 - c0) * 1e3
        tail_stats = spark_sums(tr, tail_jobs)
        catch_stats = spark_sums(tr, catch_jobs)
        layer = {
            "serve.ack_ms_p50": percentile(ack_ms, 0.5),
            "serve.ack_ms_p90": percentile(ack_ms, 0.9),
            "serve.append_ms_p50": percentile(serve_ms, 0.5),
            "serve.append_ms_p90": percentile(serve_ms, 0.9),
            "store.append_ms_mean": store_mean,
            "serve.overhead_ms_mean": sum(serve_ms) / len(serve_ms) - store_mean,
            "host.fsync_ms_p50": fsync_ms_p50(work),
            "store.objects_per_append": out["data_files"] / max(1, len(order)),
            "store.space_amp": out["disk_bytes"] / metered_total,
            "read.tail_e2e_ms_p50": median(e2e),
            "read.tail_e2e_ms_p99": percentile(e2e, 0.99),
            "read.tail_events": len(win_events),
            "read.tail_records_per_event": delivered_win / max(1, len(win_events)),
            "read.tail_backlog_end": backlog_end,
            "read.tail_backlog_growth": slope,
            "spark.tail_jobs_per_event": len(tail_jobs) / max(1, len(win_events)),
            "spark.tail_job_ms_p50": median([(j["end"] - j["start"]) / 1e3 for j in tail_jobs]),
            "spark.tail_read_amp": tail_stats["input_bytes"] / max(1, delivered_win * (8 + p["body"])),
            "read.catchup_mibps": metered_total / 2**20 / catchup_s,
            "spark.catchup_jobs": catch_stats["jobs"] / len(reads),
            "spark.catchup_read_amp": catch_stats["input_bytes"] / (metered_total * len(reads)),
            "gen.late_ms_p90": percentile(late_ms, 0.9),
            "setup.session_s": span_s(spans_named(tr, "setup.session")[0]),
            "setup.warmup_s": win_lo - t_ready,
        }
    samples = {"e2e_ms": e2e, "ack_ms": ack_ms, "late_ms": late_ms,
               "backlog": [(t + clock_off, b) for t, b in backlog],
               "tail_events": [(t + clock_off, n) for t, n in tail.events]}
    return e2e_metrics, layer, attempted, failed, {"trace": out["trace"], "samples": samples, "rss_peak_mb": out["rss_peak_mb"]}


# ---------------------------------------------------------- bulk_ingest

def bulk_ingest(cp, work, seed, seconds, trace):
    inp = os.path.join(work, "input")
    expected = gen.bulk_inputs(seed, inp, **{k: v for k, v in BULK.items()
                                             if k not in ("fan_reps", "scan_reps")})
    jvm = Jvm(cp, "bulk_ingest", work, trace,
              dict(BULK, input=inp, run_id=f"bulk_ingest-{seed}"))
    try:
        out = jvm.finish()
    finally:
        jvm.kill()
    tr = out["trace"]
    failed, attempted = out["failed"], out["attempted"] + len(expected) * len(out["scans"])
    for digests in out["scans"]:
        for s, want in expected.items():
            got = digests.get(s)
            if not got or dict(want, min_seq=0, max_seq=want["records"] - 1) != got:
                failed += 1
                log(f"connector scan of {s} does not match the generator: {got}")
    fan_meta = BULK["fan_reps"] * BULK["fan_streams"] * (8 + BULK["fan_body"])
    deep_meta = BULK["deep_per_round"] * BULK["rounds"] * (8 + BULK["deep_body"])
    deep = spans_named(tr, "ingest.deep")
    deep_s = sum(span_s(s) for s in deep)
    scans = spans_named(tr, "connector.scan")
    timed = spans_named(tr, "timed")[0]
    e2e_metrics = {
        "setup_s": timed["start"] / 1e6 - jvm.launched,
        "mem_retained_mb": out["retained_mb"],
        "op_p50_ms": median([span_s(s) * 1e3 for s in deep]),
        "work_s": median([span_s(s) for s in scans]),
    }
    layer = {}
    if trace:
        kids = span_tree(tr)
        fan_ing = spans_named(tr, "ingest.fanout")

        def spark_s(s):
            return stats.union_s(stats.clip(kids.get(s["id"], []), s["start"], s["end"]))

        def med(name, f=span_s):
            return median([f(s) for s in spans_named(tr, name)])
        deep_jobs = [j for j in tr["jobs"] if j["parent"] in {s["id"] for s in deep}]
        deep_stats = spark_sums(tr, deep_jobs)
        tails = sorted(out["checktail_ms"])
        snap = tr["snapshots"][0]
        layer = {
            "fanout_s": med("fanout"),
            "catalog.create_streams_s": med("catalog.create_streams"),
            "catalog.list_all_s": med("catalog.list_all"),
            "store.checktail_ms_p50": percentile(tails, 0.5),
            "store.checktail_ms_p99": percentile(tails, 0.99),
            "ingest.fanout_s": med("ingest.fanout"),
            "ingest.fanout_spark_s": med("ingest.fanout", spark_s),
            "ingest.fanout_driver_s": med("ingest.fanout", lambda s: span_s(s) - spark_s(s)),
            "ingest.fanout_jobs": median([len([j for j in tr["jobs"] if j["parent"] == s["id"]])
                                          for s in fan_ing]),
            "ingest.deep_s": deep_s,
            "ingest.deep_spark_s": sum(spark_s(s) for s in deep),
            "ingest.deep_driver_s": deep_s - sum(spark_s(s) for s in deep),
            "ingest.deep_shuffle_write_mb": deep_stats["shuffle_write_mb"],
            "ingest.deep_mibps": deep_meta / 2**20 / deep_s,
            "store.stage_gc_s": span_s(spans_named(tr, "store.stage_gc")[0]),
            "store.data_files": snap["data_files"],
            "store.meta_files": snap["meta_files"],
            "store.disk_mb": snap["bytes"] / 2**20,
            "store.space_amp": out["disk_bytes"] / (fan_meta + deep_meta),
            "connector.scan_s": med("connector.scan"),
            "connector.scan_mibps": deep_meta / 2**20 / med("connector.scan"),
            "connector.read_s": span_s(spans_named(tr, "connector.read")[0]),
            "connector.scan_tasks": median([spark_sums(tr, [j for j in tr["jobs"]
                                                            if j["parent"] == s["id"]])["tasks"]
                                            for s in scans]),
            "connector.read_amp": out["deep_data_bytes"] / deep_meta,
            "setup.session_s": span_s(spans_named(tr, "setup.session")[0]),
            "setup.warmup_s": span_s(spans_named(tr, "setup.warmup")[0]),
        }
    return e2e_metrics, layer, attempted, failed, {"trace": tr, "rss_peak_mb": out["rss_peak_mb"]}


# ------------------------------------------------------------ analytics

def normalize(df):
    """scripts/check.py's normalisation: columns by name, ints as int64,
    floats rounded to 6 places, rows sorted by every column."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df):
    return hashlib.md5(df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def oracle_failures(corpus, out_dir, oracles, rows):
    """Queries whose dumped result differs from the DuckDB oracle."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    bad = []
    for name, sql in sorted(oracles.items()):
        if name not in rows:
            continue
        try:
            got = normalize(pd.read_parquet(os.path.join(out_dir, name)))
            want = normalize(con.execute(sql).fetchdf())
            ok = (list(got.columns) == list(want.columns) and len(got) == len(want)
                  and digest(got) == digest(want))
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"oracle {name}: {e}")
            ok = False
        if not ok:
            bad.append(name)
    con.close()
    return bad


def analytics(cp, work, seed, seconds, trace):
    corpus = os.path.join(work, "corpus")
    gen.analytics_corpus(seed, corpus, **CORPUS)
    jvm = Jvm(cp, "analytics", work, trace,
              {"input": corpus, "run_id": f"analytics-{seed}",
               "queries": ",".join(q for qs in FAMILIES.values() for q in qs)})
    try:
        out = jvm.finish()
    finally:
        jvm.kill()
    tr = out["trace"]
    failed, attempted = out["failed"], out["attempted"]
    bad = oracle_failures(corpus, os.path.join(work, "out"), out["oracles"], out["rows"])
    attempted += len(out["oracles"])
    failed += len(bad)
    for b in bad:
        log(f"query {b} does not match its DuckDB oracle")
    per_query = {s["name"][6:]: s for s in tr["spans"] if s["name"].startswith("query.")}
    walls = {q: span_s(s) for q, s in per_query.items()}
    first = min(s["start"] for s in per_query.values())
    e2e_metrics = {
        "setup_s": first / 1e6 - jvm.launched,
        "mem_retained_mb": out["retained_mb"],
        "op_p50_ms": median([w * 1e3 for w in walls.values()]),
        "work_s": sum(walls.values()),
    }
    layer = {}
    if trace:
        kids = span_tree(tr)
        for q, w in walls.items():
            layer[f"query.{q}_s"] = w
        for fam, names in FAMILIES.items():
            spans = [per_query[q] for q in names if q in per_query]
            ids = {s["id"] for s in spans}
            jobs = [j for j in tr["jobs"] if j["parent"] in ids]
            st = spark_sums(tr, jobs)
            wall = sum(span_s(s) for s in spans)
            in_jobs = sum(stats.union_s(stats.clip(kids.get(s["id"], []), s["start"], s["end"]))
                          for s in spans)
            layer[f"query.{fam}_s"] = sum(walls.get(q, 0.0) for q in names)
            for k in ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb",
                      "spill_mb", "executor_run_s", "executor_gc_s"):
                layer[f"spark.{k}.{fam}"] = st[k]
            layer[f"spark.driver_s.{fam}"] = wall - in_jobs
        prog = [pr for pr in tr["progress"] if pr["at"] >= first]
        layer["streaming.batches"] = len(prog)
        for k, name in (("addBatch", "add_batch_ms"), ("getBatch", "get_batch_ms"),
                        ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                        ("commitOffsets", "commit_offsets_ms")):
            layer[f"streaming.{name}"] = sum(pr[k] for pr in prog)
        layer["setup.session_s"] = span_s(spans_named(tr, "setup.session")[0])
        layer["setup.warmup_s"] = span_s(spans_named(tr, "setup.warmup")[0])
    return e2e_metrics, layer, attempted, failed, {"trace": tr, "rss_peak_mb": out["rss_peak_mb"]}


WORKLOADS = {"live_tail": live_tail, "bulk_ingest": bulk_ingest, "analytics": analytics}

def overhead_pct(workload, e2e, trace):
    """Traced minus untraced `work_s`, as a percentage of the median of
    the untraced runs this checkout has made (0 before any)."""
    hist_path = os.path.join(HERE, "out", f"untraced-{workload}.json")
    hist = []
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            hist = json.load(f)
    v = e2e["work_s"]
    if not trace:
        os.makedirs(os.path.dirname(hist_path), exist_ok=True)
        with open(hist_path, "w") as f:
            json.dump((hist + [v])[-20:], f)
        return None
    if not hist:
        log("no untraced run of this workload yet; tracing overhead reads 0")
        return 0.0
    base = median(hist)
    return (v - base) / base * 100.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cp = build()
        work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            e2e, layer, attempted, failed, artifact = WORKLOADS[a.workload](
                cp, work, a.seed, a.seconds, bool(a.trace))
        finally:
            shutil.rmtree(work, ignore_errors=True)
            # leave no deletes or writeback pending for the next run
            os.sync()
    except BenchError as e:
        log(f"error: {e}")
        return 2
    over = overhead_pct(a.workload, e2e, bool(a.trace))
    if a.trace:
        layer["trace.overhead_pct"] = over
        layer["host.rss_peak_mb"] = artifact["rss_peak_mb"]
        wanted, values = spec["per_layer"], layer
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(dict(artifact, self_s=stats.self_times(
                artifact["trace"]["spans"], span_tree(artifact["trace"])),
                per_layer=layer, end_to_end=e2e), f)
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None and not a.trace:
            log(f"end-to-end metric {m['name']} was not measured")
            return 2
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    for k, v in sorted(e2e.items()):
        log(f"{k} = {v}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
