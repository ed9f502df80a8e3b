#!/usr/bin/env python3
"""End-to-end benchmark of the kbrowse HTTP service.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (first run only), starts the harness JVM
with the program's HTTP service, drives the named workload over loopback,
checks every response against DuckDB, and prints one JSON object as the
last line of stdout: the end-to-end metrics with `--trace 0`, the
per-layer metrics of a traced run with `--trace 1`. Per-metric lines with
sample counts go to stderr. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import socket
import sys
import tempfile
import threading
import time

import fixtures
import httpclient
import jvm
import oracle
import stats
import workloads
from httpclient import clock

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
SETUP_REPS = 3
# Untimed load after the warm-up, so the JIT has compiled the hot paths
# before the window opens (latencies fall for ~20 s of single-client load).
CONDITION_S = 10.0
# The follow tail's equivalent: batches renamed in quick succession.
CONDITION_BATCHES = 12
SETTLE_S = 8.0

EXEC_KEYS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.busy_s", "exec.task_cpu_s",
             "exec.input_bytes", "exec.records_read", "exec.shuffle_bytes",
             "exec.spill_bytes", "exec.gc_s", "exec.driver_gap_s"]
CATALYST_KEYS = ["catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s"]
RENDER_KEYS = ["render.s", "render.jobs", "render.driver_s", "render.records",
               "render.bytes", "render.us_per_record"]
PIPELINE_KEYS = ["pipeline.build_s", "pipeline.build_jobs", "pipeline.exec_s"]
OPS_KEYS = ["ops.materialize_live", "ops.deadline_threads_live", "ops.follow_queries_live",
            "ops.peak_rss_mb", "ops.heap_live_mb"]
STREAMING_KEYS = ["streaming.batches", "streaming.input_rows", "streaming.discovery_wait_s",
                  "streaming.offsets_s", "streaming.plan_s", "streaming.add_batch_s",
                  "streaming.wal_s", "streaming.trigger_s"]
COUNTS = {"server.chunks_per_response", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.records_read", "render.jobs", "render.records", "pipeline.build_jobs",
          "streaming.batches", "streaming.input_rows", "ops.materialize_live",
          "ops.deadline_threads_live", "ops.follow_queries_live"}


def _per_layer_units():
    names = (["server.header_s", "server.chunks_per_response", "server.transport_s",
              "log.build_s", "log.records_read_per_result"]
             + EXEC_KEYS + CATALYST_KEYS + RENDER_KEYS + PIPELINE_KEYS
             + [f"pipeline.{q}.{k}" for q in workloads.PIPELINE_QUERIES
                for k in ("build_s", "exec_s", "driver_gap_s", "jobs")]
             + OPS_KEYS + STREAMING_KEYS
             + ["bench.gen_late_max_s", "bench.client_parse_s", "bench.trace_overhead_frac"])
    special = {"log.records_read_per_result": "ratio", "exec.input_bytes": "bytes",
               "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
               "render.bytes": "bytes", "render.us_per_record": "us",
               "bench.trace_overhead_frac": "ratio", "ops.peak_rss_mb": "MB",
               "ops.heap_live_mb": "MB"}
    return {n: special.get(n, "count" if n in COUNTS or n.endswith(".jobs") else "s")
            for n in names}


# Every per-layer metric, in report order, with its unit.
PER_LAYER_UNITS = _per_layer_units()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Request:
    """One distinct request: its HTTP path, the oracle's expectation (a
    (count, digest) pair for a search, a row count for a pipeline query),
    and the harness command that makes it directly through the layers."""

    def __init__(self, path, expect, direct):
        self.path = path
        self.expect = expect
        self.direct = direct


class Sample:
    """One measured operation: an HTTP request, or one follow batch."""

    def __init__(self, req):
        self.req = req
        self.resp = None
        self.start = self.header = self.first = self.end = self.parsed = None
        self.nbytes = 0
        self.ok = False


class Run:
    def __init__(self, a, work):
        self.a = a
        self.w = a.workload
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.h = None
        self.stream_dirs = []
        self.follow = None
        self.attempted = 0
        self.failed = 0
        self.errors = []

    # ------------------------------------------------------------ set-up

    def execute(self):
        a = self.a
        base = fixtures.fixture_dir(a.scale)
        self.fingerprint = fixtures.fingerprint(base)
        if self.w == "follow_tail":
            # The traced run measures two halves of the window.
            n = CONDITION_BATCHES + 2 * workloads.follow_batch_count(a.seconds) + 2
            self.batches = fixtures.write_follow_batches(
                base, os.path.join(self.work, "batches"), n, workloads.FOLLOW_RECORDS)
        t = clock()
        self.h = jvm.Harness(self.work, self.cores)
        boot_s = clock() - t
        t = clock()
        self.oracle = oracle.Oracle(base, self.fingerprint, self.h.cmd(
            "oracle_sql", names=workloads.PIPELINE_QUERIES), CACHE)
        self.expectations()
        log(f"oracle ready in {clock() - t:.2f}s")
        t = clock()
        self.h.cmd("session")
        session_s = clock() - t
        reps = 1 if a.trace or a.scale == "smoke" else SETUP_REPS
        rep_s = []
        for i in range(reps):
            if i:
                self.h.cmd("teardown")
            rep_s.append(self.setup(i, base))
        warm_s = self.warm_up()
        self.setup_s = boot_s + session_s + stats.median(rep_s) + warm_s
        log(f"setup: jvm {boot_s:.2f}s session {session_s:.2f}s "
            f"service {', '.join(f'{s:.2f}' for s in rep_s)} warm-up {warm_s:.2f}s")
        if a.scale != "smoke":  # the tiny fixture is not worth conditioning
            if self.w == "follow_tail":
                self.follow.condition(CONDITION_BATCHES)
            else:
                self.closed_loop(self.reqs, CONDITION_S, self.cores, check=False)
        return self.traced() if a.trace else self.untraced()

    def expectations(self):
        if self.w == "follow_tail":
            key = str(fixtures.MARKER_USER)
            self.batch_expect = {b: self.oracle.follow_batch(key, ids)
                                 for b, _, ids in self.batches}
            return
        self.opts = workloads.search_requests(self.w, self.a.seed, self.oracle.typical_keys())
        self.search_expect = [self.oracle.search(o) for o in self.opts]
        if self.a.trace:
            self.pipeline_rows = self.pipeline_expectations()

    def pipeline_expectations(self):
        """Row counts of the pipeline queries' oracle SQL. They depend only
        on the fixture tables and the SQL text, and take DuckDB seconds, so
        they are cached under both."""
        sql = {q: self.oracle.pipeline_sql[q] for q in workloads.PIPELINE_QUERIES}
        key = hashlib.sha1(json.dumps([self.fingerprint, sql],
                                      sort_keys=True).encode()).hexdigest()[:16]
        path = os.path.join(CACHE, f"pipeline-oracle-{key}.json")
        if not os.path.exists(path):
            rows = {q: self.oracle.pipeline_rows(q) for q in workloads.PIPELINE_QUERIES}
            with open(path + ".tmp", "w") as f:
                json.dump(rows, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return json.load(f)

    def setup(self, i, base):
        """One timed set-up of the service in private directories: a fresh
        fixture path (so sidecar tables and the follow directory are new),
        for the searches a fresh archive of the record log (the follow tail
        never reads it), and a started service."""
        rep = os.path.join(self.work, f"rep{i}")
        self.fixture = os.path.join(rep, "sf")
        os.makedirs(self.fixture)
        for t in fixtures.TABLES:
            os.link(os.path.join(base, f"{t}.parquet"), os.path.join(self.fixture, f"{t}.parquet"))
        archive = {} if self.w == "follow_tail" else {"archive": os.path.join(rep, "archive")}
        t = clock()
        self.port = self.h.cmd("setup", fixture=self.fixture, **archive)["port"]
        return clock() - t

    def warm_up(self):
        """Send every distinct request once (for the follow tail: open the
        connection and wait for one batch); returns the time taken."""
        t = clock()
        if self.w == "follow_tail":
            # The program keeps the follow directory outside the fixture
            # (`StreamingLog.streamDir`); it is removed when the run ends.
            self.stream_dirs.append(self.h.cmd("stream_dir")["dir"])
            self.follow = Follow(self, self.stream_dirs[-1])
            self.follow.warm(self.batches[0])
            return clock() - t
        self.reqs = [Request(workloads.search_path(o, self.fixture), e,
                             {"cmd": "direct_search",
                              "args": {"bootstrap-servers": self.fixture, **o}})
                     for o, e in zip(self.opts, self.search_expect)]
        warm = [self.request(r) for r in self.reqs]
        took = clock() - t
        for s in warm:
            self.check(s)
        return took

    # ----------------------------------------------------- requests + checks

    def request(self, req):
        s = Sample(req)
        r = httpclient.get(self.port, req.path)
        s.resp, s.start, s.header, s.first, s.end = r, r.t_send, r.t_header, r.t_first, r.t_end
        s.nbytes = len(r.body)
        return s

    def check(self, s):
        """Verify one response against the oracle; frees its body."""
        self.attempted += 1
        r, want = s.resp, s.req.expect
        try:
            if r.error:
                raise ValueError(r.error)
            t = clock()
            arr = json.loads(r.body)
            s.parsed = s.end + (clock() - t)
            if not isinstance(arr, list) or not arr or arr[0] != {"type": "pioneer"}:
                raise ValueError("response does not open with the pioneer")
            rows = arr[1:]
            if isinstance(want, int):
                if len(rows) != want:
                    raise ValueError(f"{len(rows)} rows, oracle has {want}")
            else:
                got = stats.digest([x["type"] for x in rows], [x["topic"] for x in rows],
                                   [x["partition"] for x in rows], [x["offset"] for x in rows])
                if (len(rows), got) != want:
                    raise ValueError(f"{len(rows)} records (oracle {want[0]}), "
                                     f"digest {'matches' if got == want[1] else 'differs'}")
            s.ok = True
        except (ValueError, KeyError, TypeError) as e:
            self.failed += 1
            self.errors.append(f"{s.req.path[:120]}: {e}")
        s.resp = None
        return s

    # ------------------------------------------------------ closed loops

    def closed_loop(self, reqs, seconds, clients, check=True):
        """Run `clients` closed-loop clients over the pass list `reqs` for
        about `seconds`. A measured loop stops at the pass boundary nearest
        the deadline, so every request is sampled equally, and returns its
        checked samples and the window start; conditioning load
        (`check=False`) stops at the deadline and returns no samples."""
        order = workloads.passes(self.a.seed, self.w, len(reqs))
        queue = []
        lock = threading.Lock()
        done = []
        passes = [0]
        t0 = clock()
        pass_start = [t0]
        deadline = t0 + seconds
        self.gen_late_max = 0.0

        def client():
            free = clock()
            while True:
                with lock:
                    now = clock()
                    if not check and now >= deadline:
                        return
                    if not queue:
                        if passes[0] and now + (now - pass_start[0]) / 2 >= deadline:
                            return
                        passes[0] += 1
                        pass_start[0] = now
                        queue.extend(next(order))
                    k = queue.pop(0)
                s = self.request(reqs[k])
                with lock:
                    done.append(s)
                    # A closed loop's lateness: how long the client took to
                    # send its next request after the last one completed.
                    self.gen_late_max = max(self.gen_late_max, s.start - free)
                free = s.end

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if not check:
            return [], t0
        return [self.check(s) for s in done], t0

    def untraced(self):
        if self.w == "follow_tail":
            samples, t0 = self.follow.measure(self.a.seconds)
        else:
            samples, t0 = self.closed_loop(self.reqs, self.a.seconds,
                                           workloads.CLIENTS[self.w])
        log("hygiene " + json.dumps(self.finish()))
        return self.e2e(samples, t0)

    def finish(self):
        """Close the workload's connections and read the leak counters once
        the program has had time to release everything, with the JVM's peak
        resident set and the heap it still holds."""
        if self.follow:
            self.follow.close(final_batch=self.batches[-1])
        end = clock() + SETTLE_S
        while True:
            hyg = self.h.cmd("hygiene")
            if all(v == 0 for v in hyg.values()) or clock() > end:
                return {**hyg, "ops.peak_rss_mb": self.h.rss_peak_mb(),
                        "ops.heap_live_mb": self.h.cmd("heap")["used_mb"]}
            time.sleep(0.1)

    def e2e(self, samples, t0):
        inf = math.inf
        t_last = max((s.end for s in samples if s.end), default=t0 + 1e-9)
        window = max(t_last - t0, 1e-9)
        out = {"setup_s": (self.setup_s, "s", 1)}

        def pct(name, at):
            xs = [at(s) - s.start if s.ok else inf for s in samples]
            out[f"{name}_p50_s"] = (stats.finite(stats.median(xs)), "s", len(xs))
            # The sample at rank n-10 is logged, not gated: a window holds
            # about a dozen samples, where that rank is a low percentile, so
            # the maximum is logged beside it.
            v, n, q = stats.tail(xs)
            log(f"{self.w:14s} {name + '_tail_s':40s} {stats.finite(v):14.6f} s      "
                f"n={n} (p{q:.0f}; max {stats.finite(max(xs, default=0.0)):.6f}; not gated)")

        pct("first_record", lambda s: s.first)
        pct("latency", lambda s: s.end)
        out["throughput_rps"] = (len(samples) / window, "req/s", len(samples))
        out["out_mb_s"] = (sum(s.nbytes for s in samples) / 1e6 / window, "MB/s", len(samples))
        pct("arrival_to_client", lambda s: s.parsed)
        out["ok_frac"] = (1 - self.failed / max(self.attempted, 1), "ratio", self.attempted)
        return out

    # ------------------------------------------------------- traced run

    def traced(self):
        """The traced run: half the window untraced, then half with the
        tracer's listeners installed, each request followed by the same
        request made directly through the layers. One client throughout,
        so the two halves compare. A search run then traces one pass of
        the pipeline queries, the only place the pipeline layer is timed."""
        half = self.a.seconds / 2
        if self.w == "follow_tail":
            return self.traced_follow(half)
        untraced, _ = self.closed_loop(self.reqs, half, 1)
        self.h.cmd("trace_on")
        recs = self.trace_pass(self.reqs, half, "r")
        preqs = [Request(workloads.pipeline_path(q), self.pipeline_rows[q],
                         {"cmd": "direct_pipeline", "name": q})
                 for q in workloads.PIPELINE_QUERIES]
        for s in [self.request(r) for r in preqs]:  # lands the sidecars
            self.check(s)
        pipe = self.trace_pass(preqs, 0, "p")
        out = os.path.join(HERE, ".out", f"spans-{self.w}-seed{self.a.seed}.json")
        log(f"{self.h.cmd('dump_spans', path=out)['spans']} spans written to {out}")
        self.h.cmd("trace_off")
        return self.layers(untraced, recs, pipe, self.finish())

    def trace_pass(self, reqs, seconds, prefix):
        """Traced requests for `seconds`, and at least one of each; returns
        (sample, chunks, HTTP-side stats, direct-call stats, leak counters)."""
        order = (k for p in workloads.passes(self.a.seed, self.w + ":" + prefix, len(reqs))
                 for k in p)
        end = clock() + seconds
        out = []
        while clock() < end or len(out) < len(reqs):
            req, rid = reqs[next(order)], f"{prefix}{len(out)}"
            self.h.cmd("open", rid=rid)
            w0 = time.time()
            s = self.request(req)
            w1 = time.time()
            http = self.h.cmd("close", rid=rid, start_us=int(w0 * 1e6), end_us=int(w1 * 1e6))
            hyg = self.h.cmd("hygiene")
            direct = self.h.cmd(rid=rid + "/direct", **req.direct)
            chunks = s.resp.chunks
            out.append((self.check(s), chunks, http, direct, hyg))
        return out

    def layers(self, untraced, recs, pipe, hyg):
        """Per-layer metrics: medians over the traced requests."""
        med = stats.median
        ok = [r for r in recs if r[0].ok]

        def m(src, key, rows=ok, avg=med):
            return avg([r[src].get(key, 0.0) for r in rows])

        out = {
            "server.header_s": med([s.header - s.start for s, *_ in ok]),
            "server.chunks_per_response": med([c for _, c, *_ in ok]),
            "server.transport_s": med([(s.end - s.start) - d["direct_s"] for s, _, _, d, _ in ok]),
            "log.build_s": m(3, "log.build_s"),
            "log.records_read_per_result": med([h["exec.records_read"] / max(1, d["render.records"])
                                                for _, _, h, d, _ in ok]),
        }
        # Means, not medians: Spark reports these in whole milliseconds.
        out.update({k: m(2, k, avg=stats.mean) for k in EXEC_KEYS + CATALYST_KEYS})
        out.update({k: m(3, k) for k in RENDER_KEYS})
        pipe_ok = [r for r in pipe if r[0].ok]
        out.update({k: m(3, k, pipe_ok) for k in PIPELINE_KEYS})
        for q in workloads.PIPELINE_QUERIES:
            mine = [d for s, _, _, d, _ in pipe_ok if s.req.direct["name"] == q]
            for k in ("build_s", "exec_s", "driver_gap_s", "jobs"):
                out[f"pipeline.{q}.{k}"] = med([d[f"pipeline.{k}"] for d in mine])
        out.update({k: max([r[4].get(k, 0) for r in recs + pipe] + [hyg[k]]) for k in OPS_KEYS})
        out.update({k: 0.0 for k in STREAMING_KEYS})
        base = med([s.end - s.start for s in untraced if s.ok])
        lat = med([s.end - s.start for s, *_ in ok])
        out["bench.gen_late_max_s"] = self.gen_late_max
        out["bench.client_parse_s"] = med([s.parsed - s.end for s in untraced if s.ok])
        out["bench.trace_overhead_frac"] = lat / base - 1 if base and lat else 0.0
        return {k: (float(out[k]), u, len(ok)) for k, u in PER_LAYER_UNITS.items()}

    def traced_follow(self, half):
        f = self.follow
        untraced, _ = f.measure(half)
        self.h.cmd("trace_on")
        self.h.cmd("open", rid="follow")
        w0 = time.time()
        traced, _ = f.measure(half, offset=len(untraced))
        w1 = time.time()
        http = self.h.cmd("close", rid="follow", start_us=int(w0 * 1e6), end_us=int(w1 * 1e6))
        progress = self.h.cmd("progress")["batches"]
        out_path = os.path.join(HERE, ".out", f"spans-{self.w}-seed{self.a.seed}.json")
        log(f"{self.h.cmd('dump_spans', path=out_path)['spans']} spans written to {out_path}")
        self.h.cmd("trace_off")
        hyg = self.finish()
        med = stats.median
        ok = [s for s in traced if s.ok]
        renamed_ms = sorted(f.renamed_epoch[s.req] * 1000 for s in ok)
        data = [p for p in progress if p["input_rows"] > 0 and p["start_ms"] >= w0 * 1000]
        waits = []
        for p in data:
            before = [t for t in renamed_ms if t <= p["start_ms"]]
            if before:
                waits.append((p["start_ms"] - before[-1]) / 1000)
        nb = max(1, len(data))

        def dur(*keys):
            return med([sum(p["durations_ms"].get(k, 0) for k in keys) / 1000 for p in data])

        out = {k: 0.0 for k in PER_LAYER_UNITS}
        out.update({k: http[k] / nb for k in EXEC_KEYS + CATALYST_KEYS})
        out.update({
            "server.header_s": f.header_t - f.t_req,
            "server.chunks_per_response": med([len(f.recv[s.req]) for s in ok]),
            "streaming.batches": len(data),
            "streaming.input_rows": sum(p["input_rows"] for p in data),
            "streaming.discovery_wait_s": med(waits),
            "streaming.offsets_s": dur("latestOffset", "getOffset"),
            "streaming.plan_s": dur("queryPlanning"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_s": dur("walCommit", "commitOffsets"),
            "streaming.trigger_s": dur("triggerExecution"),
            "bench.gen_late_max_s": f.late_max,
            "bench.client_parse_s": med([s.parsed - s.end for s in untraced if s.ok]),
        })
        out["exec.driver_gap_s"] = out["streaming.trigger_s"] - out["exec.busy_s"]
        out.update({k: hyg[k] for k in OPS_KEYS})
        base = med([s.end - s.start for s in untraced if s.ok])
        lat = med([s.end - s.start for s in ok])
        out["bench.trace_overhead_frac"] = lat / base - 1 if base and lat else 0.0
        return {k: (float(out[k]), u, len(ok)) for k, u in PER_LAYER_UNITS.items()}


class Follow:
    """The long-lived `--follow` connection and the batch renames. A
    sample's `req` is its batch id."""

    def __init__(self, run, stream_dir):
        self.run = run
        self.dir = stream_dir
        self.recv = {}  # batch -> [(t_received, t_parsed, record, chunk bytes)]
        self.lock = threading.Lock()
        self.arrived = threading.Condition(self.lock)
        self.header_t = None
        self.pioneer = False
        self.renamed_epoch = {}
        self.late_max = 0.0
        path = workloads.search_path({"topics": "events", "key-regex": str(fixtures.MARKER_USER),
                                      "follow": "true"}, run.fixture)
        self.sock = socket.create_connection(("127.0.0.1", run.port), timeout=None)
        self.t_req = clock()
        self.sock.sendall(f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".encode())
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        f = self.sock.makefile("rb")
        split = httpclient.ArraySplitter()
        try:
            while f.readline() not in (b"\r\n", b""):
                pass
            self.header_t = clock()
            while True:
                size = int(f.readline().split(b";", 1)[0], 16)
                if size == 0:
                    return
                data = f.read(size)
                f.read(2)
                t = clock()
                for el in split.feed(data.decode("utf-8")):
                    rec = json.loads(el)
                    tp = clock()
                    with self.lock:
                        if rec.get("type") == "pioneer":
                            self.pioneer = True
                        else:
                            self.recv.setdefault(rec["value"]["batch"], []).append(
                                (t, tp, rec, len(data)))
                        self.arrived.notify_all()
        except (OSError, ValueError):
            return

    def _stage(self, path):
        """Copy a batch file into the watched directory under a hidden name,
        which the file source skips; returns (hidden, final) paths for the
        atomic rename that publishes it."""
        name = os.path.basename(path)
        hidden = os.path.join(self.dir, "." + name)
        shutil.copyfile(path, hidden)
        return hidden, os.path.join(self.dir, name)

    def _wait(self, batch, n, timeout):
        end = clock() + timeout
        with self.lock:
            while len(self.recv.get(batch, ())) < n and clock() < end:
                self.arrived.wait(0.05)

    def warm(self, batch):
        b, path, ids = batch
        with self.lock:
            while not self.pioneer:
                self.arrived.wait(0.05)
        os.rename(*self._stage(path))
        self._wait(b, len(ids), 120)

    def condition(self, n):
        """Rename `n` batches 0.5 s apart and wait for them: the streaming
        path's JIT warm-up. Their records are checked but not timed."""
        batches = self.run.batches[1:1 + n]
        for _, path, _ in batches:
            os.rename(*self._stage(path))
            time.sleep(0.5)
        for b, _, ids in batches:
            self._wait(b, len(ids), SETTLE_S)
            self.check(Sample(b))

    def measure(self, seconds, offset=0):
        """Rename the next measurement batches on the seeded schedule;
        returns one checked sample per batch and the window start. `offset`
        skips batches an earlier call used. The schedule starts 50 ms after
        a 500 ms boundary of the epoch clock, the grid the program's
        trigger fires on, so the renames' phases against the trigger (and
        with them the discovery waits) repeat from run to run."""
        run = self.run
        n = workloads.follow_batch_count(seconds)
        todo = run.batches[1 + CONDITION_BATCHES + offset:-1][:n]
        staged = [self._stage(p) for _, p, _ in todo]
        t0 = clock()
        start = (math.floor(time.time() / 0.5) + 1) * 0.5 + 0.05
        samples = []
        for (b, _, ids), (hidden, final), at in zip(
                todo, staged, workloads.follow_schedule(run.a.seed, len(todo), offset)):
            due = start + at
            time.sleep(max(0.0, due - time.time()))
            os.rename(hidden, final)
            s = Sample(b)
            s.start = clock()
            self.renamed_epoch[b] = time.time()
            self.late_max = max(self.late_max, self.renamed_epoch[b] - due)
            samples.append(s)
        end = clock() + SETTLE_S
        for s in samples:
            self._wait(s.req, run.batch_expect[s.req][0], max(0.0, end - clock()))
        return [self.check(s) for s in samples], t0

    def check(self, s):
        run = self.run
        run.attempted += 1
        with self.lock:
            got = list(self.recv.get(s.req, ()))
        recs = [r for _, _, r, _ in got]
        d = stats.digest([r["type"] for r in recs], [r["topic"] for r in recs],
                         [r["partition"] for r in recs], [r["offset"] for r in recs])
        if got and (len(recs), d) == run.batch_expect[s.req]:
            s.ok = True
            s.first = min(t for t, _, _, _ in got)
            s.end = max(t for t, _, _, _ in got)
            s.parsed = max(tp for _, tp, _, _ in got)
            s.nbytes = sum(n for _, _, _, n in got)
        else:
            run.failed += 1
            run.errors.append(f"batch {s.req}: {len(recs)} records "
                              f"(oracle {run.batch_expect[s.req][0]})")
        return s

    def close(self, final_batch=None):
        """Drop the connection. The program notices only when it next
        writes, so a final batch is renamed in to make it write."""
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        if final_batch is not None:
            os.rename(*self._stage(final_batch[1]))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(fixtures.SCALES), default="full",
                    help="smoke: the tiny fixture, one set-up, no conditioning")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(jvm.ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {jvm.ROOT}/src/main/scala; nothing to benchmark")
        return 2
    jvm.ensure_built()
    os.makedirs(CACHE, exist_ok=True)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=os.path.join(HERE, ".work"))
    run = Run(a, work)
    t0 = clock()
    try:
        metrics = run.execute()
    finally:
        t1 = clock()
        if run.h:
            run.h.stop()
        shutil.rmtree(work, ignore_errors=True)
        for d in run.stream_dirs:
            shutil.rmtree(d, ignore_errors=True)
        log(f"run {t1 - t0:.1f}s, shutdown {clock() - t1:.1f}s")
    for e in run.errors[:20]:
        log("FAILED " + e)
    for name, (v, unit, n) in metrics.items():
        log(f"{a.workload:14s} {name:40s} {v:14.6f} {unit:6s} n={n}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
