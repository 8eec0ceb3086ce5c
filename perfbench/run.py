#!/usr/bin/env python3
"""Benchmark of the /records engine, run from the repository root:

    python3 perfbench/run.py --workload records_http --seed 1 --seconds 10 --trace 0

Workloads (why each exists is in BENCHMARK.json):
  records_http    GET /records traffic from this process against the program's
                  RecordsHttpServer over a generated KPL shard store: an
                  open-loop phase at a fixed rate for latency, then a
                  closed-loop phase of nproc clients for the sustained rate
  stream_catchup  Trigger.AvailableNow drains of a generated KPL backlog
                  through RecordsStream into the noop sink; its traced run also
                  replays the dedup gate (CorpusDedup) that the drain feeds

Per-layer metrics (--trace 1) and the end-to-end metric each should move:
  api.*            records_http p50_ms/tail_ms (about 0 elsewhere)
  sources.*        records_http latency, stream_catchup throughput_per_s
  kpl.*, decode.*  stream_catchup throughput_per_s, the broad-query tail of
                   records_http
  streaming.*      stream_catchup p50_ms and throughput_per_s
  ops.*            the dedup gate downstream of the drain (no end-to-end
                   workload of its own: a gate batch takes seconds)
  spark.*, jvm.*   every workload (per op: request, micro-batch or gate batch)

The engine (the program plus perfbench/engine) runs in its own JVM, built by
perfbench/build.py and driven over stdin. Every output is checked against the
generator's oracle. The last stdout line is one JSON object: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer metrics of a traced run.
The run exits non-zero when an output is wrong.
"""
import argparse
import http.client
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
from stats import median, tail  # noqa: E402

WORKLOADS = ("records_http", "stream_catchup")
SETUPS = 3             # set-ups per run; setup_s is their median. A set-up is
                       # the program's part only: server start and warm-up, or
                       # one warm drain. Fixtures and oracles are made before.
RUN_BUDGET_S = 170     # every engine reply must arrive within this of the start
LATENCY_LIMIT_MS = 5000.0  # the reference's only latency bound: its 5 s e2e timeout
MIN_OPS = 2 * (1 + 10)     # measured ops needed for a tail with 10 beyond it, twice over

# records_http: a 4-shard store of about 20k records over the full lookback
HTTP_SHARDS, HTTP_FRAMES = 4, 100
HTTP_RATE = 3.0        # requests per second offered in the open-loop phase
HTTP_CLOSED = 0.4      # share of the measured time spent in the closed-loop phase
HTTP_WARM = 20         # warm-up requests per set-up
HTTP_REPLAY = 20       # requests replayed through the layers in a traced run

# stream_catchup: 8 shards of 50-record aggregates
STREAM_SHARDS, STREAM_FRAMES = 8, 120

# the gate-layer replay of stream_catchup's traced run: index and batch docs
GATE_BASE, GATE_BATCH = 100, 30

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# Heap flags, chosen so that peak RSS follows the pages the program touches
# rather than the collector's sizing. With -Xmx alone, peak RSS varied by a
# fifth between runs of the same work. G1 grew the heap on the GC-pause bursts
# of warm-up, and the 4 MiB arrays each request allocates were humongous
# objects placed in old regions. The fixed young generation, a 512 MiB initial
# heap (the default, 1/64 of RAM, leaves no room beside it), a GC time goal of
# 50 % (the default is 8 %) and 16 MiB regions, which keep 4 MiB arrays young,
# remove both effects. -Xms512m is no floor for the figure: committed pages
# that are never touched are not resident, and records_http keeps under
# 100 MiB live beside its 256 MiB young generation.
HEAP = "2g"
JVM_HEAP = ["-Xms512m", "-Xmx" + HEAP, "-Xmn256m", "-XX:GCTimeRatio=1", "-XX:G1HeapRegionSize=16m"]


class Failure(Exception):
    """An output differed from the oracle, or the engine failed."""


class EngineProcess:
    """The engine JVM, one JSON command per stdin line, one `@@ {json}`
    reply per command on stdout."""

    def __init__(self, cp, work, cores, deadline):
        self.deadline = deadline
        self.log = open(os.path.join(work, "engine.log"), "w")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"] + JVM_HEAP + ["-Djava.io.tmpdir=" + tmp, "-Duser.timezone=UTC"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Engine", work, str(cores)]
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)
        self.replies = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self.replies.put(json.loads(line[3:]))
        self.replies.put(None)

    def call(self, cmd, **kw):
        kw["cmd"] = cmd
        self.proc.stdin.write(json.dumps(kw) + "\n")
        self.proc.stdin.flush()
        try:
            reply = self.replies.get(timeout=max(1.0, self.deadline - time.monotonic()))
        except queue.Empty:
            raise Failure("engine did not answer %r in time" % cmd)
        if reply is None:
            raise Failure("engine exited during %r" % cmd)
        if "error" in reply:
            raise Failure("engine %s: %s" % (cmd, reply["error"]))
        return reply

    def close(self):
        """Stops the JVM and waits until it has ended."""
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
                self.proc.stdin.flush()
                self.proc.stdin.close()
                self.proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


T0 = time.monotonic()


def note(msg):
    """Progress line on stderr, stamped with seconds since the run began."""
    print("perfbench %7.2fs %s" % (time.monotonic() - T0, msg), file=sys.stderr, flush=True)


def per_layer_defaults():
    """Every per-layer metric with its unit; a traced run reports 0 for the
    layers its workload never calls."""
    names = {
        "api.validate_us": "us", "api.plan_ms": "ms", "api.service_ms": "ms",
        "api.queue_ms": "ms", "api.response_kb": "KiB",
        "sources.read_ms": "ms", "sources.frames_read_per_op": "count",
        "sources.frames_per_result": "ratio",
        "kpl.deaggregate_ms": "ms", "kpl.records_per_frame": "ratio",
        "decode.parse_ms": "ms", "decode.selectivity": "ratio",
        "streaming.latest_offset_ms": "ms", "streaming.query_planning_ms": "ms",
        "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
        "streaming.commit_offsets_ms": "ms", "streaming.batches": "count",
        "streaming.first_batch_ms": "ms", "streaming.scaling_x": "x",
        "ops.score_ms": "ms", "ops.append_ms": "ms", "ops.novel_frac": "ratio",
        "ops.planted_dup_recall": "ratio", "ops.index_files": "count",
        "ops.index_mb_written_per_batch": "MiB",
        "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
        "spark.shuffle_kb_per_op": "KiB", "jvm.gc_ms_per_op": "ms",
        "trace.overhead_ms": "ms", "env.cpu_ref_ms": "ms",
    }
    return {k: [0.0, u] for k, u in names.items()}


def interleaved(eng, window, seconds):
    """Splits a traced run's window into quarters, untraced and traced in
    turn (A B A B), so warm-up drift does not pass for tracing overhead.
    Returns the untraced and traced window results and the Spark counters
    summed over the traced quarters."""
    untraced, traced, counted = [], [], None
    for q in range(4):
        if q % 2 == 0:
            untraced.append(window(seconds / 4))
            continue
        c0 = eng.call("trace_on")
        traced.append(window(seconds / 4))
        c1 = eng.call("trace_off")
        d = {k: c1[k] - c0[k] for k in ("jobs", "tasks", "shuffle_bytes", "gc_ms")}
        counted = d if counted is None else {k: counted[k] + d[k] for k in d}
    return untraced, traced, counted


def spark_per_op(counted, ops):
    ops = max(1, ops)
    return {
        "spark.jobs_per_op": counted["jobs"] / ops,
        "spark.tasks_per_op": counted["tasks"] / ops,
        "spark.shuffle_kb_per_op": counted["shuffle_bytes"] / 1024.0 / ops,
        "jvm.gc_ms_per_op": counted["gc_ms"] / ops,
    }


def streaming_layers(batches):
    med = lambda k: median([b[k] for b in batches])
    return {
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
    }


# ---- records_http -------------------------------------------------------------

def fetch(conn, port, path):
    """GETs path; returns the connection to use next, the status (None on
    a failure) and the body or the error."""
    status, body = None, ""
    for _ in range(2):
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            return conn, resp.status, resp.read().decode("utf-8")
        except (http.client.HTTPException, OSError) as e:
            # a keep-alive connection the server closed: reconnect once
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
            body = repr(e)
    return conn, status, body


def open_loop(port, urls, rate, conns):
    """Sends urls[i] at t0 + i/rate on at most `conns` keep-alive
    connections, whatever the server's pace. Returns t0, one
    (due, done, status, body) per request, and how late each send was."""
    results = [None] * len(urls)
    work = queue.Queue()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        while True:
            item = work.get()
            if item is None:
                conn.close()
                return
            i, due = item
            conn, status, body = fetch(conn, port, urls[i])
            results[i] = (due, time.perf_counter(), status, body)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(conns)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.02
    late = []
    for i in range(len(urls)):
        due = t0 + i / rate
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        late.append(time.perf_counter() - due)
        work.put((i, due))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return t0, results, late


def closed_loop(port, urls, conns, seconds):
    """`conns` clients, each sending the next of urls as soon as its last
    request is answered, until `seconds` have passed. Returns t0 and one
    (index, sent, done, status, body) per request sent."""
    results = []
    lock = threading.Lock()
    nxt = [0]
    t0 = time.perf_counter()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        while True:
            with lock:
                i = nxt[0]
                if i >= len(urls) or time.perf_counter() - t0 >= seconds:
                    break
                nxt[0] += 1
            sent = time.perf_counter()
            conn, status, body = fetch(conn, port, urls[i])
            with lock:
                results.append((i, sent, time.perf_counter(), status, body))
        conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return t0, results


def judge(store, params, status, body, ms):
    """(wrong-output reason or None, answered correctly within the limit)."""
    why = gen.check_response(store, params, status, body)
    if why is not None:
        return "%s -> %s" % (gen.url(params), why), False
    return None, ms <= LATENCY_LIMIT_MS


def http_window(port, store, reqs, conns):
    """One open-loop window; returns latencies (ms), ok count, failures,
    bodies' sizes, elapsed seconds and the generator's lateness."""
    t0, results, late = open_loop(port, [gen.url(p) for p in reqs], HTTP_RATE, conns)
    lat, ok, bad, sizes = [], 0, [], []
    for p, (due, done, status, body) in zip(reqs, results):
        ms = (done - due) * 1000.0
        lat.append(ms)
        sizes.append(len(body.encode()))
        why, good = judge(store, p, status, body, ms)
        bad += [why] if why else []
        ok += good
    elapsed = max(r[1] for r in results) - t0
    return {"lat": lat, "ok": ok, "bad": bad, "sizes": sizes, "elapsed": elapsed,
            "late_ms": max(late) * 1000.0, "n": len(reqs)}


def http_capacity(port, store, reqs, conns, seconds):
    """One closed-loop window: correct answers within the latency limit per
    second while `conns` clients keep the server busy."""
    t0, results = closed_loop(port, [gen.url(p) for p in reqs], conns, seconds)
    if len(results) == len(reqs):
        raise Failure("closed-loop phase ran out of its %d requests" % len(reqs))
    ok, bad = 0, []
    for i, sent, done, status, body in results:
        why, good = judge(store, reqs[i], status, body, (done - sent) * 1000.0)
        bad += [why] if why else []
        ok += good
    elapsed = max(r[2] for r in results) - t0
    return {"ok": ok, "bad": bad, "n": len(results), "rate": ok / elapsed}


def run_records_http(eng, args, work, cores, out):
    store = gen.Store(args.seed, HTTP_SHARDS, HTTP_FRAMES)
    d = os.path.join(work, "store")
    store.write(d)
    warm = [gen.requests(args.seed + 1000 + i, store, HTTP_WARM) for i in range(SETUPS)]
    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        port = eng.call("http.start", dir=d, now_ms=gen.NOW_MS)["port"]
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        answers = []
        for p in warm[i]:
            conn, status, body = fetch(conn, port, gen.url(p))
            answers.append((p, status, body))
        conn.close()
        setups.append(time.perf_counter() - t0)
        for p, status, body in answers:
            why = gen.check_response(store, p, status, body)
            if why is not None:
                raise Failure("warm-up %s -> %s" % (gen.url(p), why))
    out["setup_s"] = median(setups)
    note("set-ups: " + " ".join("%.2fs" % x for x in setups))
    if not args.trace:
        open_s = args.seconds * (1.0 - HTTP_CLOSED)
        reqs = gen.requests(args.seed, store, int(HTTP_RATE * open_s))
        w = http_window(port, store, reqs, cores)
        c = http_capacity(port, store, gen.requests(args.seed + 2000, store, 400), cores,
                          args.seconds - open_s)
        out["attempted"] = w["n"] + c["n"]
        out["failed"] = out["attempted"] - w["ok"] - c["ok"]
        out["bad"] = w["bad"] + c["bad"]
        tl, pct = tail(w["lat"])
        out["metrics"] = {"p50_ms": [median(w["lat"]), "ms"], "tail_ms": [tl, "ms"],
                          "throughput_per_s": [c["rate"], "1/s"]}
        out["info"].update(tail_pct=pct, samples=len(w["lat"]), generator_late_ms=w["late_ms"],
                           offered_rate=HTTP_RATE, closed_loop_requests=c["n"],
                           latency_limit_ms=LATENCY_LIMIT_MS)
        return
    reqs = gen.requests(args.seed, store, int(HTTP_RATE * args.seconds))
    pending = iter(reqs)
    ua, tr, counted = interleaved(eng, lambda s: http_window(
        port, store, [next(pending) for _ in range(int(HTTP_RATE * s))], cores), args.seconds)
    windows = ua + tr
    lat_u = [x for w in ua for x in w["lat"]]
    lat_t = [x for w in tr for x in w["lat"]]
    sizes = [x for w in tr for x in w["sizes"]]
    eng.call("trace_on")
    replay = eng.call("http.replay", dir=d, now_ms=gen.NOW_MS,
                      requests=reqs[:HTTP_REPLAY], spans_path=args.spans + "-http.jsonl")
    out["attempted"] = sum(w["n"] for w in windows)
    out["failed"] = out["attempted"] - sum(w["ok"] for w in windows)
    out["bad"] = [b for w in windows for b in w["bad"]]
    service_p50 = median(replay["service_ms"])
    frames = sum(replay["frames_read"])
    out["metrics"].update({
        "api.validate_us": median(replay["validate_us"]),
        "api.plan_ms": median(replay["plan_ms"]),
        "api.service_ms": service_p50,
        "api.queue_ms": median(lat_t) - service_p50,
        "api.response_kb": sum(sizes) / len(sizes) / 1024.0,
        "sources.read_ms": median(replay["read_ms"]),
        "sources.frames_read_per_op": frames / len(replay["frames_read"]),
        "sources.frames_per_result": frames / max(1.0, sum(replay["results"])),
        "kpl.deaggregate_ms": median(replay["deaggregate_ms"]),
        "kpl.records_per_frame": sum(replay["user_records"]) / max(1.0, sum(replay["frames_replayed"])),
        "decode.parse_ms": median(replay["parse_ms"]),
        "decode.selectivity": sum(replay["results"]) / max(1.0, sum(replay["decoded"])),
        "trace.overhead_ms": median(lat_t) - median(lat_u),
    })
    out["metrics"].update(spark_per_op(counted, len(lat_t)))


# ---- stream_catchup -------------------------------------------------------------

def drain(eng, d, params, want):
    r = eng.call("stream.drain", dir=d, now_ms=gen.NOW_MS, params=params)
    if (r["count"], r["crc"]) != tuple(want[1:]):
        raise Failure("drain saw %d records (crc %d), expected %d (crc %d)" % (
            r["count"], r["crc"], want[1], want[2]))
    return r


def drain_window(eng, d, params, want, seconds, deadline, min_batches=MIN_OPS):
    """Drains the backlog again and again, each from a fresh checkpoint,
    for `seconds` (and until there are `min_batches` micro-batches)."""
    drains = []
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < seconds or sum(len(r["batches"]) for r in drains) < min_batches) \
            and time.monotonic() < deadline - 30:
        drains.append(drain(eng, d, params, want))
    return drains


def batch_ms(drains):
    return [b["triggerExecution"] for r in drains for b in r["batches"]]


def run_stream_catchup(eng, args, work, cores, out):
    store = gen.Store(args.seed, STREAM_SHARDS, STREAM_FRAMES)
    d = os.path.join(work, "backlog")
    store.write(d)
    params = gen.drain_params(store)
    want = gen.drain_expected(store, params)
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        drain(eng, d, params, want)
        setups.append(time.perf_counter() - t0)
    out["setup_s"] = median(setups)
    note("set-ups: " + " ".join("%.2fs" % x for x in setups))
    if not args.trace:
        drains = drain_window(eng, d, params, want, args.seconds, args.deadline)
        times = batch_ms(drains)
        tl, pct = tail(times)
        rate = want[0] * len(drains) / (sum(r["wall_ms"] for r in drains) / 1000.0)
        out["attempted"], out["failed"] = len(drains), 0
        out["metrics"] = {"p50_ms": [median(times), "ms"], "tail_ms": [tl, "ms"],
                          "throughput_per_s": [rate, "1/s"]}
        out["info"].update(tail_pct=pct, samples=len(times), drains=len(drains),
                           user_records_per_drain=want[0])
        return
    ua, tr, counted = interleaved(eng, lambda s: drain_window(
        eng, d, params, want, s, args.deadline, min_batches=1), args.seconds)
    da = [r for w in ua for r in w]
    db = [r for w in tr for r in w]
    replay = eng.call("stream.replay", dir=d, now_ms=gen.NOW_MS, params=params,
                      spans_path=args.spans + "-stream.jsonl")
    rows_out = sum(b["rows_out"] for b in db[-1]["batches"])
    batches_b = [b for r in db for b in r["batches"]]
    m = out["metrics"]
    m.update({
        "api.validate_us": median([r["validate_us"] for r in db]),
        "api.plan_ms": median([r["plan_ms"] for r in db]),
        "sources.read_ms": median(replay["read_ms"]),
        "sources.frames_read_per_op": sum(replay["frames_read"]) / len(replay["frames_read"]),
        "sources.frames_per_result": sum(replay["frames_read"]) / max(1, rows_out),
        "kpl.deaggregate_ms": median(replay["deaggregate_ms"]),
        "kpl.records_per_frame": sum(replay["user_records"]) / max(1.0, sum(replay["frames_live"])),
        "decode.parse_ms": median(replay["parse_ms"]),
        "decode.selectivity": rows_out / max(1.0, sum(replay["user_records"])),
        "streaming.batches": median([len(r["batches"]) for r in db]),
        "streaming.first_batch_ms": median([r["batches"][0]["triggerExecution"] for r in db]),
        "trace.overhead_ms": median(batch_ms(db)) - median(batch_ms(da)),
    })
    m.update(streaming_layers(batches_b))
    m.update(spark_per_op(counted, len(batches_b)))
    # The catch-up drain feeds the dedup gate downstream. A gate batch takes
    # seconds, too slow for a tail in a short run, so the gate is no workload
    # of its own; its layers are taken here, from replays of its two halves.
    corpus = gen.Corpus(args.seed, GATE_BASE, GATE_BATCH, 1)
    g = os.path.join(work, "gate")
    gen.write_docs(os.path.join(g, "base.tsv"), corpus.base)
    idx = os.path.join(g, "index")
    eng.call("gate.build", base=os.path.join(g, "base.tsv"), index_dir=idx, buckets=cores)
    m.update(gate_layers(eng, args, corpus, g, idx))
    eng.call("stream.rescale", cores=1)
    single = drain(eng, d, params, want)
    m["streaming.scaling_x"] = single["wall_ms"] / median([r["wall_ms"] for r in db])
    out["attempted"], out["failed"] = len(da) + len(db) + 1, 0


# ---- dedup gate layers ----------------------------------------------------------

def gate_layers(eng, args, corpus, d, idx):
    """ops.* metrics from replaying `scoreBatchAgainstIndex` and then
    `appendToIndex` of its novel docs on the corpus batches, checked against
    the same invariants as the gate."""
    paths = []
    for k, batch in enumerate(corpus.batches):
        paths.append(os.path.join(d, "replay-%03d.tsv" % k))
        gen.write_docs(paths[-1], batch)
    before = eng.call("gate.stats", index_dir=idx)
    replay = eng.call("gate.replay", index_dir=idx, batches=paths, spans_path=args.spans + "-gate.jsonl")
    after = eng.call("gate.stats", index_dir=idx)
    sent = [doc[0] for batch in corpus.batches for doc in batch]
    why = gen.check_gate(sent, corpus.exact, replay["verdicts"], after["index_docs"] - before["index_docs"])
    if why is not None:
        raise Failure("gate replay: " + why)
    verdict = dict((v[0], v[1]) for v in replay["verdicts"])
    planted = [i for i in verdict if i in corpus.exact or i in corpus.near]
    return {
        "ops.score_ms": median(replay["score_ms"]),
        "ops.append_ms": median(replay["append_ms"]),
        "ops.novel_frac": sum(1 for v in verdict.values() if v) / len(verdict),
        "ops.planted_dup_recall": sum(1 for i in planted if not verdict[i]) / max(1, len(planted)),
        "ops.index_files": after["index_files"],
        "ops.index_mb_written_per_batch": (after["index_bytes"] - before["index_bytes"]) / 1048576.0 / len(paths),
    }


# ---- main -----------------------------------------------------------------------

RUNNERS = {"records_http": run_records_http, "stream_catchup": run_stream_catchup}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    cp = build.build()  # exits non-zero when the program's sources are absent
    args.deadline = time.monotonic() + RUN_BUDGET_S
    cores = os.cpu_count() or 1
    work = os.path.join(build.WORK, "run-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args.spans = os.path.join(build.WORK, "traces", "%s-seed%d" % (args.workload, args.seed))
    out = {"metrics": {}, "info": {}, "bad": [], "attempted": 0, "failed": 0}
    if args.trace:
        out["metrics"] = {k: v[0] for k, v in per_layer_defaults().items()}
    eng = EngineProcess(cp, work, cores, args.deadline)
    code = 0
    try:
        env = eng.call("env")
        note("engine up")
        RUNNERS[args.workload](eng, args, work, cores, out)
        note("measured")
        rss = eng.call("quit")["peak_rss_mb"]
    except (Failure, ValueError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        with open(os.path.join(work, "engine.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        code = 1
    finally:
        eng.close()
    if code == 0 and not out["bad"]:
        shutil.rmtree(work, ignore_errors=True)
    if code:
        return code
    for b in out["bad"][:10]:
        print("perfbench: wrong output: %s" % b, file=sys.stderr)
    info = dict(out["info"], workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=args.trace, nproc=cores, heap=" ".join(JVM_HEAP), heap_max_mb=env["heap_max_mb"],
                cpu_ref_ms=env["cpu_ref_ms"], spark=env["spark_version"],
                wall_s=time.monotonic() - started)
    if args.trace:
        units = per_layer_defaults()
        out["metrics"]["env.cpu_ref_ms"] = env["cpu_ref_ms"]
        metrics = {k: {"value": float(v), "unit": units[k][1]} for k, v in out["metrics"].items()}
        info["spans"] = os.path.relpath(args.spans, os.getcwd()) + "-*.jsonl"
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in out["metrics"].items()}
        metrics["setup_s"] = {"value": float(out["setup_s"]), "unit": "s"}
        metrics["peak_rss_mb"] = {"value": float(rss), "unit": "MiB"}
    os.makedirs(os.path.join(build.WORK, "runs"), exist_ok=True)
    with open(os.path.join(build.WORK, "runs", "%s-seed%d-trace%d.json" % (
            args.workload, args.seed, args.trace)), "w") as fh:
        json.dump({"info": info, "metrics": metrics}, fh, indent=1)
    print("# run " + json.dumps(info, sort_keys=True))
    correct = not out["bad"]
    print(json.dumps({"correct": correct, "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
