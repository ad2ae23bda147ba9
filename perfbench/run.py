"""flowspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relay --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the program (perfbench/build.py),
generates the workload's inputs from the seed, drives the program through
its public entry points in a JVM of its own, checks the outputs, and
prints as its last line one JSON object: correct, attempted, failed and
metrics. `--trace 0` reports the end-to-end metrics; `--trace 1` repeats
the untraced run, then a traced one, and reports the per-layer metrics.
See perfbench/README.md.
"""
import argparse
import base64
import bisect
import gzip
import json
import os
import selectors
import shutil
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_corpus  # noqa: E402
import gen_relay  # noqa: E402

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".bench_work")
CPUS = len(os.sched_getaffinity(0))
JVM_TIMEOUT_S = 150

# relay: the reference rate (msgs/s) of the untraced run, whose latency is
# reported; the rates above it that the traced run climbs for `RUNG_S`
# seconds each to find the highest sustained rate; the p99 limit a rung
# must meet to count as sustained
REFERENCE_RATE = 4000.0
LADDER = (8000.0, 16000.0, 24000.0, 32000.0, 48000.0)
RUNG_S = 3.0
LATENCY_LIMIT_MS = 2500.0
CHANNEL_CAPACITY = 4_000_000
GEN_LAG_LIMIT_MS = 250.0
BACKLOG_GROWTH_LIMIT = 0.25  # per second, as a share of the rung's rate
RELAY_SINKS = ("click", "view_out", "purchase_a", "purchase_b", "dlq")

# index_xo / curate corpus sizes
INDEX_DOCS, INDEX_BATCHES, INDEX_QUERIES, INDEX_VOCAB = 800, 3, 200, 4
CURATE_DOCS = 400
CURATE_PLANT = dict(exact=0.05, near=0.05, non_en=0.05, rep=0.03)

E2E = (("setup_s", "s"), ("peak_rss_mb", "MB"), ("latency_p50_ms", "ms"))


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


# ---- JVM ------------------------------------------------------------------

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm(classes, specs, work, seconds, traced, cpus):
    """Starts perfbench.Main on `specs`, [(workload, options)], run in order
    in one JVM; every file it writes stays under `work`."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # no hsperfdata file in /tmp: the run writes only inside the checkout
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + os.path.join(work, "tmp")]
    if traced:
        cmd.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingFs")
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main"]
    for i, (workload, extra) in enumerate(specs):
        wdir = os.path.join(work, workload)
        os.makedirs(wdir, exist_ok=True)
        cmd += (["--and"] if i else []) + [
            workload, "--work", wdir, "--seconds", str(seconds), "--traced", "1" if traced else "0"]
        for k, v in extra.items():
            cmd += ["--" + k, str(v)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(jvm_log(work), "w") as log:
        return subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=log, text=True, env=env, cwd=work)


def jvm_log(work):
    """The JVM's log outlives its work directory: .bench_work/logs/
    <workload>[-<pass>].log, overwritten by the next run."""
    os.makedirs(os.path.join(WORK_ROOT, "logs"), exist_ok=True)
    parts = os.path.relpath(work, WORK_ROOT).split(os.sep)
    parts[0] = parts[0].rsplit("-", 1)[0]  # drop the run's pid
    return os.path.join(WORK_ROOT, "logs", "-".join(parts) + ".log")


def jvm_result(proc, work):
    """Reads the JVM's stdout to its PERFBENCH line and waits for exit.
    Returns workload -> result; in a traced JVM each result also carries
    the span file and the spans' self times."""
    result = None
    for line in proc.stdout:
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
    proc.wait(timeout=30)
    if result is None or proc.returncode != 0:
        with open(jvm_log(work)) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("benchmark JVM failed (exit %s)" % proc.returncode)
    spans = {k: result.pop(k) for k in ("span_file", "self_s") if k in result}
    for res in result.values():
        res.update(spans)
    return result


def run_jvm(classes, specs, work, seconds, traced):
    proc = jvm(classes, specs, work, seconds, traced, CPUS)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        return jvm_result(proc, work)
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()


# ---- relay ----------------------------------------------------------------

class SinkListener:
    """The relay's sinks all point here: one loopback port per sink,
    recording every line's arrival time."""

    def __init__(self):
        self.sel = selectors.DefaultSelector()
        self.ports = {}
        self.arrivals = {s: [] for s in RELAY_SINKS}  # (t_ns, raw line, connection)
        self.connections = 0
        self.bytes = 0
        for s in RELAY_SINKS:
            srv = socket.socket()
            srv.bind(("127.0.0.1", 0))
            srv.listen(64)
            srv.setblocking(False)
            self.sel.register(srv, selectors.EVENT_READ, ("srv", s))
            self.ports[s] = srv.getsockname()[1]
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self.loop, daemon=True)
        self.thread.start()

    def loop(self):
        partial = {}
        while not self.stop.is_set():
            for key, _ in self.sel.select(0.05):
                kind, sink = key.data[:2]
                if kind == "srv":
                    conn, _ = key.fileobj.accept()
                    conn.setblocking(False)
                    self.connections += 1
                    self.sel.register(conn, selectors.EVENT_READ, ("conn", sink, self.connections))
                    partial[conn] = b""
                    continue
                conn = key.fileobj
                try:
                    data = conn.recv(1 << 18)
                except (BlockingIOError, ConnectionResetError):
                    continue
                t = time.monotonic_ns()
                if not data:
                    self.sel.unregister(conn)
                    conn.close()
                    partial.pop(conn, None)
                    continue
                self.bytes += len(data)
                lines = (partial[conn] + data).split(b"\r\n")
                partial[conn] = lines.pop()
                arr = self.arrivals[sink]
                cid = key.data[2]
                for ln in lines:
                    arr.append((t, ln, cid))

    def close(self):
        self.stop.set()
        self.thread.join()
        for key in list(self.sel.get_map().values()):
            key.fileobj.close()
        self.sel.close()


def relay_yaml(ports):
    # The channel's capacity is raised from its default of 65 536: the
    # receiver never trims its channel (PushReceiver.commit is a no-op),
    # so capacity bounds every message ever pushed, and the traced run's
    # ladder pushes about 430 000.
    sink = lambda s: '{module: core.sink, params: {bind: "tcp://127.0.0.1:%d"}}' % ports[s]
    return "\n".join([
        "actors:",
        '  rcv: {module: core.receiver, params: {bind: "tcp://127.0.0.1:0", '
        'silent: "false", capacity: "%d"}}' % CHANNEL_CAPACITY,
        "  parse: {module: core.meta_parser}",
        '  route: {module: core.router, params: {key: "meta.type", dead_letter: dlq}}',
        "  click: " + sink("click"),
        "  view: {module: core.compressor, params: {codec: gzip}}",
        "  encode: {module: core.encoder_base64}",
        "  view_out: " + sink("view_out"),
        "  purchase: {module: core.replicator, params: {mode: each}}",
        "  purchase_a: " + sink("purchase_a"),
        "  purchase_b: " + sink("purchase_b"),
        "  dlq: " + sink("dlq"),
        "pipeline:",
        "  rcv: {connect: [parse]}",
        "  parse: {connect: [route]}",
        "  route: {connect: [click, view, purchase, dlq]}",
        "  view: {connect: [encode]}",
        "  encode: {connect: [view_out]}",
        "  purchase: {connect: [purchase_a, purchase_b]}",
        ""])


def expected_sinks(t):
    return {"click": ("click",), "view": ("view_out",),
            "purchase": ("purchase_a", "purchase_b")}.get(t, ("dlq",))


def relay_once(classes, work, seed, traced, ladder, cpus):
    """One JVM relaying one ladder; returns (jvm result, measurements)."""
    os.makedirs(work, exist_ok=True)
    listener = SinkListener()
    yaml_path = os.path.join(work, "relay.yml")
    with open(yaml_path, "w") as f:
        f.write(relay_yaml(listener.ports))
    proc = jvm(classes, [("relay", {"yaml": yaml_path})], work,
               sum(s for _, s in ladder), traced, cpus)
    gen = None
    killer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    killer.start()
    try:
        port = None
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY "):
                port = json.loads(line[len("PERFBENCH_READY "):])["port"]
                break
        if port is None:
            jvm_result(proc, work)  # raises, with the JVM's log
            raise RuntimeError("relay JVM exited before its receivers were ready")
        sched = gen_relay.Schedule(seed, ladder)
        gen_out = os.path.join(work, "gen.json")
        spec = ",".join("%g:%g" % r for r in ladder)
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "gen_relay.py"),
                                "--port", str(port), "--seed", str(seed), "--ladder", spec,
                                "--conns", str(cpus), "--out", gen_out])
        gen.wait(timeout=sched.end_ns / 1e9 + 60)
        with open(gen_out) as f:
            g = json.load(f)
        want = sum(len(expected_sinks(t)) for t, s in zip(sched.types, g["status"]) if s == 1)
        # drain: at least one line per expected delivery and 1.5 s (past
        # one trigger) without a new line, or 5 s without one
        last, last_t = -1, time.monotonic()
        while True:
            got = sum(len(v) for v in listener.arrivals.values())
            if got != last:
                last, last_t = got, time.monotonic()
            idle = time.monotonic() - last_t
            if idle > 5.0 or (got >= want and idle > 1.5):
                break
            time.sleep(0.05)
        proc.stdin.write("STOP\n")
        proc.stdin.flush()
        res = jvm_result(proc, work)["relay"]
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        listener.close()
    return res, relay_measure(sched, g, listener)


def decodes(rec):
    try:
        gzip.decompress(base64.b64decode(rec, validate=True))
        return True
    except Exception:
        return False


def join_base64_records(arr):
    """Spark's base64() wraps its output in 76-character lines
    (spark.sql.chunkBase64String.enabled), so one encoded message can
    reach the line-framed sink as several lines. Rejoins them per
    connection: a 76-character line continues into the next one unless
    the lines so far already decode to a whole gzip member. Returns the
    records (arrival of their last line) and how many were split."""
    out, split, cur = [], 0, {}
    for t, ln, cid in arr:
        parts = cur.setdefault(cid, [])
        parts.append(ln)
        if len(ln) != 76 or decodes(b"".join(parts)):
            out.append((t, b"".join(parts)))
            split += len(parts) > 1
            del cur[cid]
    for parts in cur.values():
        out.append((0, b"".join(parts)))
    return out, split


def relay_measure(sched, g, listener):
    t0 = g["t0_ns"]
    n = len(sched)
    status = g["status"]
    done = [0] * n  # arrival of the last expected copy
    copies = [0] * n
    seen = [None] * n  # sinks each message reached
    bad = 0  # misrouted, duplicated or corrupted deliveries
    raw_bytes = comp_bytes = 0
    arrivals = dict(listener.arrivals)
    arrivals["view_out"], split = join_base64_records(arrivals["view_out"])
    for sink, arr in arrivals.items():
        for t, ln in ((x[0], x[1]) for x in arr):
            try:
                body = gzip.decompress(base64.b64decode(ln)) if sink == "view_out" else ln
                i = int(body[:body.index(b".")])
            except Exception:
                bad += 1
                continue
            if not (0 <= i < n) or body != sched.payloads[i] or sink not in expected_sinks(sched.types[i]):
                bad += 1
                continue
            if seen[i] is None:
                seen[i] = set()
            if sink in seen[i]:
                bad += 1
                continue
            seen[i].add(sink)
            if sink == "view_out":
                raw_bytes += len(body)
                comp_bytes += len(ln)
            copies[i] += 1
            done[i] = max(done[i], t)
    complete = [status[i] == 1 and copies[i] == len(expected_sinks(sched.types[i]))
                for i in range(n)]
    sent = n
    rejected = sum(1 for s in status if s == 2)
    no_reply = sum(1 for s in status if s == 0)
    undelivered = sum(1 for i in range(n) if status[i] == 1 and not complete[i])
    # backlog: accepted but not yet delivered, sampled every 50 ms
    acks = sorted(a for a, s in zip(g["ack_ns"], status) if s == 1)
    arr_sorted = sorted(done[i] for i in range(n) if complete[i])
    rungs = []
    sustained = 0.0
    for k, r in enumerate(sched.rungs):
        ids = range(r["first"], r["first"] + r["count"])
        rl = [(done[i] - t0 - sched.due_ns[i]) / 1e6 if complete[i] else float("inf")
              for i in ids if status[i] == 1]
        lo, hi = t0 + r["start_ns"], t0 + r["start_ns"] + int(r["seconds"] * 1e9)
        ts = list(range(lo, hi, 50_000_000))
        backlog = [bisect.bisect_right(acks, t) - bisect.bisect_right(arr_sorted, t) for t in ts]
        # growth per second: mean backlog over the rung's last second
        # minus that over the second before it. Whole trigger periods, so
        # the micro-batch sawtooth averages out; the rung's first second,
        # the ramp from the previous rung's level, is left out.
        w = 20
        growth = statistics.mean(backlog[-w:]) - statistics.mean(backlog[-2 * w:-w])
        p99 = pct(rl, 0.99)
        ok = (p99 <= LATENCY_LIMIT_MS and len(rl) == r["count"]
              and growth <= BACKLOG_GROWTH_LIMIT * r["rate"])
        rungs.append({"rate": r["rate"], "p50_ms": pct(rl, 0.5), "p99_ms": p99,
                      "samples": len(rl), "backlog_max": max(backlog),
                      "backlog_slope_msgs_per_s": growth, "sustained": ok})
    # highest rung such that it and every rung below it were sustained
    for r in rungs:
        if not r["sustained"]:
            break
        sustained = r["rate"]
    lag = [(s - t0 - d) / 1e6 for s, d in zip(g["sent_ns"], sched.due_ns)]
    ack_ms = [(a - s) / 1e6 for a, s, st in zip(g["ack_ns"], g["sent_ns"], status) if st]
    ref, top = rungs[0], rungs[-1]
    by_type = {}
    for i in range(n):
        if status[i] == 1:
            t = sched.types[i]
            key = t if t in gen_relay.ROUTED else "dlq"
            tot, got = by_type.get(key, (0, 0))
            by_type[key] = (tot + 1, got + complete[i])
    return {
        "sent": sent, "rejected": rejected, "no_reply": no_reply,
        "undelivered": undelivered, "bad": bad,
        "sustained_msgs_per_s": sustained, "rungs": rungs,
        "top_rung_delivered_msgs_per_s": top["rate"] - top["backlog_slope_msgs_per_s"],
        "latency_p50_ms": ref["p50_ms"], "latency_p99_ms": ref["p99_ms"],
        "latency_samples": ref["samples"],
        "gen_lag_ms_p99": pct(lag, 0.99), "gen_cpu_s": g["cpu_s"],
        "ack_ms_p50": pct(ack_ms, 0.5), "ack_ms_p99": pct(ack_ms, 0.99),
        "backlog_msgs_max": max(r["backlog_max"] for r in rungs),
        "backlog_slope_msgs_per_s": ref["backlog_slope_msgs_per_s"],
        "delivered_frac": {k: got / tot for k, (tot, got) in by_type.items()},
        "dead_letter_msgs": sum(1 for i in range(n) if complete[i] and sched.types[i] in gen_relay.UNROUTABLE),
        "compress_ratio": comp_bytes / raw_bytes if raw_bytes else 0.0,
        "base64_split_msgs": split,
        "connections_opened": listener.connections,
        "bytes_received_mb": listener.bytes / 1e6,
    }


def relay(classes, work, seed, seconds, traced, ladder=None, cpus=CPUS):
    res, m = relay_once(classes, work, seed, traced, ladder or [(REFERENCE_RATE, seconds)], cpus)
    failed = (m["rejected"] + m["no_reply"] + m["undelivered"] + m["bad"]
              + res["dead_lettered_batches"])
    checks = {
        "every_accepted_delivered_once": m["undelivered"] == 0,
        "routes_and_bodies_intact": m["bad"] == 0,
        "no_rejections": m["rejected"] == 0 and m["no_reply"] == 0,
        "no_dead_lettered_batches": res["dead_lettered_batches"] == 0,
        "generator_on_schedule": m["gen_lag_ms_p99"] <= GEN_LAG_LIMIT_MS,
    }
    e2e = {"setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
           "latency_p50_ms": m["latency_p50_ms"]}
    return e2e, m["sent"], failed, checks, {"jvm": res, "relay": m}


# ---- index_xo / curate ------------------------------------------------------

def index_spec(work, seed):
    os.makedirs(work, exist_ok=True)
    docs, _, c = gen_corpus.generate(seed, INDEX_DOCS, vocab=INDEX_VOCAB)
    corpus = os.path.join(work, "index-corpus.jsonl")
    queries = os.path.join(work, "index-queries.jsonl")
    gen_corpus.write_jsonl(corpus, docs, ("doc_id", "text"))
    gen_corpus.write_jsonl(queries, gen_corpus.queries(c, INDEX_QUERIES), ("query_id", "qtext"))
    return ("index_xo", {"corpus": corpus, "queries": queries, "batches": INDEX_BATCHES})


def index_result(res):
    e2e = {k: res[k] for k, _ in E2E}
    return e2e, res["attempted"], res["failed"], dict(res["check"]), {"jvm": res}


def index_xo(classes, work, seed, seconds, traced):
    return index_result(run_jvm(classes, [index_spec(work, seed)], work, seconds, traced)["index_xo"])


def curate(classes, work, seed, seconds, traced):
    """The traced run also runs the index lifecycle in the same JVM, so
    every batch layer is measured by one BENCHMARK.json workload."""
    os.makedirs(work, exist_ok=True)
    docs, manifest, _ = gen_corpus.generate(seed, CURATE_DOCS, **CURATE_PLANT)
    corpus = os.path.join(work, "corpus.jsonl")
    gen_corpus.write_jsonl(corpus, docs, ("doc_id", "text"))
    planted = os.path.join(work, "exact_copies.txt")
    with open(planted, "w") as f:
        f.write(",".join(map(str, manifest["exact_copies"])))
    specs = [("curate", {"corpus": corpus, "exact_copies": planted})]
    if traced:
        specs.append(index_spec(work, seed))
    out = run_jvm(classes, specs, work, seconds, traced)
    res = out["curate"]
    checks = dict(res["check"])
    attempted, failed = res["attempted"], res["failed"]
    with open(os.path.join(HERE, "digests.json")) as f:
        recorded = json.load(f).get(str(seed))
    if recorded is not None:
        checks["digest_matches_recorded"] = recorded == res["digest"]
        attempted += 1
        failed += 0 if checks["digest_matches_recorded"] else 1
    details = {"jvm": res, "planted": {k: len(v) for k, v in manifest.items()}}
    if traced:
        _, a, f, ch, details["index_xo"] = index_result(out["index_xo"])
        attempted += a
        failed += f
        checks.update({"index_xo." + k: x for k, x in ch.items()})
    return {k: res[k] for k, _ in E2E}, attempted, failed, checks, details


WORKLOADS = {"relay": relay, "index_xo": index_xo, "curate": curate}


# ---- traced run: per-layer metrics -------------------------------------------

def traced_passes(args, classes, work):
    """The passes of a traced run: pass name -> details, and the summed
    attempted, failed and checks. relay: the untraced relay (the base of
    the tracing overhead), the traced relay, which climbs the ladder after
    the same reference-rate stretch, and the single-core baseline at the
    reference rate. curate: one traced JVM that also runs the index
    lifecycle and measures its own tracing overhead. index_xo (by hand):
    untraced, then traced."""
    seed, secs = args.seed, args.seconds
    if args.workload == "relay":
        climb = [(REFERENCE_RATE, secs)] + [(r, RUNG_S) for r in LADDER]
        one = [(REFERENCE_RATE, secs / 4)]
        passes = [("base", lambda w: relay(classes, w, seed, secs, False)),
                  ("relay", lambda w: relay(classes, w, seed, secs, True, climb)),
                  ("single_core", lambda w: relay(classes, w, seed, secs, False, one, 1))]
    elif args.workload == "curate":
        passes = [("curate", lambda w: curate(classes, w, seed, secs, True))]
    else:
        passes = [("base", lambda w: index_xo(classes, w, seed, secs, False)),
                  ("index_xo", lambda w: index_xo(classes, w, seed, secs, True))]
    out, attempted, failed, checks = {}, 0, 0, {}
    for name, fn in passes:
        _, a, f, ch, out[name] = fn(os.path.join(work, name))
        attempted += a
        failed += f
        checks.update({"%s.%s" % (name, k): x for k, x in ch.items()})
    if "index_xo" in out.get("curate", {}):
        out["index_xo"] = out["curate"].pop("index_xo")
    return out, attempted, failed, checks


def e2e_of(workload, details):
    if workload == "relay":
        return details["relay"]
    return details["jvm"]


def per_layer(workload, traced):
    """Every per-layer metric of BENCHMARK.json from the traced passes;
    layers no pass exercised read 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    v = {n: 0.0 for n, _ in names}
    main_res = traced[workload]["jvm"]
    for k in ("session.start", "pipeline.config", "pipeline.compile",
              "pipeline.start_streaming"):
        v[k + "_s"] = main_res.get("self_s", {}).get(k, 0.0)
    if "base" in traced:
        t, b = e2e_of(workload, traced[workload]), e2e_of(workload, traced["base"])
        v["trace.overhead_frac.latency_p50_ms"] = t["latency_p50_ms"] / b["latency_p50_ms"] - 1
    else:
        v["trace.overhead_frac.latency_p50_ms"] = main_res["tracing_overhead_frac"]
    if "relay" in traced:
        res, m = traced["relay"]["jvm"], traced["relay"]["relay"]
        v.update({
            "sources.ack_ms_p50": m["ack_ms_p50"], "sources.ack_ms_p99": m["ack_ms_p99"],
            "sources.rejected_msgs": m["rejected"],
            "sources.backlog_msgs_max": m["backlog_msgs_max"],
            "sources.backlog_slope_msgs_per_s": m["backlog_slope_msgs_per_s"],
            "streaming.dead_lettered_batches": res["dead_lettered_batches"],
            "operators.dead_letter_msgs": m["dead_letter_msgs"],
            "operators.compress_ratio": m["compress_ratio"],
            "operators.base64_split_msgs": m["base64_split_msgs"],
            "sinks.connections_opened": m["connections_opened"],
            "sinks.bytes_received_mb": m["bytes_received_mb"],
            "gen.lag_ms_p99": m["gen_lag_ms_p99"], "gen.cpu_s": m["gen_cpu_s"],
            "relay.sustained_msgs_per_s": m["sustained_msgs_per_s"],
            "relay.top_rung_delivered_msgs_per_s": m["top_rung_delivered_msgs_per_s"],
            "relay.latency_p99_ms": traced["base"]["relay"]["latency_p99_ms"],
        })
        for k, x in res["streaming"].items():
            v["streaming." + k] = x
        for k, x in m["delivered_frac"].items():
            v["operators.delivered_frac." + k] = x
    if "single_core" in traced:
        m = traced["single_core"]["relay"]
        v["relay.single_core_latency_p50_ms"] = m["latency_p50_ms"]
        v["relay.single_core_latency_p99_ms"] = m["latency_p99_ms"]
    if "index_xo" in traced:
        res = traced["index_xo"]["jvm"]
        for fam, ops in (("lm", ("build", "append", "skip", "compact", "recover", "score")),
                         ("bm25", ("build", "append", "skip", "compact", "recover", "search"))):
            for op in ops:
                v["%s.%s_s" % (fam, op)] = res["walls"].get("%s.%s" % (fam, op), 0.0)
            for op in ("build", "append", "compact"):
                for c, x in res["counters"].get("%s.%s" % (fam, op), {}).items():
                    if c != "task_time_s":
                        v["%s.%s.%s" % (fam, op, c)] = x
            v[fam + ".disk_mb"] = res["disk"][fam]["mb"]
            v[fam + ".files"] = res["disk"][fam]["files"]
        v["index_xo.score_docs_per_s"] = res["score_docs_per_s"]
        v["index_xo.search_qps"] = res["search_qps"]
        v["index_xo.timed_frac"] = res["timed_frac"]
    if "curate" in traced:
        res = traced["curate"]["jvm"]
        c = res["counters"]
        v.update({"pipeline.run_batch_s": res["latency_p50_ms"] / 1000,
                  "curate.jobs": c["jobs"], "curate.shuffle_write_mb": c["shuffle_write_mb"],
                  "curate.spill_mb": c["spill_mb"], "curate.task_time_s": c["task_time_s"],
                  "curate.driver_gap_s": c["driver_gap_s"],
                  "curate.kept_frac": res["kept"] / res["docs"],
                  "curate.timed_frac": res["timed_frac"]})
        for a, x in res["actors"].items():
            v["curate.actor.%s_s" % a] = x["s"]
        v["dedup.exact_removed_frac"] = 1 - res["actors"]["dedup_exact"]["rows"] / res["docs"]
        v["dedup.near_removed_frac"] = 1 - res["actors"]["dedup_near"]["rows"] / res["docs"]
    missing = set(v) - {n for n, _ in names}
    if missing:
        raise RuntimeError("per-layer metrics not declared in BENCHMARK.json: %s" % sorted(missing))
    return {n: {"value": float(v[n]), "unit": u} for n, u in names}


def keep_spans(passes, args):
    """Spans of every traced pass, one file that outlives the work dir."""
    os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
    dst = os.path.join(WORK_ROOT, "spans", "%s-seed%d.jsonl" % (args.workload, args.seed))
    files = {d["jvm"]["span_file"] for d in passes.values() if "span_file" in d["jvm"]}
    with open(dst, "w") as out:
        for path in sorted(files):
            with open(path) as f:
                out.write(f.read())
    return os.path.relpath(dst, ROOT)


def report_of(args, details):
    """The workload's own numbers, with their sample counts."""
    res = details["jvm"]
    rep = {"setup_samples_s": res["setup_samples"]}
    if args.workload == "relay":
        m = details["relay"]
        rep.update({k: m[k] for k in (
            "latency_p50_ms", "latency_p99_ms", "latency_samples",
            "gen_lag_ms_p99", "gen_cpu_s", "sent", "rungs")})
        # program defects the checks let pass, so that they stay in sight
        rep["known_defects"] = {
            "base64_split_msgs": m["base64_split_msgs"],
            "channel_capacity_raised_to": CHANNEL_CAPACITY}
    else:
        rep.update({k: res[k] for k in ("docs", "queries", "batches", "lifecycles",
                                        "ingest_docs_per_s", "score_docs_per_s", "search_qps",
                                        "runs", "kept", "digest") if k in res})
        rep.update(details.get("planted", {}))
    return rep


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    work = os.path.join(WORK_ROOT, "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    report = {"workload": args.workload, "seed": args.seed, "cpus": CPUS,
              "seconds": args.seconds}
    try:
        if args.trace:
            details, attempted, failed, checks = traced_passes(args, classes, work)
            metrics = per_layer(args.workload, details)
            report["span_file"] = keep_spans(details, args)
        else:
            e2e, attempted, failed, checks, details = WORKLOADS[args.workload](
                classes, work, args.seed, args.seconds, False)
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E}
            report[args.workload] = report_of(args, details)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["checks"] = checks
    correct = all(checks.values()) and failed == 0
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
