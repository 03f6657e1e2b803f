#!/usr/bin/env python3
"""graft benchmark: one command, three seeded end-to-end workloads.

    python3 perfbench/run.py --workload <chess_build|chess_serve|crawl_corpus|all>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine (`sbt compile`)
and the JVM harness under perfbench/harness; later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed by the
benchmark's own generators (perfbench/gen), written under .bench_build/work,
and handed to the engine through its public entry points.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the end-to-end
ones; with --trace 1 they are the per-layer ones from a traced run. The
command exits 1 when an output check fails and 2 when it cannot run at all.
See perfbench/README.md for the workloads, the metrics and what they mean.
"""

import argparse
import glob
import hashlib
import http.client
import json
import os
import queue
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import pgn, questions, warc  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("chess_build", "chess_serve", "crawl_corpus")
# Set-ups per run; setup_s is their median. The first session start of a
# batch workload is the JVM's cold start, so the median is a warm restart.
SETUP_REPS = {"chess_build": 3, "chess_serve": 3, "crawl_corpus": 3}
CLIENTS = 4
HARNESS_TIMEOUT_S = 170

# Input sizes, fixed per workload; only the seed varies.
BUILD_INPUT = dict(games=120, min_plies=40, max_plies=100, players=400, player_skew=1.1)
SERVE_INPUT = dict(games=600, min_plies=8, max_plies=16, players=400, player_skew=1.1)
SERVE_QUESTIONS = 2500
# Untimed requests before the window, from the tail of the question stream.
# Latency falls over about the first 110 requests a server answers, so a
# warm-up by count gives every run the same warmth where one by time gave a
# slow host fewer requests. The cap bounds the run on a very slow host.
WARMUP_REQUESTS = 120
WARMUP_CAP_S = 40.0
CRAWL_INPUT = dict(pages=1500, domains=60, domain_skew=1.0)

E2E = (("setup_s", "s"), ("throughput_per_s", "1/s"), ("latency_p50_ms", "ms"),
       ("latency_p95_ms", "ms"))
PHASE_KEYS = ("task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "output_mb", "jobs")
BUILD_LAYERS = (
    [("ingest.tables_s", "s"), ("embed.vectors_s", "s"), ("embed.fens_per_s", "1/s"),
     ("embed.distinct_fen_ratio", "ratio"), ("ingest.games", "count"),
     ("ingest.positions", "count"), ("ingest.issues", "count"), ("embed.vectors", "count")]
    + [("%s.spark.%s" % (p, k), {"s": "s", "mb": "MB", "jobs": "count"}[k.rsplit("_", 1)[-1]])
       for p in ("ingest", "embed") for k in PHASE_KEYS])
SERVE_LAYERS = (
    [("query.analyse_us", "us"), ("query.execute_ms", "ms"), ("app.format_ms", "ms"),
     ("app.response_ms", "ms"), ("http.overhead_ms", "ms"), ("query.jobs_per_req", "count"),
     ("query.tasks_per_req", "count"), ("query.task_wait_ms", "ms"),
     ("query.task_wait_p95_ms", "ms"), ("query.deep_page_share", "ratio")]
    + [("core.cached_mb.%s" % t, "MB") for t in ("games", "players", "vectors", "summaries")])
CRAWL_LAYERS = (
    [("crawl.ingest_s", "s"), ("dedup.run_s", "s"), ("curate.run_s", "s"),
     ("crawl.docs_in", "count"), ("dedup.removed", "count"), ("curate.kept", "count"),
     ("dedup.planted_recall", "ratio"), ("crawl.write_amp", "ratio")]
    + [("%s.spark.%s" % (p, k), "MB") for p in ("crawl", "dedup", "curate")
       for k in ("shuffle_write_mb", "spill_mb")])
COMMON_LAYERS = [("jvm.gc_s", "s"), ("trace.unattributed_share", "ratio")]
# Only chess_serve measures the tracing overhead: it interleaves traced and
# untraced requests on one server. A batch run makes too few operations for
# that, and their warm-up trend is larger than the overhead of a few spans.
OVERHEAD = [("trace.overhead_pct", "%")]
PER_LAYER = BUILD_LAYERS + SERVE_LAYERS + CRAWL_LAYERS + COMMON_LAYERS + OVERHEAD
# The per-layer metrics each workload exercises; a traced run that misses
# one of its own fails a check.
LAYERS_OF = {"chess_build": BUILD_LAYERS + COMMON_LAYERS,
             "chess_serve": SERVE_LAYERS + COMMON_LAYERS + OVERHEAD,
             "crawl_corpus": CRAWL_LAYERS + COMMON_LAYERS}


class BenchError(Exception):
    """The benchmark cannot run (missing sources, failed build, dead harness)."""


def log(msg):
    sys.stderr.write("[perfbench] %s\n" % msg)
    sys.stderr.flush()


def p95(values):
    """95th percentile of a non-empty list (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=20, method="inclusive")[18]


# ------------------------------------------------------------------ build

def source_digest(root):
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
            "src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(root, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt(root, cwd, build_dir):
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars(root))
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state and temp files stay inside the checkout too
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(build_dir, "build.log"), "ab") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        raise BenchError("sbt compile failed in %s (see %s/build.log)" % (cwd, build_dir))


def spark_jars(root):
    """The Spark jar directory the engine's build compiles against."""
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BenchError("Spark jars not found (looked at %s)" % jars)
    return jars


def build(root):
    """Compile the engine and the harness unless the sources are unchanged."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            raise BenchError("no engine sources here: %s is missing" % need)
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    stamp = os.path.join(build_dir, "stamp")
    digest = source_digest(root)
    engine = os.path.join(root, "target", "scala-2.13", "classes")
    harness = os.path.join(HERE, "harness", "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(engine) and os.path.isdir(harness):
        return
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    sbt(root, root, build_dir)
    sbt(root, os.path.join(HERE, "harness"), build_dir)
    with open(stamp, "w") as f:
        f.write(digest)
    log("build done in %.0f s" % (time.time() - t0))


def java_cmd(root, workload, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cp = os.pathsep.join([
        os.path.join(HERE, "harness", "target", "scala-2.13", "classes"),
        os.path.join(root, "target", "scala-2.13", "classes"),
        os.path.join(root, "src", "main", "resources"),
        os.path.join(spark_jars(root), "*")])
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + args["work"], "-Dspark.local.dir=" + args["work"],
            "-cp", cp, "graft.perfbench.Main", workload]
    cmd += ["--%s=%s" % kv for kv in args.items()]
    return cmd


# ---------------------------------------------------------------- harness

class Harness:
    """The JVM harness process; its stdout lines arrive on a queue."""

    def __init__(self, root, workload, args):
        self.work = args["work"]
        self.errlog = open(os.path.join(self.work, "harness.log"), "wb")
        self.proc = subprocess.Popen(java_cmd(root, workload, args), cwd=root,
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.errlog)
        self.lines = queue.Queue()
        self.deadline = time.monotonic() + HARNESS_TIMEOUT_S
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for raw in self.proc.stdout:
            self.lines.put(raw.decode("utf-8", "replace").rstrip("\n"))
        self.lines.put(None)

    def expect(self, word):
        """Wait for the stdout line that starts with `word`; return the rest."""
        while True:
            try:
                line = self.lines.get(timeout=max(1.0, self.deadline - time.monotonic()))
            except queue.Empty:
                raise BenchError("harness sent no %s in time" % word)
            if line is None:
                raise BenchError("harness exited before %s (see %s/harness.log)"
                                 % (word, self.work))
            if line.split(" ", 1)[0] == word:
                return line[len(word):].strip()

    def send(self, line):
        self.proc.stdin.write((line + "\n").encode())
        self.proc.stdin.flush()

    def finish(self):
        """Wait for exit and return result.json."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            rc = self.proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.kill()
            raise BenchError("harness timed out")
        self.errlog.close()
        path = os.path.join(self.work, "result.json")
        if rc != 0 or not os.path.exists(path):
            raise BenchError("harness failed with code %s (see %s/harness.log)"
                             % (rc, self.work))
        with open(path) as f:
            return json.load(f)

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


# -------------------------------------------------------------- workloads

class Outcome:
    def __init__(self, name):
        self.name = name
        self.attempted = 0
        self.failed = 0
        self.checks = []      # (description, passed)
        self.e2e = {}
        self.layers = {}
        self.info = {}        # input properties and diagnostics

    def check(self, desc, passed):
        self.checks.append((desc, bool(passed)))

    @property
    def correct(self):
        return all(p for _, p in self.checks) and bool(self.checks)


def batch_e2e(out, ops, items, what):
    """Failure accounting over every operation of a batch workload (`what`
    names one), and its end-to-end metrics from the untraced ones."""
    failed = [o for o in ops if not o["ok"]]
    out.attempted += len(ops)
    out.failed += len(failed)
    out.check("no %s failed (%d of %d)" % (what, len(failed), len(ops)), not failed)
    for o in failed[:3]:
        log("%s failed: %s" % (what, o.get("error")))
    ok = [o for o in ops if o["ok"] and not o["traced"]]
    if ok:
        walls = [o["wall_s"] for o in ok]
        out.e2e["throughput_per_s"] = statistics.median(items / w for w in walls)
        out.e2e["latency_p50_ms"] = statistics.median(walls) * 1e3
        out.e2e["latency_p95_ms"] = p95(walls) * 1e3
    return ok


def traced_layers(work, names):
    """Spans of a traced run, and Spark job counters per span named in `names`."""
    spans = layers.load_jsonl(os.path.join(work, "spans.jsonl"))
    jobs = layers.load_jsonl(os.path.join(work, "jobs.jsonl"))
    return spans, layers.attribute_jobs(spans, jobs, names)


def run_chess_build(root, seed, seconds, trace, work):
    out = Outcome("chess_build")
    files, _, stats = pgn.generate(seed, **BUILD_INPUT)
    pgn.write(os.path.join(work, "pgn"), files)
    out.info["input"] = stats
    h = Harness(root, "chess_build", {"work": work, "seconds": seconds, "trace": trace,
                                      "setup-reps": SETUP_REPS["chess_build"],
                                      "pgn": os.path.join(work, "pgn")})
    res = h.finish()
    out.info["canary_s"] = [res["canary_s"], res["canary_end_s"]]
    out.e2e["setup_s"] = statistics.median(res["setup_s"])
    ops = res["iterations"]
    batch_e2e(out, ops, stats["games_in"], "build")
    c = res.get("check")
    out.check("a build completed", c is not None)
    if c:
        out.check("games == %d (got %d)" % (stats["games"], c["games"]),
                  c["games"] == stats["games"])
        out.check("positions == %d (got %d)" % (stats["positions"], c["positions"]),
                  c["positions"] == stats["positions"])
        out.check("issues == %d (got %d)" % (stats["issues"], c["issues"]),
                  c["issues"] == stats["issues"])
        out.check("vectors == positions (got %d)" % c["vectors"],
                  c["vectors"] == stats["positions"])
        out.check("vector-failure ledger of the warm-up build empty (got %d)"
                  % res["warmup_ledger"], res["warmup_ledger"] == 0)
        out.check("every vector 256-dim and finite (%d bad)" % c["bad_vectors"],
                  c["bad_vectors"] == 0)
        out.info["engine_distinct_fens"] = c["distinct_fens"]
    if trace:
        spans, by = traced_layers(work, ("ingest.tables", "embed.vectors"))
        roots = [s for s in spans if s["name"] == "build"]
        table = layers.layer_table(spans)
        L = out.layers
        ing = [s["dur_ms"] / 1e3 for s in spans if s["name"] == "ingest.tables"]
        emb = [s["dur_ms"] / 1e3 for s in spans if s["name"] == "embed.vectors"]
        if ing and emb:
            L["ingest.tables_s"] = statistics.median(ing)
            L["embed.vectors_s"] = statistics.median(emb)
        if c:
            if "embed.vectors_s" in L:
                L["embed.fens_per_s"] = c["distinct_fens"] / L["embed.vectors_s"]
            L["embed.distinct_fen_ratio"] = c["distinct_fens"] / max(1, c["positions"])
            L["ingest.games"] = c["games"]
            L["ingest.positions"] = c["positions"]
            L["ingest.issues"] = c["issues"]
            L["embed.vectors"] = c["vectors"]
        for phase, span in (("ingest", "ingest.tables"), ("embed", "embed.vectors")):
            for k, v in layers.spark_summary(by[span]).items():
                L["%s.spark.%s" % (phase, k)] = v
        L["jvm.gc_s"] = res["jvm_gc_s"]
        wall = sum(s["dur_ms"] for s in roots)
        if wall:
            L["trace.unattributed_share"] = table["build"]["self_ms"] / wall
        out.info["layer_table"] = (table, wall)
    return out


def serve_load(port, qs, first, seconds, rid_prefix, alternate, count=None):
    """Closed loop: CLIENTS connections, each sends its next request only after
    the previous reply, for `seconds` or until `count` requests were sent.
    With `alternate`, every other request asks for a traced answer, the odd
    ones in even blocks of the question mix and the even ones in odd blocks,
    so both sides get the same mix of kinds. Returns one record per request
    sent."""
    lock = threading.Lock()
    nxt = [first]
    records = []
    deadline = time.monotonic() + seconds

    def client():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        while time.monotonic() < deadline:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if count is not None and i >= first + count:
                break
            q = qs[i % len(qs)]
            body = json.dumps({"question": q["question"], "limit": q["limit"],
                               "offset": q["offset"]})
            rid = "%s%d" % (rid_prefix, i)
            traced = alternate and (i + i // questions.BLOCK) % 2 == 1
            headers = {"Content-Type": "application/json", "X-Request-Id": rid}
            if traced:
                headers["X-Trace"] = "1"
            t0 = time.perf_counter()
            status, data = None, b""
            try:
                conn.request("POST", "/query", body, headers)
                resp = conn.getresponse()
                data = resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
            rec = {"i": i, "rid": rid, "traced": traced,
                   "ms": (time.perf_counter() - t0) * 1e3, "status": status, "body": data}
            with lock:
                records.append(rec)
        conn.close()

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t0


def check_responses(out, records, qs):
    """Count failures and check every 200 response against the generator."""
    ok, bad_total = [], []
    for r in records:
        out.attempted += 1
        if r["status"] != 200:
            out.failed += 1
            continue
        try:
            body = json.loads(r["body"])
        except ValueError:
            out.failed += 1
            continue
        q = qs[r["i"] % len(qs)]
        want = min(q["limit"], max(0, q["expected_total"] - q["offset"]))
        if body.get("total") != q["expected_total"] or len(body.get("results", [])) != want:
            bad_total.append("%r limit=%d offset=%d: total %s (want %d), %d results (want %d)"
                             % (q["question"], q["limit"], q["offset"], body.get("total"),
                                q["expected_total"], len(body.get("results", [])), want))
        r["parsed"] = body
        ok.append(r)
    return ok, bad_total


def run_chess_serve(root, seed, seconds, trace, work):
    out = Outcome("chess_serve")
    files, meta, stats = pgn.generate(seed, **SERVE_INPUT)
    pgn.write(os.path.join(work, "pgn"), files)
    qs, qstats = questions.generate(seed, meta, SERVE_QUESTIONS)
    qpath = os.path.join(work, "questions.jsonl")
    with open(qpath, "w") as f:
        for q in qs:
            f.write(json.dumps(q) + "\n")
    out.info["input"] = dict(stats, **qstats)
    h = Harness(root, "chess_serve", {"work": work, "seconds": seconds, "trace": trace,
                                      "setup-reps": SETUP_REPS["chess_serve"],
                                      "pgn": os.path.join(work, "pgn"),
                                      "questions": qpath, "calibrate": questions.BLOCK})
    try:
        port = int(h.expect("READY"))
        # warm-up from the tail of the stream: JIT and codegen caches
        serve_load(port, qs, len(qs) - WARMUP_REQUESTS, WARMUP_CAP_S, "w", trace,
                   count=WARMUP_REQUESTS)
        h.send("WINDOW")
        h.expect("WINDOW")
        # a traced run interleaves traced and untraced requests on one
        # server, so both see the same handler, load and warmth
        records, window_s = serve_load(port, qs, 0, float(seconds), "r", trace)
        ok, bad = check_responses(out, records, qs)
        # a fixed sample: the first requests of the question stream, plus
        # the next deep page, must equal a direct HybridExecutor.execute
        pool = sorted(ok, key=lambda r: r["i"])
        sample = pool[:10] + [r for r in pool[10:] if qs[r["i"] % len(qs)]["deep"]][:1]
        spath = os.path.join(work, "sample.jsonl")
        with open(spath, "w") as f:
            for r in sample:
                q = qs[r["i"] % len(qs)]
                f.write(json.dumps({"question": q["question"], "limit": q["limit"],
                                    "offset": q["offset"], "total": r["parsed"]["total"],
                                    "game_ids": [x["game_id"] for x in r["parsed"]["results"]]})
                        + "\n")
        h.send("DONE " + spath)
        res = h.finish()
    finally:
        h.kill()
    with open(os.path.join(work, "requests.jsonl"), "w") as f:
        for r in records:
            q = qs[r["i"] % len(qs)]
            f.write(json.dumps({"rid": r["rid"], "traced": r["traced"], "ms": r["ms"],
                                "status": r["status"], "kind": q["kind"], "deep": q["deep"],
                                "limit": q["limit"], "offset": q["offset"]}) + "\n")
    out.info["canary_s"] = [res["canary_s"], res["canary_end_s"]]
    out.info["tables_build_s"] = res["tables_build_s"]
    out.e2e["setup_s"] = statistics.median(res["setup_s"])
    plain = [r for r in ok if not r["traced"]]
    lat = [r["ms"] for r in plain]
    if lat and not trace:
        out.e2e["throughput_per_s"] = len(lat) / window_s
        out.e2e["latency_p50_ms"] = statistics.median(lat)
        out.e2e["latency_p95_ms"] = p95(lat)
    out.info["requests"] = len(lat)
    out.info["cached_mb"] = sum(res["cached_mb"].values())
    out.check("every request got a 200 (%d of %d failed)" % (out.failed, out.attempted),
              out.attempted and not out.failed)
    out.check("every total matches the generator (%d wrong)" % len(bad), not bad)
    for b in bad[:5]:
        log("wrong response: " + b)
    mism = res.get("sample_mismatches", ["sample not checked"])
    out.check("%d sampled responses equal a direct execute (%d differ)"
              % (res.get("sample_checked", 0), len(mism)), not mism and sample)
    for m in mism[:5]:
        log("sample mismatch: " + m)
    if trace:
        cal = res.get("calibration", [])
        out.check("traced bodies equal ServeApp.queryResponse (%d of %d differ)"
                  % (len([c for c in cal if not c["same_body"]]), len(cal)),
                  cal and all(c["same_body"] for c in cal))
        # the spans of the timed window; warm-up requests are traced too
        spans = [s for s in layers.load_jsonl(os.path.join(work, "spans.jsonl"))
                 if (s["rid"] or "").startswith("r")]
        table = layers.layer_table(spans)
        L = out.layers
        for metric, name, scale in (("query.analyse_us", "query.analyse", 1e3),
                                    ("query.execute_ms", "query.execute", 1.0),
                                    ("app.format_ms", "app.format", 1.0),
                                    ("app.response_ms", "app.response", 1.0)):
            if name in table:
                L[metric] = table[name]["median_ms"] * scale
        resp = {s["rid"]: s["dur_ms"] for s in spans if s["name"] == "app.response"}
        traced_ok = [r for r in ok if r["traced"] and r["rid"] in resp]
        http_ms = [r["ms"] - resp[r["rid"]] for r in traced_ok]
        if http_ms:
            L["http.overhead_ms"] = statistics.median(http_ms)
        if cal:
            L["query.jobs_per_req"] = statistics.mean(c["jobs"] for c in cal)
            L["query.tasks_per_req"] = statistics.mean(c["tasks"] for c in cal)
        waits = res.get("task_wait_ms", [])
        if waits:
            L["query.task_wait_ms"] = statistics.median(waits)
            L["query.task_wait_p95_ms"] = p95(waits)
        L["query.deep_page_share"] = qstats["deep_page_share"]
        for t, mb in res["cached_mb"].items():
            L["core.cached_mb.%s" % t] = mb
        L["jvm.gc_s"] = res["jvm_gc_s"]
        if traced_ok and lat:
            L["trace.overhead_pct"] = 100.0 * (
                statistics.median(r["ms"] for r in traced_ok) / statistics.median(lat) - 1.0)
        wall = sum(r["ms"] for r in traced_ok)
        if http_ms:
            table["http"] = {"calls": len(http_ms), "total_ms": sum(http_ms),
                             "self_ms": sum(http_ms), "median_ms": L["http.overhead_ms"]}
        if wall and "app.response" in table:
            L["trace.unattributed_share"] = table["app.response"]["self_ms"] / wall
        out.info["layer_table"] = (table, wall)
    return out


def run_crawl_corpus(root, seed, seconds, trace, work):
    out = Outcome("crawl_corpus")
    files, truth = warc.generate(seed, **CRAWL_INPUT)
    wdir = os.path.join(work, "warc")
    warc.write(wdir, files)
    out.info["input"] = {k: v for k, v in truth.items() if not isinstance(v, list)}
    h = Harness(root, "crawl_corpus", {"work": work, "seconds": seconds, "trace": trace,
                                       "setup-reps": SETUP_REPS["crawl_corpus"], "warc": wdir})
    res = h.finish()
    out.info["canary_s"] = [res["canary_s"], res["canary_end_s"]]
    out.e2e["setup_s"] = statistics.median(res["setup_s"])
    ops = res["iterations"]
    batch_e2e(out, ops, truth["html_200"], "pipeline run")
    c = res.get("check")
    out.check("a pipeline run completed", c is not None)
    recall = 0.0
    if c:
        def lines(name):
            with open(os.path.join(work, name), encoding="utf-8") as f:
                return set(x.strip() for x in f if x.strip())
        survivors, kept = lines("survivors.txt"), lines("kept.txt")
        docs = {d["url"]: d["text"] for d in layers.load_jsonl(os.path.join(work, "cyrillic.jsonl"))}
        out.check("docs_in == %d 200-response HTML records (got %d)"
                  % (truth["html_200"], c["docs_in"]), c["docs_in"] == truth["html_200"])
        bad = [g for g in truth["mirror_groups"] if len(survivors.intersection(g)) != 1]
        out.check("every planted exact mirror removed (%d groups wrong)" % len(bad), not bad)
        leaked = [u for u in truth["low_quality"] if u in kept]
        out.check("no planted low-quality page kept (%d kept)" % len(leaked), not leaked)
        wrong = [u for u, para in truth["cp1251"] if para not in docs.get(u, "")]
        out.check("windows-1251 pages transcoded (%d wrong)" % len(wrong), not wrong)
        groups = truth["mirror_groups"] + truth["near_groups"]
        removed = sum(len(g) - len(survivors.intersection(g)) for g in groups)
        recall = removed / truth["planted_copies"] if truth["planted_copies"] else 0.0
        out.info["planted_recall"] = recall
    if trace:
        stages = ("crawl.ingest", "dedup.run", "curate.run")
        spans, by = traced_layers(work, stages)
        table = layers.layer_table(spans)
        L = out.layers
        for s in stages:
            xs = [x["dur_ms"] / 1e3 for x in spans if x["name"] == s]
            if xs:
                L[s + "_s"] = statistics.median(xs)
        if c:
            L["crawl.docs_in"] = c["docs_in"]
            L["dedup.removed"] = c["dedup_removed"]
            L["curate.kept"] = c["curate_kept"]
            L["dedup.planted_recall"] = recall
            L["crawl.write_amp"] = c["parquet_bytes"] / (truth["input_mb"] * 1e6)
        for stage in stages:
            prefix = stage.split(".")[0]
            for k, v in layers.spark_summary(by[stage]).items():
                if k in ("shuffle_write_mb", "spill_mb"):
                    L["%s.spark.%s" % (prefix, k)] = v
        L["jvm.gc_s"] = res["jvm_gc_s"]
        roots = [s for s in spans if s["name"] == "pipeline.run"]
        wall = sum(s["dur_ms"] for s in roots)
        if wall:
            L["trace.unattributed_share"] = table["pipeline.run"]["self_ms"] / wall
        out.info["layer_table"] = (table, wall)
    return out


RUNNERS = {"chess_build": run_chess_build, "chess_serve": run_chess_serve,
           "crawl_corpus": run_crawl_corpus}

# Each workload's own names for its end-to-end figures, for the report.
ALIASES = {
    "chess_build": (("build_games_per_s", "throughput_per_s", "games/s"),),
    "chess_serve": (("serve_rps", "throughput_per_s", "req/s"),
                    ("serve_p50_ms", "latency_p50_ms", "ms"),
                    ("serve_p95_ms", "latency_p95_ms", "ms")),
    "crawl_corpus": (("crawl_docs_per_s", "throughput_per_s", "docs/s"),),
}


def report(o, trace, stream):
    w = stream.write
    w("== %s ==\n" % o.name)
    for k, v in sorted(o.info.get("input", {}).items()):
        w("  input %-22s %s\n" % (k, v))
    w("  canary_s (start, end)       %s\n" % o.info.get("canary_s"))
    for desc, passed in o.checks:
        w("  check %-4s %s\n" % ("ok" if passed else "FAIL", desc))
    w("  failed_ratio                %.4f (%d/%d ops)\n"
      % (o.failed / max(1, o.attempted), o.failed, o.attempted))
    if not trace:
        for name, unit in E2E:
            if name in o.e2e:
                w("  %-27s %.4f %s\n" % (name, o.e2e[name], unit))
        for alias, name, unit in ALIASES[o.name]:
            if name in o.e2e:
                w("  %-27s %.4f %s\n" % (alias, o.e2e[name], unit))
        if o.name == "chess_serve":
            w("  %-27s %.4f MB (%d requests)\n" % ("cached_mb", o.info["cached_mb"],
                                                 o.info["requests"]))
    else:
        table, wall = o.info.get("layer_table", ({}, 0))
        w("  per-layer self time over %.1f ms of traced wall:\n" % wall)
        layers.print_table(table, wall, stream)
        for name, unit in PER_LAYER:
            if name in o.layers:
                w("  %-30s %.4f %s\n" % (name, o.layers[name], unit))


def metrics_of(o, trace):
    if trace:
        # a layer the workload does not exercise reads 0
        own = {n for n, _ in LAYERS_OF[o.name]}
        return {n: {"value": float(o.layers[n] if n in own else 0.0), "unit": u}
                for n, u in PER_LAYER if n in o.layers or n not in own}
    return {n: {"value": float(o.e2e[n]), "unit": u} for n, u in E2E if n in o.e2e}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        build(root)
        names = WORKLOADS if a.workload == "all" else (a.workload,)
        outcomes = []
        for name in names:
            work = os.path.join(root, ".bench_build", "work",
                                "%s-s%d-t%d" % (name, a.seed, a.trace))
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            o = RUNNERS[name](root, a.seed, a.seconds, a.trace, work)
            if a.trace:
                missing = [n for n, _ in LAYERS_OF[name] if n not in o.layers]
                o.check("every per-layer metric of the workload measured (missing: %s)"
                        % (", ".join(missing) or "none"), not missing)
            report(o, a.trace, sys.stdout)
            outcomes.append(o)
    except BenchError as e:
        log("error: %s" % e)
        return 2
    if len(outcomes) == 1:
        metrics = metrics_of(outcomes[0], a.trace)
    else:
        metrics = {"%s.%s" % (o.name, k): v
                   for o in outcomes for k, v in metrics_of(o, a.trace).items()}
    correct = all(o.correct for o in outcomes)
    missing = [n for o in outcomes for n, _ in E2E if not a.trace and n not in o.e2e]
    if missing:
        log("no successful operation measured: %s" % missing)
        return 2
    sys.stdout.write(json.dumps({
        "correct": correct,
        "attempted": sum(o.attempted for o in outcomes),
        "failed": sum(o.failed for o in outcomes),
        "metrics": metrics}) + "\n")
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
