#!/usr/bin/env python3
"""End-to-end benchmark of the serving tier and the batch dedup pipeline.

    python3 perfbench/run.py --workload search_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the deployable dist
(`tools/mkdist.sh`) and the benchmark's own JVM side (`perfbench/`, sbt);
later runs reuse both until a source file changes. Every input derives
from `--seed`. The last stdout line is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`). METRICS.md defines every metric.

Workloads:
  search_small  closed-loop /search + /mcp traffic against the deployed
                IngestMain + ServeMain JVMs over a 2,000-row 64-dim corpus
  batch_dedup   repeated d2/d4/v8 near-dup passes + clusters + keeper
                write over 5,000 documents in the benchmark's JVM
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import client  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Two closed-loop clients: at four (= cores here) every request queues
# behind 32-task jobs of the others and run-to-run spread doubled.
CLIENTS = max(1, min(2, os.cpu_count() or 1))
WARMUP_CALLS = 60      # closed-loop warm-up before the timed window
MIN_WINDOW_CALLS = 50  # p80 keeps ten samples beyond it
TAIL_Q = 80
N_REQUESTS = 5000      # length of the seeded request sequence
PROBE_DOCS = 500       # document prefix of the dedup probe (search traces)
PROBE_SECONDS = 3.0    # HTTP window of the search probe (batch traces)
STARTUP_LIMIT_S = 150.0
WORK = ".perfbench_work"

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "tools/mkdist.sh",
                "src/main", "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Fail(Exception):
    """The benchmark cannot produce a result (build or launch failure)."""


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha1()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """Spark's jars directory: $SPARK_JARS, else $SPARK_HOME/jars, else
    the one beside `spark-submit` on the PATH."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise Fail("set SPARK_JARS or SPARK_HOME to a Spark 4.x installation")
    return os.path.join(home, "jars")


def bench_jar(root):
    d = os.path.join(root, "perfbench", "target", "scala-2.13")
    jars = [f for f in os.listdir(d) if f.endswith(".jar")] if os.path.isdir(d) else []
    return os.path.join(d, sorted(jars)[0]) if jars else None


def require_checkout(root):
    for rel in ("build.sbt", "src/main/scala", "tools/mkdist.sh"):
        if not os.path.exists(os.path.join(root, rel)):
            raise Fail(f"not a checkout of the program: {rel} is missing")


def build(root, work_root):
    stamp_file = os.path.join(work_root, "build.stamp")
    stamp = source_stamp(root)
    jar = os.path.join(root, "dist", "graft.jar")
    if (os.path.isfile(jar) and bench_jar(root) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        return
    log("building dist/ and the benchmark JVM (first run in this checkout)")
    env = dict(os.environ, SPARK_JARS=spark_jars())
    with open(os.path.join(work_root, "build.log"), "w") as out:
        for cmd, cwd in ((["bash", "tools/mkdist.sh"], root),
                         (["sbt", "-batch", "package"], os.path.join(root, "perfbench"))):
            if subprocess.run(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL).returncode != 0:
                raise Fail(f"build failed: {' '.join(cmd)} (see {out.name})")
    if not (os.path.isfile(jar) and bench_jar(root)):
        raise Fail("build produced no jars")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


# ---------------------------------------------------------------- processes

class Run:
    """Paths and environment of one benchmark run."""

    def __init__(self, root, args):
        self.root, self.args = root, args
        self.work_root = os.path.join(root, WORK)
        os.makedirs(self.work_root, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=self.work_root)
        for sub in ("spark-local", "tmp", "logs"):
            os.makedirs(os.path.join(self.dir, sub))
        self.env = dict(os.environ, SPARK_JARS=spark_jars())
        # Spark scratch and JVM temp files stay inside the checkout
        self.env["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        self.env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        self.procs = []

    def path(self, *parts):
        return os.path.join(self.dir, *parts)

    def logfile(self, name):
        return open(self.path("logs", name), "w")

    def spawn(self, cmd, name, **kw):
        p = subprocess.Popen(cmd, cwd=self.root, env=self.env,
                             stderr=self.logfile(name + ".err"), **kw)
        self.procs.append(p)
        return p

    def bench_cmd(self, *args):
        cp = ":".join([bench_jar(self.root), os.path.join(self.root, "dist", "graft.jar"),
                       os.path.join(self.env["SPARK_JARS"], "*")])
        opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        return ["java", *opens, f"-Xmx{os.environ.get('GRAFT_MEM', '4g')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", cp, "graft.perfbench.Main", *map(str, args)]

    def close(self):
        for p in self.procs:
            stop(p)
        shutil.rmtree(self.dir, ignore_errors=True)


def stop(p, grace=15):
    if p.poll() is None:
        p.send_signal(signal.SIGTERM)
        try:
            p.wait(grace)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def vm_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise Fail(f"no VmHWM for pid {pid}")


def free_ports(n):
    """`n` distinct free ports (all held open while choosing)."""
    socks = [socket.socket() for _ in range(n)]
    try:
        for s in socks:
            s.bind(("127.0.0.1", 0))
        return [s.getsockname()[1] for s in socks]
    finally:
        for s in socks:
            s.close()


def dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith("."))


def pb_records(lines):
    """The `PB {json}` records of the benchmark JVM's stdout."""
    return [json.loads(line[3:]) for line in lines if line.startswith("PB ")]


def write_requests(path, reqs, n):
    with open(path, "w") as fh:
        for i in range(min(n, len(reqs))):
            endpoint, body = reqs[i]
            fh.write(f"{i}\t{endpoint}\t{client.payload(i, endpoint, body)[1].decode()}\n")


# ---------------------------------------------------------------- serving

def check_calls(calls, reqs, ranker):
    bad = []
    for c in calls:
        reason = c.error or oracle.check_reply(
            ranker, c.endpoint, reqs[c.index % len(reqs)][1], c.status, c.reply)
        if reason:
            bad.append((c.index, reason))
    return bad


def wait_ready(server, ports, reqs, ranker, deadline):
    """Poll until request 0 of the sequence comes back correct."""
    endpoint, body = reqs[0]
    while time.perf_counter() < deadline:
        if server.poll() is not None:
            raise Fail(f"ServeMain exited with code {server.returncode}")
        call = client.send({}, ports, 0, endpoint, body, 30)
        if not call.error:
            reason = oracle.check_reply(ranker, endpoint, body, call.status, call.reply)
            if reason:
                raise Fail(f"first response wrong: {reason}")
            return
        time.sleep(0.05)
    raise Fail("server did not answer in time")


def closed_loop(ports, reqs, seconds):
    """Warm-up, then the timed window (extended until it holds enough
    calls for the tail percentile). Returns (warm calls, window calls,
    window seconds). The warm-up is a call count, not a time: latency
    keeps falling as the JVM compiles the request path, and a fixed
    count starts every run's window at the same point of that curve."""
    load = client.Load(ports, reqs, CLIENTS)
    warm = load.run(calls=WARMUP_CALLS)
    window, wall = [], 0.0
    while True:
        t = time.perf_counter()
        window += load.run(seconds if not window else 1.0)
        wall += time.perf_counter() - t
        if len(window) >= MIN_WINDOW_CALLS or wall > 4 * seconds:
            return warm, window, wall


def latency_summary(calls, wall, failed):
    ms = [c.ms for c in calls]
    out = {"p50_ms": stats.median(ms), "tail_ms": stats.percentile(ms, TAIL_Q),
           "throughput_per_s": (len(calls) - failed) / wall}
    for ep in ("search", "mcp"):
        sel = [c.ms for c in calls if c.endpoint == ep]
        out[f"{ep}_p50_ms"] = stats.median(sel) if sel else None
        try:
            q, v = stats.highest_percentile(sel)
            out[f"{ep}_p{q}_ms"] = v
        except ValueError:
            pass
        out[f"{ep}_attempted"] = len(sel)
    return out


def search_small(run):
    seed, seconds, traced = run.args.seed, run.args.seconds, run.args.trace
    docs = gen.documents()
    _, vecs = gen.embeddings()
    corpus = gen.small_corpus(docs, vecs)
    raw = run.path("raw_layers.parquet")
    pq.write_table(gen.shuffled(corpus.raw_table(), seed), raw)
    reqs = gen.requests(seed, docs.column("text").to_pylist(), N_REQUESTS)
    ranker = oracle.Ranker(corpus)
    layers = run.path("layers")
    bin_dir = os.path.join(run.root, "dist", "bin")

    t0 = time.perf_counter()
    ingest = run.spawn([os.path.join(bin_dir, "graft-ingest"), raw, layers, str(gen.SMALL_DIM)],
                       "ingest", stdout=run.logfile("ingest.out"))
    if ingest.wait(STARTUP_LIMIT_S) != 0:
        raise Fail("IngestMain failed")
    t1 = time.perf_counter()
    ports = dict(zip(("search", "mcp"), free_ports(2)))
    server = run.spawn([os.path.join(bin_dir, "graft-serve"), layers,
                        str(ports["search"]), str(ports["mcp"])],
                       "serve", stdout=run.logfile("serve.out"))
    wait_ready(server, ports, reqs, ranker, t0 + STARTUP_LIMIT_S)
    t2 = time.perf_counter()
    warm, window, wall = closed_loop(ports, reqs, seconds)
    rss = vm_hwm_mb(server.pid)
    stop(server)

    bad = check_calls(warm + window, reqs, ranker)
    bad_window = {i for i, _ in bad} & {c.index for c in window}
    summary = latency_summary(window, wall, len(bad_window))
    record = {"setup_s": t2 - t0, "ingest_s": t1 - t0, "boot_s": t2 - t1, "rss_peak_mb": rss,
              "warmup_calls": len(warm), "window_calls": len(window), "window_s": wall,
              "failed_calls": bad[:5], **summary}
    result = {"correct": not bad, "attempted": len(window), "failed": len(bad_window)}
    if not traced:
        result["metrics"] = {
            "setup_s": (record["setup_s"], "s"), "p50_ms": (summary["p50_ms"], "ms"),
            "tail_ms": (summary["tail_ms"], "ms"),
            "throughput_per_s": (summary["throughput_per_s"], "1/s")}
        return result, record

    # traced: replay the same calls in the benchmark's JVM, layer by layer
    spans = [{"name": f"client.{c.endpoint}", "request": f"req-{c.index}",
              "start_s": c.start, "end_s": c.end, "parent": None} for c in warm + window]
    req_file = run.path("requests.tsv")
    write_requests(req_file, reqs, len(warm) + len(window))
    probe_docs = run.path("probe_docs")
    os.makedirs(probe_docs)
    pq.write_table(docs.slice(0, PROBE_DOCS), os.path.join(probe_docs, "documents.parquet"))
    jvm_spans = run.path("jvm_spans.jsonl")
    proc = run.spawn(run.bench_cmd(
        "replay", "--layers", layers, "--requests", req_file, "--warm", len(warm),
        "--count", len(window), "--clients", CLIENTS, "--spans", jvm_spans,
        "--docs", probe_docs, "--out", run.path("probe_keepers")),
        "replay", stdout=subprocess.PIPE, text=True)
    out, _ = proc.communicate(timeout=170)
    if proc.returncode != 0:
        raise Fail("replay JVM failed")
    recs = pb_records(out.splitlines())
    layer, replay_bad = layer_metrics(recs, window, ranker, reqs, PROBE_DOCS)
    layer.update({
        "ingest.run_s": (t1 - t0, "s"),
        "ingest.bytes_written_per_input_byte": (dir_bytes(layers) / dir_bytes(raw), "ratio"),
        "boot.ready_s": (t2 - t1, "s"),
        "jvm.rss_peak_mb": (rss, "MB"),
        "traced.p50_ms": (summary["p50_ms"], "ms"), "traced.tail_ms": (summary["tail_ms"], "ms"),
        "traced.throughput_per_s": (summary["throughput_per_s"], "1/s"),
        "traced.search_p50_ms": (summary["search_p50_ms"], "ms"),
        "traced.mcp_p50_ms": (summary["mcp_p50_ms"], "ms")})
    save_trace(run, spans, jvm_spans)
    result["correct"] = result["correct"] and not replay_bad
    result["failed"] += len(replay_bad)
    record["replay_failures"] = replay_bad[:5]
    result["metrics"] = layer
    return result, record


# ---------------------------------------------------------------- layers

def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def spark_metrics(counters):
    """Per-operation means of the listener's counters."""
    c = [x for x in counters if x]
    mb = 1048576.0
    return {
        "spark.jobs_per_op": (mean([x["jobs"] for x in c]), "count"),
        "spark.stages_per_op": (mean([x["stages"] for x in c]), "count"),
        "spark.tasks_per_op": (mean([x["tasks"] for x in c]), "count"),
        "spark.sched_delay_ms": (mean([x["sched_delay_ms"] for x in c]), "ms"),
        "spark.task_run_ms": (mean([x["task_run_ms"] for x in c]), "ms"),
        "spark.gc_ms": (mean([x["gc_ms"] for x in c]), "ms"),
        "spark.shuffle_write_mb": (mean([x["shuffle_write_bytes"] for x in c]) / mb, "MB"),
        "spark.shuffle_read_mb": (mean([x["shuffle_read_bytes"] for x in c]) / mb, "MB"),
        "spark.spill_mb": (mean([x["spill_bytes"] for x in c]) / mb, "MB")}


def search_layers(recs, calls, ranker, reqs):
    """Serve, embed, search and function metrics from a replay, plus the
    replay's own failures. `calls` are the HTTP calls it replays."""
    replayed = [r for r in recs if r["kind"] == "req"]
    ok = [r for r in replayed if "failed" not in r and r.get("error") is None]
    bad = [(r["i"], r.get("failed") or r.get("error")) for r in replayed if r not in ok]
    for r in ok:
        body = reqs[r["i"] % len(reqs)][1]
        reason = ranker.check_page(body, [ranker.row(i) for i in r["ids"]])
        if reason:
            bad.append((r["i"], "replay: " + reason))
    http_ms = {c.index: c.ms for c in calls}
    med = lambda key: stats.median([r[key] for r in ok])  # noqa: E731
    mcp = [r["markdown_us"] for r in ok if r["endpoint"] == "mcp"]
    returned = sum(r["rows_returned"] for r in ok)
    over = next(r for r in recs if r["kind"] == "overhead")
    fn = next(r for r in recs if r["kind"] == "functions")
    lay = next(r for r in recs if r["kind"] == "layers")
    out = {
        "serve.parse_us": (med("parse_us"), "us"),
        "serve.decode_us": (med("decode_us"), "us"),
        "serve.render_us": (med("render_us"), "us"),
        "serve.markdown_us": (stats.median(mcp) if mcp else 0.0, "us"),
        "serve.wait_ms": (stats.median([http_ms[r["i"]] - r["total_ms"] for r in ok
                                        if r["i"] in http_ms]), "ms"),
        "embed.query_us": (med("embed_us"), "us"),
        "search.plan_us": (med("plan_us"), "us"),
        "search.analysis_ms": (mean([r["analysis_ms"] for r in ok]), "ms"),
        "search.optimization_ms": (mean([r["optimization_ms"] for r in ok]), "ms"),
        "search.planning_ms": (mean([r["planning_ms"] for r in ok]), "ms"),
        "search.execute_ms": (med("execute_ms"), "ms"),
        "search.rows_scanned_per_result": (
            sum(r["rows_scanned"] for r in ok) / max(1, returned), "ratio"),
        "functions.cosine_rows_per_s": (stats.median(fn["cosine_rows_per_s"]), "1/s"),
        "functions.intersects_rows_per_s": (stats.median(fn["intersects_rows_per_s"]), "1/s"),
        "boot.cache_mb": (lay["cache_mb"], "MB"),
        "trace.overhead_pct": (
            100.0 * (stats.median(over["traced_ms"]) / stats.median(over["plain_ms"]) - 1), "%")}
    return out, [r["spark"] for r in ok], bad


def dedup_layers(passes, n_docs, candidates):
    """Dedup, LSH and write metrics: medians over the given passes."""
    op = lambda name: stats.median([p["op_seconds"][name] for p in passes])  # noqa: E731
    scans = {name: mean([p["spark"][name]["records_read"] / n_docs for p in passes])
             for name in ("d2", "d4", "v8")}
    pairs = len(passes[-1]["results"]["v8"]["rows"])
    return {
        "dedup.jaccard_s": (op("d2"), "s"), "dedup.simhash_s": (op("d4"), "s"),
        "knn.lsh_s": (op("v8"), "s"), "dedup.clusters_s": (op("clusters"), "s"),
        "batch.write_s": (op("write"), "s"),
        "batch.input_scans_d2": (scans["d2"], "ratio"),
        "batch.input_scans_d4": (scans["d4"], "ratio"),
        "batch.input_scans_v8": (scans["v8"], "ratio"),
        "knn.lsh_candidates": (candidates, "count"), "knn.lsh_pairs": (pairs, "count"),
        "knn.lsh_yield": (pairs / max(1, candidates), "ratio")}


def layer_metrics(recs, calls, ranker, reqs, probe_docs):
    """Per-layer metrics of a search replay followed by a dedup probe,
    and the replay's failures."""
    out, counters, bad = search_layers(recs, calls, ranker, reqs)
    out.update(spark_metrics(counters))
    passes = [r for r in recs if r["kind"] == "pass"]
    cand = next(r for r in recs if r["kind"] == "lsh")["candidates"]
    out.update(dedup_layers(passes, probe_docs, cand))
    return out, bad


def save_trace(run, client_spans, jvm_spans_file):
    """Keep the run's spans under the work directory's traces/."""
    d = os.path.join(run.work_root, "traces")
    os.makedirs(d, exist_ok=True)
    name = os.path.join(d, f"{run.args.workload}-seed{run.args.seed}.jsonl")
    with open(name, "w") as out:
        for s in client_spans:
            out.write(json.dumps(s) + "\n")
        if os.path.isfile(jvm_spans_file):
            with open(jvm_spans_file) as fh:
                shutil.copyfileobj(fh, out)
    log(f"spans written to {name}")


# ---------------------------------------------------------------- batch

def cached_oracle(run, sql, docs, data_dir):
    """DuckDB oracle results over `data_dir`, kept in the work directory
    per (SQL, documents content). The statements do not depend on row
    order, so every seed's shuffle of the one documents table shares them."""
    h = hashlib.sha1(json.dumps(sql, sort_keys=True).encode())
    h.update(json.dumps(docs.to_pydict(), sort_keys=True).encode())
    path = os.path.join(run.work_root, "oracle", h.hexdigest() + ".json")
    if os.path.isfile(path):
        with open(path) as fh:
            return {k: (c, [tuple(r) for r in rows]) for k, (c, rows) in json.load(fh).items()}
    out = oracle.duckdb_oracle(sql, data_dir)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def batch_dedup(run):
    seed, seconds, traced = run.args.seed, run.args.seconds, run.args.trace
    docs = gen.documents()
    emb, vecs = gen.embeddings()
    data = run.path("data")
    os.makedirs(data)
    pq.write_table(gen.shuffled(docs, seed), os.path.join(data, "documents.parquet"))
    pq.write_table(gen.shuffled(emb, seed), os.path.join(data, "embeddings.parquet"))
    keepers = run.path("keepers")
    args = ["batch", "--docs", data, "--out", keepers, "--seconds", seconds]
    reqs = corpus = None
    if traced:
        corpus = gen.small_corpus(docs, vecs)
        raw = run.path("raw_layers.parquet")
        pq.write_table(gen.shuffled(corpus.raw_table(), seed), raw)
        reqs = gen.requests(seed, docs.column("text").to_pylist(), N_REQUESTS)
        req_file = run.path("requests.tsv")
        write_requests(req_file, reqs, 2000)
        args += ["--trace", 1, "--spans", run.path("jvm_spans.jsonl"), "--probe-raw", raw,
                 "--probe-layers", run.path("probe_layers"), "--dim", gen.SMALL_DIM,
                 "--requests", req_file, "--clients", CLIENTS]
    proc = run.spawn(run.bench_cmd(*args), "batch", stdout=subprocess.PIPE,
                     stdin=subprocess.PIPE, text=True)
    lines, calls, warm_n = [], [], 0
    for line in proc.stdout:
        lines.append(line)
        if line.startswith("PB ") and json.loads(line[3:])["kind"] == "serving":
            rec = json.loads(line[3:])
            ports = {"search": rec["search_port"], "mcp": rec["mcp_port"]}
            load = client.Load(ports, reqs, CLIENTS)
            warm = load.run(calls=WARMUP_CALLS)
            calls = load.run(PROBE_SECONDS)
            warm_n = len(warm)
            proc.stdin.write(f"{warm_n} {len(calls)}\n")
            proc.stdin.flush()
    if proc.wait(60) != 0:
        raise Fail("batch JVM failed")
    recs = pb_records(lines)
    passes = [r for r in recs if r["kind"] == "pass"]
    setup = next(r for r in recs if r["kind"] == "setup")["seconds"]
    done = next(r for r in recs if r["kind"] == "done")
    sql = next(r for r in recs if r["kind"] == "oracle")["sql"]
    warm_passes = [p for p in passes if p["pass"] >= 1]

    # outside the timed window: every pass against the DuckDB oracle, and
    # the written keepers against the oracle's clusters
    t = time.perf_counter()
    expected = cached_oracle(run, sql, docs, data)
    d2 = expected["d2"]
    expected["clusters"] = (["doc_id", "keeper"], oracle.keepers(
        [(r[d2[0].index("id1")], r[d2[0].index("id2")]) for r in d2[1]]))
    bad = {p["pass"]: oracle.check_pass(p["results"], expected) for p in passes}
    dropped = {r[0] for r in expected["clusters"][1] if r[0] != r[1]}
    kept = set(pq.read_table(keepers, columns=["doc_id"]).column("doc_id").to_pylist())
    if kept != set(docs.column("doc_id").to_pylist()) - dropped:
        bad[passes[-1]["pass"]].append("written keepers differ from the oracle's")
    failed = sum(1 for v in bad.values() if v)
    pass_s = [p["seconds"] for p in warm_passes]
    record = {"setup_s": setup, "passes": len(passes), "warm_pass_s": pass_s,
              "op_s": [p["op_seconds"] for p in passes],
              "oracle_s": time.perf_counter() - t, "rss_peak_mb": done["rss_peak_mb"],
              "failures": {k: v for k, v in bad.items() if v}}
    result = {"correct": failed == 0, "attempted": len(passes), "failed": failed}
    summary = {"p50_ms": 1000 * stats.median(pass_s), "tail_ms": 1000 * max(pass_s),
               "throughput_per_s": gen.N_DOCS / stats.median(pass_s)}
    if not traced:
        result["metrics"] = {
            "setup_s": (setup, "s"), "p50_ms": (summary["p50_ms"], "ms"),
            "tail_ms": (summary["tail_ms"], "ms"),
            "throughput_per_s": (summary["throughput_per_s"], "1/s")}
        return result, record

    ranker = oracle.Ranker(corpus)
    http_bad = check_calls(calls, reqs, ranker)
    search, req_counters, replay_bad = search_layers(recs, calls, ranker, reqs)
    cand = next(r for r in recs if r["kind"] == "lsh")["candidates"]
    layer = dedup_layers(warm_passes, gen.N_DOCS, cand)
    layer.update(search)
    layer.update(spark_metrics([c for p in warm_passes for c in p["spark"].values()]))
    probe = latency_summary(calls, PROBE_SECONDS, len(http_bad)) if len(calls) >= MIN_WINDOW_CALLS \
        else {"search_p50_ms": stats.median([c.ms for c in calls if c.endpoint == "search"]),
              "mcp_p50_ms": stats.median([c.ms for c in calls if c.endpoint == "mcp"])}
    layer.update({
        "ingest.run_s": (next(r for r in recs if r["kind"] == "ingest")["seconds"], "s"),
        "ingest.bytes_written_per_input_byte": (
            dir_bytes(run.path("probe_layers")) / dir_bytes(run.path("raw_layers.parquet")), "ratio"),
        "boot.ready_s": (next(r for r in recs if r["kind"] == "serving")["boot_seconds"], "s"),
        "jvm.rss_peak_mb": (done["rss_peak_mb"], "MB"),
        "traced.p50_ms": (summary["p50_ms"], "ms"), "traced.tail_ms": (summary["tail_ms"], "ms"),
        "traced.throughput_per_s": (summary["throughput_per_s"], "1/s"),
        "traced.search_p50_ms": (probe["search_p50_ms"], "ms"),
        "traced.mcp_p50_ms": (probe["mcp_p50_ms"], "ms")})
    save_trace(run, [{"name": f"client.{c.endpoint}", "request": f"req-{c.index}",
                      "start_s": c.start, "end_s": c.end, "parent": None} for c in calls],
               run.path("jvm_spans.jsonl"))
    probe_bad = http_bad + replay_bad
    record["probe_failures"] = probe_bad[:5]
    result["correct"] = result["correct"] and not probe_bad
    result["failed"] += len(probe_bad)
    result["metrics"] = layer
    return result, record


# ---------------------------------------------------------------- main

WORKLOADS = {"search_small": search_small, "batch_dedup": batch_dedup}


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def fs_type(path):
    best, kind = "", "?"
    with open("/proc/mounts") as fh:
        for line in fh:
            _, mount, fstype = line.split()[:3]
            if os.path.abspath(path).startswith(mount) and len(mount) > len(best):
                best, kind = mount, fstype
    return kind


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    run = None
    try:
        require_checkout(root)
        os.makedirs(os.path.join(root, WORK), exist_ok=True)
        build(root, os.path.join(root, WORK))
        run = Run(root, args)
        load_before = loadavg()
        result, record = WORKLOADS[args.workload](run)
        record.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                       "clients": CLIENTS, "loadavg_before": load_before,
                       "loadavg_after": loadavg(), "work_fs": fs_type(run.dir)})
    except Fail as e:
        log(f"failed: {e}")
        if run is not None:
            for name in sorted(os.listdir(run.path("logs"))):
                with open(run.path("logs", name), errors="replace") as fh:
                    tail = fh.readlines()[-5:]
                log(f"{name}: " + "".join(tail).strip())
        sys.exit(1)
    finally:
        if run is not None:
            run.close()
    print("record " + json.dumps(record, default=str))
    for name, (value, unit) in result["metrics"].items():
        print(f"{name} = {value:.6g} {unit}")
    result["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
