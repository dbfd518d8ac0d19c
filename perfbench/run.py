#!/usr/bin/env python3
"""The repository's benchmark: served search and the batch pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  search_mixed    traffic of independent users and agents against
                  graft.serve.ServeMain (POST /search and MCP tools/call): a
                  saturating closed loop measures capacity (throughput_per_s),
                  then an open loop at a fixed rate gives latency_p50_ms
  search_paging   closed-loop agents paging through results, each session
                  ending in a deep page (Search.deepPage)
  batch_pipeline  ingest plus a fixed list of SparkEntry queries into the
                  noop sink, in one JVM configured like graft.Bench

The first run builds the program and the harness with sbt (perfbench/build.sbt
compiles the repository root as a source dependency) and caches the
classpaths in perfbench/out/build.json; later runs start plain `java`.
Every input is generated from --seed. Outputs are checked outside the timed
region. The last stdout line is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). A run record and, for traced runs, the per-layer report and
the spans are written under perfbench/out/.
"""
import argparse
import hashlib
import http.client
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
OUT = HERE / "out"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

SERVE_ROWS = 20_000            # layers in the serve corpus
MIXED_RATE_RPS = 3.0           # open-loop rate: about a third of the capacity phase's median on
                               # the seed commit (8.0-9.8 req/s over seed sets 401-410 and 421-425,
                               # 4 cores); at half (4.5), p50 spread over 10 seeds reached 22.8%
CAPACITY_REQUESTS = 48         # search_mixed's timed saturating closed loop at nproc connections
PAGING_SESSIONS_PER_S = 0.8    # fixed paging work per run: 8 sessions at the default run length
WARMUP_REQUESTS = 48           # closed-loop requests after readiness, before timing
BATCH_SF = 0.03                # scale of the batch tables (0.1 = the repo's sf0.1 shape)
INGEST_ROWS = 1_000            # rows of the layers GeoParquet ingested per pass
# --tiny: smoke-test sizes for the benchmark's own tests
TINY = {"SERVE_ROWS": 2_000, "WARMUP_REQUESTS": 4, "CAPACITY_REQUESTS": 8, "BATCH_SF": 0.005,
        "INGEST_ROWS": 200}
BATCH_QUERIES = [
    "x1_reference_search", "x5_sql_reference_search", "v1w_knn_1024",
    "v3w_knn_join_1024", "v7_ivf_knn", "v8_lsh_near_dup",
    "d2_jaccard_near_dup", "s8_polygon_overlap_join", "x18_multimodal_curation",
]
# bench-only 1024-dim variants are checked with their 64-dim gate sibling's
# oracle: tiling a vector x16 leaves every cosine ordering unchanged
ORACLE_SIBLING = {"v1w_knn_1024": "v1_knn_top10", "v3w_knn_join_1024": "v3_knn_join"}

E2E_METRICS = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "1/s", "cpu_ms_per_op": "ms"}
LAYER_METRICS = {
    "serve.decode_ms": "ms", "embed.query_ms": "ms", "search.plan_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "exec.collect_ms": "ms", "serve.encode_ms": "ms",
    "serve.markdown_ms": "ms", "serve.http_ms": "ms", "search.deep_page_ms": "ms",
    "exec.jobs_per_req": "count", "exec.stages_per_req": "count",
    "exec.tasks_per_req": "count", "exec.task_run_ms_per_req": "ms",
    "exec.task_cpu_ms_per_req": "ms", "exec.task_wait_ms": "ms",
    "exec.gc_ms_per_req": "ms", "exec.shuffle_write_bytes_per_req": "bytes",
    "search.rows_scanned_per_req": "count", "search.rows_ranked_per_req": "count",
    "search.rows_returned_per_req": "count", "exec.core_busy_share": "ratio",
    "loadgen.late_p95_ms": "ms", "setup.session_s": "s", "setup.corpus_s": "s",
    "setup.cache_mb": "MB", "setup.stage_s": "s", "setup.stage_cold_s": "s",
    "memory.peak_rss_mb": "MB", "ingest.s": "s",
    "ingest.rows": "count", "ingest.bytes_written": "bytes",
    **{f"batch.{q}_s": "s" for q in BATCH_QUERIES},
    "batch.jobs": "count", "batch.tasks": "count", "batch.task_run_s": "s",
    "batch.task_cpu_s": "s", "batch.shuffle_write_mb": "MB",
    "batch.shuffle_read_mb": "MB", "batch.spill_mb": "MB", "batch.gc_s": "s",
    "batch.catalyst_s": "s",
}
# per-layer metrics of layers that do no work in the other kind of workload
BATCH_ONLY = {k for k in LAYER_METRICS if k.startswith(("batch.", "ingest.", "setup.stage"))}
SERVE_ONLY = set(LAYER_METRICS) - BATCH_ONLY - {"setup.session_s", "memory.peak_rss_mb"}


def not_applicable(workload):
    """Per-layer metrics a workload does not produce; printed as 0 so that
    every traced run prints every metric. Any other missing metric is an error."""
    if workload == "batch_pipeline":
        return SERVE_ONLY
    # no deep pages in the mixed stream; no schedule in the paging closed loop
    return BATCH_ONLY | {"search.deep_page_ms" if workload == "search_mixed" else "loadgen.late_p95_ms"}


def layer_values(workload, measured):
    """Every per-layer metric's value: 0 where not applicable to the
    workload; a metric the workload should have measured and did not is an error."""
    na = not_applicable(workload)
    missing = sorted(set(LAYER_METRICS) - na - set(measured))
    if missing:
        raise SystemExit(f"perfbench: traced run measured no {', '.join(missing)}")
    return {k: 0.0 if k in na else measured[k] for k in LAYER_METRICS}


CHILDREN = []  # every process this run starts; stopped on any exit


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def stop_children():
    for p in CHILDREN:
        if p.poll() is None:
            p.terminate()
    for p in CHILDREN:
        try:
            p.wait(timeout=15)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def _on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [REPO / "src" / "main", HERE / "src"]
    files = [REPO / "build.sbt", REPO / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_build():
    """Compile program and harness once per source state; return build.json."""
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main").is_dir():
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main) are "
                         "not beside perfbench/; run from a full checkout")
    stamp = _source_stamp()
    build_json, stamp_file = OUT / "build.json", OUT / "build.stamp"
    if build_json.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return json.loads(build_json.read_text())
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM="4g")  # the heap the serving image ships
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness with sbt")
    with open(OUT / "build.log", "w") as lf:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "perfbenchExport"],
                             cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        CHILDREN.append(p)
        if p.wait() != 0:
            raise SystemExit(f"perfbench: sbt build failed, see {OUT / 'build.log'}")
    stamp_file.write_text(stamp)
    return json.loads(build_json.read_text())


def java_cmd(build, classpath_key, main, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java"] + build["java_options"] +
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(build[classpath_key]), main] + [str(a) for a in args])


def java_env(work):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"),
               GRAFT_FIXTURE_DIR=str(work))
    return env


def run_java(build, key, main, args, work, name):
    with open(work / f"{name}.out", "w") as o, open(work / f"{name}.err", "w") as e:
        p = subprocess.Popen(java_cmd(build, key, main, args, work), env=java_env(work),
                             stdout=o, stderr=e, stdin=subprocess.DEVNULL)
        CHILDREN.append(p)
        rc = p.wait()
    if rc != 0:
        tail = (work / f"{name}.err").read_text()[-3000:]
        raise SystemExit(f"perfbench: {main} exited {rc}\n{tail}")


# ---------------------------------------------------------------- stats

def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def cpu_jiffies():
    """(busy, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7] if len(v) > 7 else 0


def proc_cpu_ms(pid):
    """User plus system CPU time of a process so far, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000.0 / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


# ---------------------------------------------------------------- serving

class Client:
    """One keep-alive connection per endpoint; sends /search or MCP tools/call."""

    def __init__(self, http_port, mcp_port):
        self.conns = {"http": http.client.HTTPConnection("127.0.0.1", http_port, timeout=120),
                      "mcp": http.client.HTTPConnection("127.0.0.1", mcp_port, timeout=120)}

    def send(self, via, body, rpc_id):
        if via == "mcp":
            path, payload = "/mcp", {"jsonrpc": "2.0", "id": rpc_id, "method": "tools/call",
                                     "params": {"name": "gis_layer_search", "arguments": body}}
        else:
            path, payload = "/search", body
        data = json.dumps(payload).encode()
        conn = self.conns[via]
        try:
            conn.request("POST", path, data, {"Content-Type": "application/json"})
            r = conn.getresponse()
            return r.status, r.read(), None
        except (OSError, http.client.HTTPException) as e:
            conn.close()
            return 0, None, f"{type(e).__name__}: {e}"

    def close(self):
        for c in self.conns.values():
            c.close()


class Server:
    """graft.serve.ServeMain in its own JVM, on ephemeral ports."""

    def __init__(self, build, corpus, work):
        self.work = work
        t0 = time.perf_counter()
        self.err = open(work / "server.err", "w")
        self.proc = subprocess.Popen(
            java_cmd(build, "program_classpath", "graft.serve.ServeMain", [corpus, 0, 0], work),
            env=java_env(work), stdout=subprocess.PIPE, stderr=self.err,
            stdin=subprocess.DEVNULL, text=True)
        CHILDREN.append(self.proc)
        line = self._ready_line(timeout=150)
        self.setup_s = time.perf_counter() - t0
        # "[serve] /search on <port>, /mcp on <port>; corpus <n> layers, dim <d>"
        self.http_port = int(line.split("/search on ")[1].split(",")[0])
        self.mcp_port = int(line.split("/mcp on ")[1].split(";")[0])
        self.ready_line = line.strip()

    def _ready_line(self, timeout):
        box = []
        t = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()), daemon=True)
        t.start()
        t.join(timeout)
        if not box or not box[0].startswith("[serve]"):
            self.stop()
            tail = (self.work / "server.err").read_text()[-3000:]
            raise SystemExit(f"perfbench: server not ready: {box[:1]}\n{tail}")
        return box[0]

    def peak_rss_mb(self):
        return vm_hwm_mb(self.proc.pid)

    def stop(self):
        # the server's handler pools are non-daemon: it never exits by itself
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.err.close()


def closed_loop(server, jobs, conc):
    """Run `jobs` (lists of (via, body), each list in order) on `conc`
    connections; a connection sends its next request after the previous
    reply. Returns the records in completion order and the time the first
    connection found no job left, which ends the window where all `conc`
    were busy."""
    it = iter(jobs)
    lock = threading.Lock()
    records, idle = [], []

    def agent():
        c = Client(server.http_port, server.mcp_port)
        while True:
            with lock:
                job = next(it, None)
            if job is None:
                idle.append(time.perf_counter())
                break
            for via, body in job:
                t = time.perf_counter()
                status, raw, err = c.send(via, body, len(records))
                done = time.perf_counter()
                with lock:
                    records.append({"via": via, "body": body, "status": status, "raw": raw,
                                    "error": err, "start": t, "end": done,
                                    "latency_ms": (done - t) * 1e3})
        c.close()

    threads = [threading.Thread(target=agent, daemon=True) for _ in range(conc)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, min(idle)


def saturated_throughput(records, t0, first_idle):
    """Successful requests per second while every connection was busy; the
    tail, where fewer connections have work, is left out."""
    ok = [r["end"] for r in records if r["status"] == 200]
    end = first_idle if any(e <= first_idle for e in ok) else max(ok)
    return sum(1 for e in ok if e <= end) / (end - t0)


def open_loop(server, stream, conc):
    """Send `stream` [(due_s, via, body)] on its schedule with at most `conc`
    requests in flight; a request due while all are busy waits here, and
    its latency counts from when it was due."""
    q = queue.Queue()
    records = [None] * len(stream)
    late = []

    def worker():
        c = Client(server.http_port, server.mcp_port)
        while True:
            item = q.get()
            if item is None:
                break
            i, due, via, body = item
            t = time.perf_counter()
            status, raw, err = c.send(via, body, i)
            done = time.perf_counter()
            records[i] = {"via": via, "body": body, "status": status, "raw": raw, "error": err,
                          "start": t, "end": done, "due": due, "latency_ms": (done - due) * 1e3}
        c.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(conc)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.05
    for i, (due_s, via, body) in enumerate(stream):
        due = t0 + due_s
        wait = due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        late.append((time.perf_counter() - due) * 1e3)
        q.put((i, due, via, body))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()
    return records, late, t0


def paging_sessions_for(seconds):
    """Sessions per paging run: fixed work sized to take about `seconds`, so
    every run offers the same mix of shallow and deep pages."""
    return max(1, round(PAGING_SESSIONS_PER_S * seconds))


def one_request_jobs(stream):
    return [[(via, body)] for _, via, body in stream]


def serve_warmup(server, workload, seed, conc):
    warm = gen.warmup_stream(seed, WARMUP_REQUESTS, deep=workload == "search_paging")
    closed_loop(server, one_request_jobs(warm), conc)


def write_results(records, path):
    with open(path, "w") as f:
        for i, r in enumerate(records):
            resp = None
            if r["raw"] is not None:
                try:
                    resp = json.loads(r["raw"])
                except ValueError:
                    resp = None
            f.write(json.dumps({"i": i, "via": r["via"], "body": r["body"], "status": r["status"],
                                "latency_ms": r["latency_ms"],
                                "service_ms": (r["end"] - r["start"]) * 1e3 if "end" in r else None,
                                "response": resp, "error": r["error"]}) + "\n")


def check_serve(build, work, corpus_dir, records):
    write_results(records, work / "results.jsonl")
    run_java(build, "bench_classpath", "graft.perfbench.Check",
             [corpus_dir, work / "results.jsonl", work / "check.json"], work, "check")
    return json.loads((work / "check.json").read_text())


def prepare_serve_inputs(work, seed):
    corpus_dir = work / "corpus"
    corpus_dir.mkdir(parents=True)
    c = gen.corpus(seed, SERVE_ROWS)
    gen.write_corpus(c, corpus_dir / "layers.parquet")
    gen.write_sidecar(c, corpus_dir)
    return corpus_dir


def run_serve(build, workload, seed, seconds, work, record):
    nproc = os.cpu_count()
    phase = record.setdefault("phase_s", {})
    t = time.perf_counter()
    corpus_dir = prepare_serve_inputs(work, seed)
    phase["inputs"] = time.perf_counter() - t
    server = Server(build, corpus_dir / "layers.parquet", work)
    try:
        t = time.perf_counter()
        serve_warmup(server, workload, seed, nproc)
        phase["warmup"] = time.perf_counter() - t
        cpu0 = proc_cpu_ms(server.proc.pid)
        if workload == "search_mixed":
            # the program's capacity for this mix: a saturating closed loop of
            # CAPACITY_REQUESTS shallow requests, then the open loop at the fixed rate
            t0 = time.perf_counter()
            cap_records, idle = closed_loop(server, one_request_jobs(
                gen.mixed_stream(seed, 1.0, CAPACITY_REQUESTS, prefix="c")), nproc)
            throughput = saturated_throughput(cap_records, t0, idle)
            phase["capacity"] = max(r["end"] for r in cap_records) - t0
            records, late, t0 = open_loop(server, gen.mixed_stream(seed, MIXED_RATE_RPS, seconds), nproc)
        else:
            sessions = gen.paging_sessions(seed, paging_sessions_for(seconds))
            t0 = time.perf_counter()
            records, idle = closed_loop(server, [[(via, b) for b in pages] for via, pages in sessions],
                                        nproc)
            throughput = saturated_throughput(records, t0, idle)
            cap_records, late = [], []
        wall = max(r["end"] for r in records) - t0
        checked = cap_records + records
        cpu_ms = proc_cpu_ms(server.proc.pid) - cpu0
        phase["measure"] = wall
        peak = server.peak_rss_mb()
    finally:
        t = time.perf_counter()
        server.stop()
        phase["stop"] = time.perf_counter() - t
    t = time.perf_counter()
    check = check_serve(build, work, corpus_dir, checked)
    phase["check"] = time.perf_counter() - t
    wrong = {f["i"] for f in check["failures"]}
    lat = [r["latency_ms"] for r in records]
    record.update(server=server.ready_line, requests=len(checked), wall_s=wall,
                  java_version=check.get("java_version"),
                  loadgen_late_p95_ms=quantile(late, 0.95) if late else None,
                  check={"checked": check["checked"], "failures": check["failures"][:20]})
    record["classes"] = class_counts(checked, wrong, workload == "search_paging")
    deep = [r["latency_ms"] for r in records if r["body"]["skip"] >= gen.DEEP_SKIP[0]]
    record["deep_latency_p50_ms"] = statistics.median(deep) if deep else None
    metrics = {
        "setup_s": server.setup_s,
        "latency_p50_ms": quantile(lat, 0.5),
        "throughput_per_s": throughput,
        "cpu_ms_per_op": cpu_ms / len(checked),
    }
    record.update(peak_rss_mb=peak, latency_p75_ms=quantile(lat, 0.75),
                  latency_p90_ms=quantile(lat, 0.9), latency_requests=len(lat))
    return metrics, len(checked), len(wrong), not wrong


def class_counts(records, wrong, paging):
    out = {}
    for i, r in enumerate(records):
        for c in gen.request_classes(r["body"], r["via"], paging):
            d = out.setdefault(c, {"sent": 0, "succeeded": 0, "failed": 0})
            d["sent"] += 1
            d["failed" if i in wrong else "succeeded"] += 1
    return out


# ---------------------------------------------------------------- batch

def prepare_batch_inputs(work, seed):
    gen_dir = work / "gen"
    gen_dir.mkdir(parents=True)
    gen.batch_tables(seed, gen_dir, BATCH_SF)
    c = gen.corpus(seed, INGEST_ROWS)
    gen.write_corpus(c, work / "ingest_input.parquet")
    return gen_dir


def run_batch_jvm(build, seed, seconds, trace, work):
    gen_dir = prepare_batch_inputs(work, seed)
    run_java(build, "bench_classpath", "graft.perfbench.Batch",
             [work, gen_dir, work / "ingest_input.parquet", seconds, trace,
              os.cpu_count(), work / "batch.json", ",".join(BATCH_QUERIES)], work, "batch")
    return json.loads((work / "batch.json").read_text())


def oracle_check(res):
    """Each query's output against the DuckDB oracle SQL, compared the way
    tools/check.py compares: columns sorted by name, values exact, floats
    within 1e-9."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    sf = res["sf_dir"]
    for t in ("customer", "supplier", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    failures = {}
    for name in BATCH_QUERIES:
        sql = res["oracle_sql"].get(ORACLE_SIBLING.get(name, name))
        if sql is None:
            failures[name] = "no oracle SQL"
            continue
        parts = sorted(Path(res["check_dir"], name).glob("*.parquet"))
        if not parts:
            failures[name] = "no output"
            continue
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        try:
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - report any oracle failure
            failures[name] = f"oracle error: {e}"
            continue
        why = compare_frames(got, want)
        if why:
            failures[name] = why
    return failures


def _cell(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    return tuple(v) if isinstance(v, list) else v


def compare_frames(got, want):
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in cols:
        for k, (a, b) in enumerate(zip(got[c], want[c])):
            a, b = _cell(a), _cell(b)
            if isinstance(a, float) or isinstance(b, float):
                fa, fb = float(a), float(b)
                same = (fa != fa and fb != fb) or abs(fa - fb) <= 1e-9 * max(1.0, abs(fb))
            else:
                same = a == b
            if not same:
                return f"column {c} row {k}: {a!r} vs {b!r}"
    return None


def batch_units(res):
    """Unit times of the first pass (the ingest plus each query of the list)."""
    return list(res["passes"][0].values())


def run_batch(build, seed, seconds, work, record):
    phase = record.setdefault("phase_s", {})
    t = time.perf_counter()
    res = run_batch_jvm(build, seed, seconds, 0, work)
    phase["jvm"] = time.perf_counter() - t
    t = time.perf_counter()
    failures = oracle_check(res)
    phase["check"] = time.perf_counter() - t
    ingest_ok = res["ingest_rows"] == res["ingest_input_keys"]
    if not ingest_ok:
        failures["ingest"] = f"{res['ingest_rows']} rows stored, {res['ingest_input_keys']} keys in"
    for f in res["failures"]:
        failures.setdefault(f.split(":")[0], f)
    units = batch_units(res)
    record.update(passes=len(res["passes"]), pass_s=res["pass_s"], stage_s=res["stage_s"],
                  session_s=res["session_s"], ingest_bytes=res["ingest_bytes"],
                  per_unit_s=res["passes"], check_failures=failures,
                  spark_version=res["spark_version"], java_version=res["java_version"])
    metrics = {
        "setup_s": res["setup_s"],
        "latency_p50_ms": quantile(units, 0.5) * 1e3,
        "throughput_per_s": len(units) / res["pass_s"][0],
        "cpu_ms_per_op": res["pass_cpu_s"][0] * 1e3 / len(units),
    }
    record["peak_rss_mb"] = res["peak_rss_mb"]
    return metrics, res["attempted"], len(failures), not failures


# ---------------------------------------------------------------- traced runs

def write_trace_requests(path, reqs):
    with open(path, "w") as f:
        for r in reqs:
            f.write(json.dumps(r) + "\n")


def run_serve_traced(build, workload, seed, seconds, work, record):
    nproc = os.cpu_count()
    corpus_dir = prepare_serve_inputs(work, seed)
    warm = gen.warmup_stream(seed, WARMUP_REQUESTS, deep=workload == "search_paging")
    if workload == "search_mixed":  # the capacity phase runs untraced, as part of the warm-up
        warm += gen.mixed_stream(seed, 1.0, CAPACITY_REQUESTS, prefix="c")
    write_trace_requests(work / "warmup.jsonl", [
        {"i": 1_000_000 + k, "via": via, "body": body} for k, (_, via, body) in enumerate(warm)])
    if workload == "search_mixed":
        reqs = [{"i": i, "via": via, "due_s": due, "body": body}
                for i, (due, via, body) in enumerate(gen.mixed_stream(seed, MIXED_RATE_RPS, seconds))]
        mode = "open"
    else:
        reqs, i = [], 0
        for sid, (via, pages) in enumerate(gen.paging_sessions(seed, paging_sessions_for(seconds))):
            for body in pages:
                reqs.append({"i": i, "via": via, "session": sid, "body": body})
                i += 1
        mode = "closed"
    write_trace_requests(work / "requests_in.jsonl", reqs)
    trace_dir = work / "trace"
    trace_dir.mkdir()
    run_java(build, "bench_classpath", "graft.perfbench.ServeTrace",
             [corpus_dir / "layers.parquet", work / "warmup.jsonl", work / "requests_in.jsonl",
              mode, nproc, trace_dir], work, "trace")
    reqs = [json.loads(line) for line in open(trace_dir / "requests.jsonl") if line.strip()]
    summary = json.loads((trace_dir / "summary.json").read_text())
    records = []
    for r in reqs:
        records.append({"via": r["via"], "body": json.loads(r["body"]), "status": r["status"],
                        "raw": r["response"] if r["status"] else None,
                        "error": r["error"] or None, "latency_ms": r["latency_ms"]})
    check = check_serve(build, work, corpus_dir, records)
    wrong = {f["i"] for f in check["failures"]}
    metrics, report = serve_layer_metrics(reqs, summary, trace_dir / "spans.jsonl")
    lat = [r["latency_ms"] for r in reqs]
    traced_e2e = {"latency_p50_ms": quantile(lat, 0.5),
                  "setup_s": summary["session_s"] + summary["corpus_s"]}
    record.update(requests=len(reqs), wall_s=summary["wall_s"], traced_e2e=traced_e2e,
                  check={"checked": check["checked"], "failures": check["failures"][:20]},
                  spark_version=summary["spark_version"], java_version=summary["java_version"])
    record["classes"] = class_counts(records, wrong, workload == "search_paging")
    return metrics, report, traced_e2e, len(reqs), len(wrong), not wrong


LAYER_SPANS = ["serve.decode", "embed.query", "search.plan", "catalyst", "exec.collect",
               "serve.encode", "serve.markdown"]


def serve_layer_metrics(reqs, summary, spans_path):
    """Per-request medians of layer self times and Spark counters, plus the
    per-layer report table (self time and share of in-process request time)."""
    by_req = {}
    for line in open(spans_path):
        if line.strip():
            sp = json.loads(line)
            by_req.setdefault(sp["req"], []).append(sp)
    self_ms = {}   # layer -> [self ms per request]
    total = {n: 0.0 for n in LAYER_SPANS + ["request"]}
    for spans in by_req.values():
        child = {}
        for sp in spans:
            child[sp["parent"]] = child.get(sp["parent"], 0) + sp["end_ns"] - sp["start_ns"]
        for sp in spans:
            v = (sp["end_ns"] - sp["start_ns"] - child.get(sp["name"], 0)) / 1e6
            self_ms.setdefault(sp["name"], []).append(v)
            total[sp["name"]] += v
    med = statistics.median  # raises on no samples: a metric is measured or left out
    offset = [r for r in reqs if r["rows_scanned"] >= 0]
    deep = [r for r in reqs if json.loads(r["body"])["skip"] >= gen.DEEP_SKIP[0]]
    deep_ms = [sum((sp["end_ns"] - sp["start_ns"]) / 1e6 for sp in by_req.get(str(r["i"]), [])
                   if sp["name"] in ("search.plan", "exec.collect")) for r in deep]
    m = {
        "serve.decode_ms": med(self_ms.get("serve.decode", [])),
        "embed.query_ms": med(self_ms.get("embed.query", [])),
        "search.plan_ms": med(self_ms.get("search.plan", [])),
        "catalyst.analysis_ms": med([r["phases_ms"].get("analysis", 0) for r in reqs]),
        "catalyst.optimization_ms": med([r["phases_ms"].get("optimization", 0) for r in reqs]),
        "catalyst.planning_ms": med([r["phases_ms"].get("planning", 0) for r in reqs]),
        "exec.collect_ms": med(self_ms.get("exec.collect", [])),
        "serve.encode_ms": med(self_ms.get("serve.encode", [])),
        "serve.markdown_ms": med(self_ms.get("serve.markdown", [])),
        "serve.http_ms": med([r["rt_ms"] - r["chain_ms"] for r in reqs if r["rt_ms"] >= 0]),
        "exec.jobs_per_req": med([r["jobs"] for r in reqs]),
        "exec.stages_per_req": med([r["stages"] for r in reqs]),
        "exec.tasks_per_req": med([r["tasks"] for r in reqs]),
        "exec.task_run_ms_per_req": med([r["task_run_ms"] for r in reqs]),
        "exec.task_cpu_ms_per_req": med([r["task_cpu_ms"] for r in reqs]),
        "exec.task_wait_ms": med([r["task_wait_ms"] for r in reqs]),
        "exec.gc_ms_per_req": med([r["gc_ms"] for r in reqs]),
        "exec.shuffle_write_bytes_per_req": med([r["shuffle_write_bytes"] for r in reqs]),
        "search.rows_scanned_per_req": med([r["rows_scanned"] for r in offset]),
        "search.rows_ranked_per_req": med([r["rows_ranked"] for r in offset]),
        "search.rows_returned_per_req": med([r["rows_returned"] for r in offset]),
        "exec.core_busy_share": summary["busy_ms"] / (summary["wall_s"] * 1e3 * summary["cores"]),
        "setup.session_s": summary["session_s"],
        "setup.corpus_s": summary["corpus_s"],
        "setup.cache_mb": summary["cache_mb"],
        "memory.peak_rss_mb": summary["peak_rss_mb"],
    }
    if deep:
        m["search.deep_page_ms"] = med(deep_ms)
    if summary["late_ms"]:
        m["loadgen.late_p95_ms"] = quantile(summary["late_ms"], 0.95)
    req_total = sum(total[n] for n in total) or 1.0
    rows = [(n, total[n] / len(by_req), total[n] / req_total) for n in LAYER_SPANS]
    rows.append(("unaccounted (request self)", total["request"] / len(by_req),
                 total["request"] / req_total))
    rt = [r["rt_ms"] for r in reqs if r["rt_ms"] >= 0]
    report = {
        "column": "self time (ms)",
        "basis": f"{len(by_req)} timed requests; self time per request (mean) and share of "
                 "the in-process request time",
        "rows": rows,
        "notes": [
            f"HTTP leg through ServeMain.start ({len(rt)} of {len(reqs)} requests): round trip "
            f"median {med(rt):.2f} ms; serve.http_ms (round trip minus the same request's "
            f"in-process time) {m['serve.http_ms']:.2f} ms",
            f"Spark per request (median): {m['exec.jobs_per_req']} jobs, {m['exec.stages_per_req']} "
            f"stages, {m['exec.tasks_per_req']} tasks, {m['exec.task_run_ms_per_req']} ms task run, "
            f"{m['exec.task_cpu_ms_per_req']:.1f} ms task CPU, {m['exec.task_wait_ms']} ms wait",
            f"rows per offset-path request ({len(offset)} requests): scanned "
            f"{m['search.rows_scanned_per_req']}, ranked {m['search.rows_ranked_per_req']}, "
            f"returned {m['search.rows_returned_per_req']}",
            f"deep pages: {len(deep)}" + (f", plan+collect median {m['search.deep_page_ms']:.1f} ms"
                                          if deep else ""),
            f"core busy share {m['exec.core_busy_share']:.3f} = task run time / "
            f"(wall {summary['wall_s']:.2f} s x {summary['cores']} cores), both legs",
        ],
    }
    return m, report


def run_batch_traced(build, seed, seconds, work, record):
    res = run_batch_jvm(build, seed, seconds, 1, work)
    failures = oracle_check(res)
    for f in res["failures"]:
        failures.setdefault(f.split(":")[0], f)
    tr = res["trace"]
    per = tr["per_unit"]
    m = {k: v for k, v in tr.items() if k.startswith("batch.")}
    m.update({f"batch.{q}_s": per[q]["s"] for q in BATCH_QUERIES})
    m.update({"setup.session_s": res["session_s"], "setup.stage_s": statistics.median(res["stage_s"]),
              "setup.stage_cold_s": res["stage_s"][0],
              "memory.peak_rss_mb": res["peak_rss_mb"],
              "ingest.s": per["ingest"]["s"], "ingest.rows": res["ingest_rows"],
              "ingest.bytes_written": res["ingest_bytes"]})
    units = batch_units(res)
    wall = res["pass_s"][0]
    rows = [(u, res["passes"][0][u] * 1e3, res["passes"][0][u] / wall) for u in ["ingest"] + BATCH_QUERIES]
    rows.append(("unaccounted (pass self)", (wall - sum(units)) * 1e3, (wall - sum(units)) / wall))
    report = {
        "column": "time (ms)",
        "basis": f"first pass of {len(res['passes'])}; wall time of each unit (the ingest, which "
                 "is the sources layer, and each query of the queries layer) and its share of the pass",
        "rows": rows,
        "notes": [f"{u}: {per[u]['jobs']:.0f} jobs, {per[u]['tasks']:.0f} tasks, task run "
                  f"{per[u]['task_run_s']:.2f} s, CPU {per[u]['task_cpu_s']:.2f} s, shuffle write "
                  f"{per[u]['shuffle_write_mb']:.2f} MB, catalyst {per[u]['catalyst_s'] * 1e3:.0f} ms"
                  for u in ["ingest"] + BATCH_QUERIES],
    }
    traced_e2e = {"latency_p50_ms": quantile(units, 0.5) * 1e3, "setup_s": res["setup_s"]}
    record.update(passes=len(res["passes"]), pass_s=res["pass_s"], check_failures=failures,
                  traced_e2e=traced_e2e, spark_version=res["spark_version"],
                  java_version=res["java_version"])
    return m, report, traced_e2e, res["attempted"], len(failures), not failures


# ---------------------------------------------------------------- record, report, main

def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "unknown (not a git checkout)"


def format_report(workload, report, overhead):
    lines = [f"## per-layer report: {workload}", "", report["basis"], "",
             f"| layer | {report['column']} | share |", "|---|---|---|"]
    lines += [f"| {n} | {v:.3f} | {sh:.1%} |" for n, v, sh in report["rows"]]
    lines += [""] + [f"- {n}" for n in report["notes"]]
    lines += [f"- tracing overhead: {overhead}"]
    return "\n".join(lines)


def tracing_overhead(workload, seed, traced_e2e):
    """Traced minus untraced end-to-end numbers, when an untraced run of the
    same workload and seed left its record in this checkout (the latest one)."""
    found = sorted(OUT.glob(f"record_{workload}_seed{seed}_trace0_*.json"))
    if not found:
        return "no untraced run of this workload and seed in this checkout to compare with"
    base = json.loads(found[-1].read_text())["metrics"]
    parts = []
    for k, v in traced_e2e.items():
        if k in base:
            b = base[k]["value"]
            parts.append(f"{k} {v:.2f} traced vs {b:.2f} untraced ({(v - b) / b:+.1%})")
    return "; ".join(parts)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["search_mixed", "search_paging", "batch_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    a = ap.parse_args()
    if a.tiny:
        globals().update(TINY)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        build = ensure_build()
        work = OUT / f"work_{a.workload}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "nproc": os.cpu_count(), "loadavg_start": os.getloadavg()[0],
                  "git_commit": git_commit(),
                  "spark_jar": next((Path(p).name for p in build["program_classpath"]
                                     if Path(p).name.startswith("spark-core")), None)}
        t0 = time.perf_counter()
        j0 = cpu_jiffies()
        if a.trace:
            fn = run_batch_traced if a.workload == "batch_pipeline" else \
                lambda *x: run_serve_traced(x[0], a.workload, *x[1:])
            values, report, traced_e2e, attempted, failed, correct = fn(build, a.seed, a.seconds, work, record)
            units = LAYER_METRICS
            values = layer_values(a.workload, values)
            record["not_applicable"] = sorted(not_applicable(a.workload))
            text = format_report(a.workload, report, tracing_overhead(a.workload, a.seed, traced_e2e))
            (OUT / f"report_{a.workload}.md").write_text(text + "\n")
            print(text)
        else:
            if a.workload == "batch_pipeline":
                values, attempted, failed, correct = run_batch(build, a.seed, a.seconds, work, record)
            else:
                values, attempted, failed, correct = run_serve(build, a.workload, a.seed, a.seconds,
                                                               work, record)
            units = E2E_METRICS
        metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
        j1 = cpu_jiffies()
        busy, steal = j1[0] - j0[0], j1[1] - j0[1]
        record.update(loadavg_end=os.getloadavg()[0], run_s=time.perf_counter() - t0,
                      cpu_steal_share=steal / max(1, busy + steal),
                      attempted=attempted, failed=failed,
                      correct=correct, metrics=metrics)
        # one record per run, never overwritten, so reported figures trace to their runs
        stamp = time.strftime("%Y%m%dT%H%M%S")
        record_path = OUT / f"record_{a.workload}_seed{a.seed}_trace{a.trace}_{stamp}.json"
        record_path.write_text(json.dumps(record, indent=1, default=str))
        for name, m in metrics.items():
            na = " (not applicable to this workload)" if name in record.get("not_applicable", ()) else ""
            print(f"{a.workload} {name} = {m['value']:.4f} {m['unit']}{na}")
        print(f"run record: nproc {record['nproc']}, load {record['loadavg_start']:.2f} -> "
              f"{record['loadavg_end']:.2f}, cpu steal {record['cpu_steal_share']:.1%}, "
              f"commit {record['git_commit']}, "
              f"classes {json.dumps(record.get('classes', {}))}")
        print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        stop_children()


if __name__ == "__main__":
    main()
