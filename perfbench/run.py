#!/usr/bin/env python3
"""Clickstream benchmark for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the benchmark from source with sbt (offline) and caches the result
under `.bench_build/`; later runs reuse it while the sources are
unchanged. Each run starts one JVM with Spark at `local[nproc]`.

Workloads (BENCHMARK.json carries the same list with one line on why
each exists):

  ingest_backlog   closed loop, write-only. One producer connection
                   pushes a seeded backlog of 1 s per-browser buffers
                   (60-125 events each, partition key = browser; 20
                   browsers x --seconds seconds) through
                   ShardService.Client.putRecords; then the kinesis-sim
                   endpoint source -> MouseStream.parse ->
                   aggregate(retainRaw=true) drains it to completion,
                   three times from fresh checkpoints.
  dashboard_live   open loop, reads beside writes. Simulated browsers
                   send one PutRecords a second, poll their per-second
                   counts every 2 s, load their history (reverse) at
                   session start and read the heatmap (reverse,
                   count=false, limit=10) every 10 s, against kinesis-sim
                   -> MouseStream.startToMemory -> QueryEdge. The browser
                   count climbs a ladder (3, then 6; 2 x --seconds each);
                   then one closed-loop reader measures the edge.
  analytics_batch  closed loop, one caller. A fixed, named subset of
                   SparkEntry.queries (mov_sec_counts, q1_pricing,
                   ts_sliding_avg, graph_common_neighbors,
                   dedup_minhash_pairs, knn_brute, ret_bm25) over seeded
                   tables, each materialised through the noop sink, in a
                   seeded order, for at least three passes.

End-to-end metrics (every workload reports each one; the unit of work
differs per workload):

  setup_s           session build + warm-up, median of three set-ups in
                      one run (the first is the JVM's cold start; in
                      analytics it also checks every query's output)
  latency_ms        the latency the workload's user waits on. ingest: the
                      median PutRecords call; dashboard: median
                      freshness, from a window's last event to the end
                      of the first poll that returned the window with
                      its full count; analytics: the geometric mean over
                      the subset of each query's best pass
  throughput_per_s  ingest: events per second of the fastest drain
                      (drain start to last committed batch); dashboard:
                      reads per second one closed-loop reader gets from
                      the edge (1 / median read time) on the table the
                      ladder built; analytics: queries per second over
                      the subset (per-query best of the passes)

Per-layer metrics come from a traced run (--trace 1): the same workload
with spans recorded around every call into a layer, from the
benchmark's side (putRecords, HTTP reads, direct range reads,
SparkEntry queries, and micro-batches from the streaming listener).
Spans are written next to the result under .bench_build/perfbench/.

Output checks (each mismatch counts as a failed operation):
  ingest    every (user, second) count at the sink equals the generator's
            tally, every window retains as many raw events as it counts,
            and the total equals the events acknowledged.
  dashboard every returned window older than the streaming watermark
            equals the generator's tally; no read ever over-counts.
  analytics each query's row count and order-insensitive fingerprint
            match perfbench/expected_batch.json.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# the analytics tables: one fixed data seed, so every run checks its
# results against the same recorded fingerprints
DATA_SEED = 42
DATA_SF = 0.01
WORKLOADS = ("ingest_backlog", "dashboard_live", "analytics_batch")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "project/*.scala", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    out = set()
    for p in pats:
        out.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                   if os.path.isfile(f))
    return sorted(os.path.relpath(f, ROOT) for f in out)


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the benchmark; return the runtime
    classpath. Cached on a digest of every source file."""
    os.makedirs(STATE, exist_ok=True)
    digest = source_digest()
    cp_file = os.path.join(STATE, "classpath")
    stamp = os.path.join(STATE, "build.stamp")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (os.path.isfile(stamp) and os.path.isfile(cp_file)
                and open(stamp).read() == digest):
            return open(cp_file).read().strip(), digest
        log_path = os.path.join(STATE, "build.log")
        with open(log_path, "w") as log:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                stderr=log, stdin=subprocess.DEVNULL, text=True,
                start_new_session=True)
            try:
                out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                kill_group(p)
                die("build timed out")
            log.write(out)
        if p.returncode != 0:
            sys.stderr.write(open(log_path).read()[-4000:])
            die("build failed")
        cps = [l for l in out.splitlines()
               if l.endswith(".jar") or "/classes" in l]
        cps = [l for l in cps if not l.startswith("[")]
        if not cps:
            die("build printed no classpath")
        with open(cp_file, "w") as f:
            f.write(cps[-1])
        with open(stamp, "w") as f:
            f.write(digest)
        return cps[-1], digest


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def tables(sf):
    """Seeded analytics tables, generated once per checkout."""
    sys.path.insert(0, HERE)
    import gen_tables
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(STATE, "data", f"sf{sf}-seed{DATA_SEED}-{tag}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        gen_tables.write(sf, DATA_SEED, out)
    return out


def heap():
    """A quarter of the machine's memory, between 2 and 4 GB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo")
                      if l.startswith("MemTotal")).split()[1])
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def launch(cp, args, workdir, out, extra):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--workdir", workdir, "--out", out,
            "--timeout", str(RUN_TIMEOUT_S - 5)]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(workdir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=workdir, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(p)
            rc = None
        else:
            kill_group(p)  # anything the JVM left behind in its group
    return rc, log_path


def commit(digest):
    """The checkout's git commit if it is a repository, else a digest of
    the sources the run was built from."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources-" + digest[:16]


def workload_whys():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError):
        die("BENCHMARK.json missing or unreadable at the checkout root")
    return spec, {w["name"]: w["why"] for w in spec["workloads"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="analytics only: rewrite expected_batch.json "
                         "from this run instead of checking against it")
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the root of a source checkout ({need} is missing)")
    spec, whys = workload_whys()
    t_start = time.time()
    cp, digest = build()
    build_s = time.time() - t_start

    extra = {}
    if args.workload == "analytics_batch":
        extra["data"] = tables(DATA_SF)
        extra["expected"] = os.path.join(HERE, "expected_batch.json")
        extra["record"] = int(args.record_expected)

    workdir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    out = os.path.join(workdir, "result.json")
    rc, log_path = launch(cp, args, workdir, out, extra)

    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = {"attempted": 1, "failed": 1, "metrics": {}, "info": {},
               "failures": ["run timed out" if rc is None
                            else f"jvm exited {rc} without a result"]}
    if rc != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-3000:])
        res["failed"] = max(1, res.get("failed", 0))
        res.setdefault("failures", []).append(
            "run timed out" if rc is None else f"jvm exit code {rc}")

    spans = out + ".spans.jsonl"
    if args.trace and os.path.exists(spans):
        keep = os.path.join(STATE, f"spans-{args.workload}-seed{args.seed}.jsonl")
        shutil.copy(spans, keep)
        res["info"]["spans_file"] = json.dumps(os.path.relpath(keep, ROOT))
    shutil.rmtree(workdir, ignore_errors=True)

    info = res.get("info", {})
    info["workload"] = json.dumps(args.workload)
    info["why"] = json.dumps(whys.get(args.workload, ""))
    info["commit"] = json.dumps(commit(digest))
    info["build_s"] = json.dumps(round(build_s, 3))
    for k, v in info.items():
        print(f"# {k}: {v}")
    for msg in res.get("failures", []):
        print(f"# FAILED: {msg}")
    got = res.get("metrics", {})
    for name, m in got.items():
        print(f"{name} = {m['value']} {m['unit']}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    missing = []
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"],
                                  "unit": m["unit"]}
        elif args.trace:
            # a layer this workload never calls reports zero work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    failed = int(res.get("failed", 0)) + len(missing)
    attempted = max(1, int(res.get("attempted", 0)))
    for name in missing:
        print(f"# FAILED: metric {name} was not measured")
    correct = failed == 0 and rc == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
