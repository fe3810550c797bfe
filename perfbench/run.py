#!/usr/bin/env python3
"""graft's benchmark: wire produce/fetch and Spark query workloads.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

The first form runs one workload and prints, as its last stdout line, one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics untraced, the per-layer metrics traced. The line before it is the
full self-describing record (every metric under its workload-specific name,
plus commit, revision, nproc, loadavg and heap settings). `--all` runs every
workload untraced and traced and prints a table.

The benchmark compiles graft's `src/main` and its own Scala sources with the
Scala compiler shipped in the Spark distribution, into `.bench_build/`, and
generates its input tables there; both are cached by content hash. See
perfbench/README.md for the workloads and the layer -> metric map.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH_REV = 1
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
NPROC = os.cpu_count() or 1
HEAP = {"broker": "2g", "loadgen": "1g", "query": "4g"}

QUERIES = {
    # driver planning, job scheduling and tasks; one query per group
    "query_batch": [
        "ann_ivfpq_topk",        # planning-heavy ANN
        "q3_join_agg",           # scan / shuffle join
    ],
    # a Structured Streaming AvailableNow drain: state-store commits and
    # micro-batch phases
    "query_drain": [
        "stream_exec_join_watermarked",   # interval join, per-batch commits
    ],
}
WIRE = ("produce_small", "produce_fetch")
WORKLOADS = WIRE + tuple(QUERIES)

# The end-to-end metrics every workload reports: set-up time, the wall time
# of one round or pass of fixed work, the CPU the system under test spends
# on it, and its live heap. The workload-specific throughput and latency
# figures are in the full record; see README.md, "Metrics".
E2E = {
    "setup_s": "s",
    "work_s": "s",
    "cpu_s": "s",
    "heap_live_mb": "MB",
}
LAYERS = {
    "wireserver.overhead_ms_p50": "ms",
    "broker.produce_ms_p50": "ms",
    "broker.produce_ms_p99": "ms",
    "broker.fetch_ms_p50": "ms",
    "broker.fetch_empty_frac": "ratio",
    "broker.share_fetch_ms_p50": "ms",
    "kafkawire.produce_decode_us_per_rec": "us",
    "kafkawire.fetch_encode_us_per_rec": "us",
    "topiclog.produce_direct_ms_p50": "ms",
    "topiclog.files_per_request": "count",
    "topiclog.manifest_versions": "count",
    "topiclog.end_offsets_ms_start": "ms",
    "topiclog.end_offsets_ms_end": "ms",
    "topiclog.produce_decay": "ratio",
    "topiclog.bytes_per_user_byte": "ratio",
    "topiclog.consume_direct_ms_p50": "ms",
    "topiclog.files_per_fetch": "count",
    "spark.planning_s": "s",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "drain.batches": "count",
    "drain.get_batch_ms": "ms",
    "drain.query_planning_ms": "ms",
    "drain.add_batch_ms": "ms",
    "drain.wal_commit_ms": "ms",
    "drain.commit_offsets_ms": "ms",
    "drain.state_rows": "count",
    "drain.state_mem_mb": "MB",
    "drain.state_commit_ms": "ms",
    "jvm.gc_pause_ms": "ms",
}
# every end-to-end metric again, from the traced run, to show tracing cost
LAYERS.update({f"traced.{k}": u for k, u in E2E.items()})
# the full record's metrics, under each workload's own names
RECORD_UNITS = {
    "setup_s": "s", "cpu_s": "s", "jit_cpu_s": "s", "heap_live_mb": "MB", "work_s": "s",
    "error_rate": "ratio",
    "produce_rec_per_s": "1/s", "produce_p50_ms": "ms", "produce_p99_ms": "ms",
    "consume_rec_per_s": "1/s", "e2e_p50_ms": "ms", "e2e_p99_ms": "ms",
    "share_e2e_p50_ms": "ms", "share_e2e_p99_ms": "ms",
    "query_total_s": "s", "query_geomean_s": "s", "query_p50_ms": "ms", "query_max_ms": "ms",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest_of(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def files_under(d, suffixes):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffixes)]
    return out


def java_cmd(heap, classpath, main, args, tmp):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java", *opens, "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, main] + args)


def build():
    """Compiles graft's src/main and the benchmark's Scala sources (cached
    by content hash); returns the run classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no graft sources at {main_src}: run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at '{SPARK_JARS}': set SPARK_HOME")
    graft_srcs = files_under(main_src, (".scala",))
    resources = os.path.join(ROOT, "src", "main", "resources")
    bench_srcs = files_under(os.path.join(HERE, "scala"), (".scala",))
    key = digest_of(graft_srcs + files_under(resources, ("",)) + bench_srcs)
    out = os.path.join(BUILD, f"classes-{key}")
    cp = f"{out}/bench:{out}/graft:{SPARK_JARS}/*"
    if os.path.exists(os.path.join(out, "ok")):
        return cp, key
    for old in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(f"{out}/graft"); os.makedirs(f"{out}/bench")
    scalac = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss16m", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
              "-nowarn", "-encoding", "UTF-8"]
    for dest, srcs, extra in ((f"{out}/graft", graft_srcs, ""),
                              (f"{out}/bench", bench_srcs, f"{out}/graft:")):
        r = subprocess.run(scalac + ["-d", dest, "-classpath", f"{extra}{SPARK_JARS}/*"] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail("compile failed:\n" + r.stdout[-4000:])
    if os.path.isdir(resources):
        shutil.copytree(resources, f"{out}/graft", dirs_exist_ok=True)
    open(os.path.join(out, "ok"), "w").close()
    return cp, key


def dataset():
    gen = os.path.join(HERE, "gendata.py")
    out = os.path.join(BUILD, f"data-{digest_of([gen])}")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out], check=True)
        open(os.path.join(out, "ok"), "w").close()
    return out


def commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


class Procs:
    """Every child process, stopped and reaped on exit."""

    def __init__(self):
        self.live = []

    def start(self, cmd, log, **kw):
        p = subprocess.Popen(cmd, stderr=open(log, "w"), text=True, **kw)
        p.log = log
        self.live.append(p)
        return p

    def stop_all(self):
        for p in self.live:
            if p.poll() is None:
                p.kill()
            p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            lines = [l for l in f.read().splitlines() if " WARN " not in l and " INFO " not in l]
        return "\n".join(lines[-n:])
    except OSError:
        return ""


def expect_line(proc, want, deadline):
    """Reads proc's stdout until a line starting with `want`."""
    while True:
        if time.monotonic() > deadline:
            raise RuntimeError(f"timed out waiting for {want}")
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError(f"process exited before {want}:\n{tail(proc.log)}")
        if line.startswith(want):
            return line.split()


def run_query(workload, seed, seconds, trace, cp, work, procs):
    names = list(QUERIES[workload])
    random.Random(seed).shuffle(names)
    out = os.path.join(work, "query.json")
    cmd = java_cmd(HEAP["query"], cp, "graftbench.QueryRunner", [
        f"data={dataset()}", "queries=" + ",".join(names), f"seconds={seconds}",
        f"trace={trace}", f"refs={os.path.join(HERE, 'reference.txt')}", f"out={out}",
        f"local={work}/local"], f"{work}/tmp")
    p = procs.start(cmd, f"{work}/query.log", stdout=subprocess.DEVNULL)
    try:
        p.wait(timeout=160)
    except subprocess.TimeoutExpired:
        raise RuntimeError("query runner timed out")
    if p.returncode != 0:
        raise RuntimeError(f"query runner failed:\n{tail(p.log)}")
    with open(out) as f:
        r = json.load(f)
    r["work_s"] = r["query_total_s"]
    r["query_order"] = names
    return r


def run_wire(workload, seed, seconds, trace, cp, work, procs):
    deadline = time.monotonic() + 150
    t0 = time.monotonic()
    broker = procs.start(java_cmd(HEAP["broker"], cp, "graftbench.BrokerMain", [
        f"root={work}/log", f"trace={trace}", f"local={work}/local"], f"{work}/tmp"),
        f"{work}/broker.log", stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    port = expect_line(broker, "READY", deadline)[1]
    broker_s = time.monotonic() - t0
    out = os.path.join(work, "loadgen.json")
    t1 = time.monotonic()
    gen = procs.start(java_cmd(HEAP["loadgen"], cp, "graftbench.LoadGen", [
        f"port={port}", f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
        f"out={out}", f"keep_last={trace}"], f"{work}/tmp"),
        f"{work}/loadgen.log", stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    expect_line(gen, "WARM_DONE", deadline)
    warm_s = time.monotonic() - t1

    def tell(proc, line):
        proc.stdin.write(line + "\n")
        proc.stdin.flush()

    tell(broker, "mark")
    expect_line(broker, "MARKED", deadline)
    tell(gen, "go")
    try:
        gen.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RuntimeError("load generator timed out")
    if gen.returncode != 0:
        raise RuntimeError(f"load generator failed:\n{tail(gen.log)}")
    with open(out) as f:
        r = json.load(f)
    bout = os.path.join(work, "broker.json")
    tell(broker, f"report {bout} {r['last_topic']} {r['last_round_requests']} "
                 f"{r['last_round_user_bytes']} {out}.fetches")
    expect_line(broker, "REPORTED", deadline)
    broker.wait(timeout=max(1, deadline - time.monotonic()))
    with open(bout) as f:
        r.update(json.load(f))
    r["setup_s"] = broker_s + warm_s
    r["cpu_s"] = r["cpu_s_total"] / r["rounds"]
    r["jit_cpu_s"] = r["jit_cpu_s_total"] / r["rounds"]
    if trace == 1:
        r["wireserver.overhead_ms_p50"] = r["produce_p50_ms"] - r["broker.produce_ms_p50"]
    return r


def on_alarm(*_):
    raise RuntimeError("run took longer than its time limit")


def run_workload(workload, seed, seconds, trace):
    cp, key = build()
    # a measured run (the build aside) must end within its time limit
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(170)
    load_before = loadavg()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "log"):
        os.makedirs(os.path.join(work, d))
    procs = Procs()
    try:
        if workload in WIRE:
            r = run_wire(workload, seed, seconds, trace, cp, work, procs)
        else:
            r = run_query(workload, seed, seconds, trace, cp, work, procs)
    finally:
        signal.alarm(0)
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    r["error_rate"] = r["failed"] / max(r["attempted"], 1)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "bench_rev": BENCH_REV, "source_hash": key,
        "commit": commit(),
        "nproc": NPROC, "loadavg_before": load_before, "loadavg_after": loadavg(),
        "heap": {k: v for k, v in HEAP.items()
                 if (k == "query") == (workload in QUERIES)},
        "metrics": {k: {"value": r[k], "unit": u} for k, u in RECORD_UNITS.items() if k in r},
        **{k: r[k] for k in ("attempted", "failed", "n_queries_run", "query_order", "per_query_s", "warm_s",
                             "rounds", "round_s", "passes", "produce_samples", "e2e_samples",
                             "share_e2e_samples", "mismatches", "failures") if k in r},
    }
    if trace == 1:
        metrics = {k: {"value": float(r.get(k, 0.0)), "unit": u} for k, u in LAYERS.items()
                   if not k.startswith("traced.")}
        metrics.update({f"traced.{k}": {"value": float(r[k]), "unit": u} for k, u in E2E.items()})
    else:
        metrics = {k: {"value": float(r[k]), "unit": u} for k, u in E2E.items()}
    return record, {"correct": r["failed"] == 0, "attempted": int(r["attempted"]),
                    "failed": int(r["failed"]), "metrics": metrics}


def run_all(seed, seconds):
    rows = []
    for w in WORKLOADS:
        recs = {}
        for trace in (0, 1):
            record, line = run_workload(w, seed, seconds, trace)
            recs[trace] = (record, line)
            print(json.dumps(record), flush=True)
        untraced, traced = recs[0][0], recs[1][0]
        for k, m in untraced["metrics"].items():
            t = traced["metrics"].get(k, {}).get("value")
            rows.append((w, k, m["value"], t, m["unit"]))
        for k, m in recs[1][1]["metrics"].items():
            if not k.startswith("traced."):
                rows.append((w, k, m["value"], None, m["unit"]))
    print(f"{'workload':<14} {'metric':<38} {'untraced':>14} {'traced':>14}  unit")
    for w, k, v, t, u in rows:
        ts = f"{t:14.4f}" if t is not None else " " * 14
        print(f"{w:<14} {k:<38} {v:14.4f} {ts}  {u}")


def main():
    # a terminated run still stops its JVMs and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    a = ap.parse_args()
    if a.all:
        run_all(a.seed, a.seconds)
        return
    if not a.workload:
        ap.error("--workload or --all is required")
    try:
        record, line = run_workload(a.workload, a.seed, a.seconds, a.trace)
    except RuntimeError as e:
        fail(str(e))
    print(json.dumps(record))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
