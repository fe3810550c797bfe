#!/usr/bin/env python3
"""Broker CPU per measured round, split by thread.

Runs `python3 perfbench/run.py <args>` (one wire workload), samples the
broker JVM's per-thread CPU from /proc/<pid>/task/*/stat while it runs
(read-only), and prints, for each thread group, the CPU seconds it spent
per measured round:

  - each WireServer pool thread (`pool-N-thread-M [tid]`) on its own
    line: the accept loop and one thread per client connection, in the
    order the connections arrived (perfbench's LoadGen opens producer-0,
    producer-1, the fetch consumer and the share consumer, in that
    order); pool threads under 5 ms per round are left out;
  - the write pool (`scala-execution-context-global-*`: produceDirect's
    per-partition parquet writes);
  - GC (`GC Thread#*`, `G1 *`) and JIT (`C1/C2 CompilerThread*`);
  - everything else as `other`.

JFR execution samples leave GC threads out and mix threads together;
this split shows which connection's handler the broker spends its CPU
on.

Wire produces to one topic commit in groups: the connection thread that
finds no commit in flight leads, and commits its own request together
with every request queued behind it (`Broker.appendGrouped`). A
producer connection's line therefore also holds the commit work of
other connections' requests whenever it led a group, and is no longer
that connection's own cost; the connections' lines summed still are.
JFR likewise puts a group's `produceDirect` under the leader's
`handleProduce`.

The measured window is taken as the summed `round_s` of the run's
record, ending when the load-generator JVM exits, so the warm pass and
the traced replay stay outside it. The record's `cpu_s` also counts the
checks between rounds, so the total here runs a little under it. CPU is
counted in clock ticks (usually 10 ms).

Usage:
  python3 tools/threadcpu.py --workload produce_fetch --seed 3 --seconds 5 --trace 0
"""
import json
import os
import re
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "..", "perfbench", "run.py")
TICK = os.sysconf("SC_CLK_TCK")
INTERVAL = 0.05


def child_java(ppid, main_class):
    """Pid of a child of `ppid` whose command line names `main_class`."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) != ppid:
                    continue
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if main_class.encode() in f.read():
                    return int(d)
        except (OSError, IndexError, ValueError):
            continue
    return None


def threads(pid):
    """{tid: (name, utime + stime in ticks)} of a live process."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        name = s[s.index("(") + 1:s.rindex(")")]
        fields = s[s.rindex(")") + 2:].split()
        out[int(tid)] = (name, int(fields[11]) + int(fields[12]))
    return out


def group(tid, name):
    if name.startswith("scala-execution"):
        return "write pool"
    if name.startswith(("GC Thread", "G1 ")):
        return "GC"
    if name.startswith(("C1 Compiler", "C2 Compiler")):
        return "JIT"
    if re.match(r"pool-\d+-thread", name):
        # thread names are cut at 15 characters: the tid tells them apart
        return f"{name} [{tid}]"
    return "other"


def ticks_at(series, t):
    """A thread's CPU ticks at time t: its last sample at or before t."""
    v = 0
    for ts, ticks in series:
        if ts > t:
            break
        v = ticks
    return v


def main():
    args = sys.argv[1:]
    if not args or "--all" in args:
        sys.exit(__doc__)
    run = subprocess.Popen([sys.executable, RUN] + args, stdout=subprocess.PIPE, text=True)
    lines = []
    reader = threading.Thread(target=lambda: lines.extend(run.stdout), daemon=True)
    reader.start()
    broker = gen = gen_exit = None
    names, series = {}, {}
    while run.poll() is None:
        now = time.monotonic()
        if broker is None:
            broker = child_java(run.pid, "graftbench.BrokerMain")
        if gen is None:
            gen = child_java(run.pid, "graftbench.LoadGen")
        elif gen_exit is None and not os.path.exists(f"/proc/{gen}"):
            gen_exit = now
        if broker is not None:
            for tid, (name, ticks) in threads(broker).items():
                names[tid] = name
                series.setdefault(tid, []).append((now, ticks))
        time.sleep(INTERVAL)
    reader.join()
    sys.stdout.writelines(lines)
    records = [json.loads(l) for l in lines if l.startswith('{"workload"')]
    if run.returncode != 0 or not records or broker is None or gen_exit is None:
        sys.exit(f"threadcpu: no measured wire run to split (exit {run.returncode})")
    rec = records[-1]
    rounds = rec["rounds"]
    window = sum(rec["round_s"].values())
    t0, t1 = gen_exit - window, gen_exit
    per = {}
    order = []
    for tid in sorted(series):
        g = group(tid, names[tid])
        if g not in per:
            order.append(g)
        d = ticks_at(series[tid], t1) - ticks_at(series[tid], t0)
        per[g] = per.get(g, 0) + d / TICK / rounds
    print(f"broker pid {broker}: {rounds} rounds in {window:.2f} s, "
          f"CPU per round by thread (tick {1000 // TICK} ms)")
    fixed = ["write pool", "GC", "JIT", "other"]
    for g in [g for g in order if g not in fixed] + [g for g in fixed if g in per]:
        if per[g] >= 0.005 or g in fixed:
            print(f"  {g:<22} {per[g]:7.3f} s")
    total = sum(v for g, v in per.items() if g != "JIT")
    print(f"  {'total without JIT':<22} {total:7.3f} s   (record cpu_s {rec['metrics']['cpu_s']['value']:.3f} s)")


if __name__ == "__main__":
    main()
