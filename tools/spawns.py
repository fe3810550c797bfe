#!/usr/bin/env python3
"""Processes each JVM of one perfbench run starts, by command and caller.

Runs `python3 perfbench/run.py <args>` (one workload) with a `java`
wrapper first on its own PATH. The wrapper gives every JVM the run
starts (the query runner, or the broker and the load generator) its own
JFR recording, named by the wrapper's pid (`exec` keeps that pid for
the JVM), with `jdk.ProcessStart` enabled. JDK 17 does not expand `%p`
in a recording name passed through JAVA_TOOL_OPTIONS, hence the
wrapper. After the run it prints, per JVM, the processes it started:

  - grouped by command (the program name, e.g. `chmod`, `readlink`);
  - grouped by the first calling frame outside the JDK, Scala's library
    and Hadoop: the code that asked Hadoop for the file operation that
    forked (say, Spark's FileContextBasedCheckpointFileManager).

A fork waits off CPU, so CPU samples undercount it; this count does
not. Nothing under perfbench/ changes: the wrapper and the recordings
live in a temporary directory, removed afterwards unless --keep.

Usage:
  python3 tools/spawns.py [--keep] --workload query_drain --seed 3 --seconds 5 --trace 0
"""
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "..", "perfbench", "run.py")
SKIP = ("java.", "jdk.", "sun.", "scala.", "org.apache.hadoop.")
WRAPPER = """#!/bin/sh
printf '%s\\n' "$*" > {out}/args-$$.txt
exec {java} -XX:StartFlightRecording=filename={out}/rec-$$.jfr,settings={out}/spawns.jfc "$@"
"""
# only what this tool reads: process starts, with their stacks
JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
</configuration>
"""


def main_class(args):
    """The JVM's main class: the word after the classpath."""
    words = args.split()
    for i, w in enumerate(words[:-1]):
        if w in ("-cp", "-classpath"):
            return words[i + 2] if i + 2 < len(words) else "?"
    return "?"


def caller(frames):
    for f in frames:
        name = f["method"]["type"]["name"].replace("/", ".")
        if not name.startswith(SKIP):
            return f"{name}.{f['method']['name']}"
    return "(JDK/Hadoop only)"


def events(jfr):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", jfr],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0 or not out.stdout.strip():
        return None
    return json.loads(out.stdout)["recording"]["events"]


def main():
    args = sys.argv[1:]
    keep = "--keep" in args
    args = [a for a in args if a != "--keep"]
    if not args or "--all" in args:
        sys.exit(__doc__)
    java = shutil.which("java")
    if java is None:
        sys.exit("spawns: no java on PATH")
    out = tempfile.mkdtemp(prefix="graft-spawns-")
    with open(os.path.join(out, "spawns.jfc"), "w") as f:
        f.write(JFC)
    with open(os.path.join(out, "java"), "w") as f:
        f.write(WRAPPER.format(out=out, java=java))
    os.chmod(os.path.join(out, "java"), 0o755)
    env = dict(os.environ, PATH=out + os.pathsep + os.environ.get("PATH", ""))
    try:
        run = subprocess.run([sys.executable, RUN] + args, env=env)
        for name in sorted(os.listdir(out)):
            if not (name.startswith("rec-") and name.endswith(".jfr")):
                continue
            pid = name[4:-4]
            try:
                with open(os.path.join(out, f"args-{pid}.txt")) as f:
                    main = main_class(f.read())
            except OSError:
                main = "?"
            evs = events(os.path.join(out, name))
            if evs is None:
                print(f"\nJVM {pid} ({main}): no readable recording")
                continue
            by_cmd = collections.Counter()
            by_caller = collections.Counter()
            for e in evs:
                v = e["values"]
                cmd = (v.get("command") or "").split()
                by_cmd[os.path.basename(cmd[0]) if cmd else "?"] += 1
                st = v.get("stackTrace")
                by_caller[caller(st["frames"] if st else [])] += 1
            print(f"\nJVM {pid} ({main}): {len(evs)} processes started")
            for c, n in by_cmd.most_common():
                print(f"  {n:7d}  {c}")
            if evs:
                print("  by first caller outside the JDK, Scala and Hadoop:")
                for c, n in by_caller.most_common():
                    print(f"  {n:7d}  {c}")
        if run.returncode != 0:
            sys.exit(run.returncode)
    finally:
        if keep:
            print(f"\nrecordings kept in {out}")
        else:
            shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
