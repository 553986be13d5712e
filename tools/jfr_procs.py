#!/usr/bin/env python3
"""Count the child processes a JVM started, from a JFR recording.

usage: python3 tools/jfr_procs.py RECORDING.jfr [--top N]

Reads the recording's `jdk.ProcessStart` events through the JDK's `jfr`
tool (`jfr print --json`, from $JAVA_HOME/bin or the PATH) and prints:

  by command   each command with its path arguments dropped
               (`chmod 644 /t/f` counts as `chmod 644`), with its count
  by call site each (command, call site) pair: the first frame of the
               event's stack, from the top, whose class is in `graft`,
               else the first in `org.apache.hadoop` outside its
               process-running `org.apache.hadoop.util` package, as
               `class.method:line`; `-` when no frame is (the
               recording keeps the top 64 frames unless its
               `stackdepth` option says otherwise)

then the total. Record a benchmark run with the recording on, say:

  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/abs/run.jfr,dumponexit=true \\
    python3 perfbench/run.py --workload table_churn --seed 1 --seconds 5 --trace 0

`perfbench/run.py` passes its environment to the JVM it starts. Give the
recording a path outside /tmp, which the run rebinds.
"""
import collections
import json
import os
import shutil
import subprocess
import sys

# `jfr print` keeps 5 frames per stack unless told otherwise
STACK_DEPTH = "1024"


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_procs: no `jfr` tool on the PATH or under $JAVA_HOME/bin")
    return found


def events(path):
    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--stack-depth", STACK_DEPTH,
         "--events", "jdk.ProcessStart", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command_key(command):
    words = (command or "").split()
    return " ".join(w for w in words if "/" not in w) or "-"


def call_site(event):
    frames = ((event["values"].get("stackTrace") or {}).get("frames")) or []
    named = [(f["method"]["type"]["name"].replace("/", "."), f) for f in frames]
    for wanted in (lambda c: c.startswith("graft."),
                   lambda c: c.startswith("org.apache.hadoop.") and
                   not c.startswith("org.apache.hadoop.util.")):
        for cls, f in named:
            if wanted(cls):
                return f"{cls}.{f['method']['name']}:{f.get('lineNumber', '?')}"
    return "-"


def main(argv):
    top = 20
    args = list(argv)
    if "--top" in args:
        i = args.index("--top")
        top = int(args[i + 1])
        del args[i:i + 2]
    if len(args) != 1:
        sys.exit(__doc__)
    evs = events(args[0])
    by_cmd = collections.Counter(command_key(e["values"].get("command")) for e in evs)
    by_site = collections.Counter(
        (command_key(e["values"].get("command")), call_site(e)) for e in evs)
    print("by command")
    for cmd, n in by_cmd.most_common(top):
        print(f"  {n:7d}  {cmd}")
    print("by call site")
    for (cmd, site), n in by_site.most_common(top):
        print(f"  {n:7d}  {cmd:<16} {site}")
    print(f"total {len(evs)} process starts")


if __name__ == "__main__":
    main(sys.argv[1:])
