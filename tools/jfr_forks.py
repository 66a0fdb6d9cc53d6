#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

Usage: jfr_forks.py <recording.jfr> [calls]

Reads `jfr print --json --stack-depth 1000 --events jdk.ProcessStart
<recording.jfr>` (the `jfr` tool of the JDK that made the recording must be
on PATH) and prints the number of process starts in total, per command (the
program's base name: `chmod`, `readlink`, `rm`, ...) and per first
`org.apache.spark` frame of the starting stack (the Spark call site; `-`
when the stack has none, `?` when the recording cut the stack before one:
raise the JVM's `-XX:FlightRecorderOptions:stackdepth`, 64 by default).
With `calls`, each count is also shown divided by it, for a recording taken
around that many calls of one operation.

A recording that holds these events comes from, for example,
`-XX:StartFlightRecording=filename=rec.jfr` (the default settings enable
`jdk.ProcessStart` with stack traces) or, in process,
`jdk.jfr.Recording.enable("jdk.ProcessStart").withStackTrace()`.
"""
import collections
import json
import os
import subprocess
import sys


def events(path):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "1000",
                          "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command(ev):
    words = (ev["values"].get("command") or "").split()
    return os.path.basename(words[0]) if words else "-"


def spark_frame(ev):
    stack = ev["values"].get("stackTrace") or {}
    for fr in stack.get("frames") or []:
        cls = fr["method"]["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark."):
            return f"{cls}.{fr['method']['name']}"
    return "? (stack truncated)" if stack.get("truncated") else "-"


def table(title, counts, calls):
    print(f"{title}:")
    for key, n in counts.most_common():
        per = f"  {n / calls:8.1f}/call" if calls else ""
        print(f"  {n:6d}{per}  {key}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2])
    calls = int(sys.argv[2]) if len(sys.argv) == 3 else 0
    evs = events(sys.argv[1])
    per = f" ({len(evs) / calls:.1f} per call over {calls} calls)" if calls else ""
    print(f"process starts: {len(evs)}{per}")
    table("per command", collections.Counter(command(e) for e in evs), calls)
    table("per first org.apache.spark frame",
          collections.Counter(f"{command(e)} <- {spark_frame(e)}" for e in evs), calls)


if __name__ == "__main__":
    main()
