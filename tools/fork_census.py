#!/usr/bin/env python3
"""Count the subprocesses a JVM started, from a JFR recording.

Usage:
  python3 tools/fork_census.py <recording.jfr>

Reads the recording's jdk.ProcessStart events through the JDK's `jfr` tool
(`jfr print --json --stack-depth 64 --events jdk.ProcessStart`) and prints
one row per (command, thread, first graft. frame) with its count, largest
first, then the total. Thread names have UUIDs folded to UUID and digits
to N, so Spark's per-task and per-query thread names group together.

Record a benchmark run with (build the checkout first with a plain run, so
only the benchmark JVM writes the recording):
  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/x.jfr \\
    python3 perfbench/run.py --workload bv-scan --seed 7 --seconds 8 --trace 0
"""
import collections
import json
import os
import re
import shutil
import subprocess
import sys

UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"


def jfr_tool():
    found = shutil.which("jfr")
    if found:
        return found
    home = os.environ.get("JAVA_HOME", "")
    candidate = os.path.join(home, "bin", "jfr")
    if home and os.path.exists(candidate):
        return candidate
    sys.exit("fork_census: no `jfr` on PATH or under $JAVA_HOME/bin")


def process_starts(recording):
    """The recording's jdk.ProcessStart events, as `jfr print --json` gives them."""
    out = subprocess.run([jfr_tool(), "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", recording],
                         check=True, stdout=subprocess.PIPE).stdout
    return json.loads(out)["recording"]["events"]


def key(event):
    """(program, thread, first graft. frame) of one process start."""
    v = event["values"]
    words = (v.get("command") or "").split()
    program = os.path.basename(words[0]) if words else "?"
    thread = ((v.get("eventThread") or {}).get("javaName")) or "?"
    thread = re.sub(r"\d+", "N", re.sub(UUID, "UUID", thread))
    frame = "-"
    for f in ((v.get("stackTrace") or {}).get("frames") or []):
        cls = f["method"]["type"]["name"].replace("/", ".")
        if cls.startswith("graft."):
            frame = f"{cls}.{f['method']['name']}:{f.get('lineNumber', '?')}"
            break
    return program, thread, frame


def census(events):
    return collections.Counter(key(e) for e in events)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    counts = census(process_starts(sys.argv[1]))
    print("count\tcommand\tthread\tfirst graft. frame")
    for (program, thread, frame), n in counts.most_common():
        print(f"{n}\t{program}\t{thread}\t{frame}")
    print(f"{sum(counts.values())}\ttotal")


if __name__ == "__main__":
    main()
