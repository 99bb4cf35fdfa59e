#!/usr/bin/env python3
"""Count the processes a JVM started, per command, from a JFR recording.

Usage: python3 tools/jfr_forks.py <file.jfr>

Reads the recording's `jdk.ProcessStart` events through `jfr print --json`
(the JDK's `jfr` tool must be on PATH) and prints one line per command
name (the first word of the command line, e.g. `chmod`) with its count,
most frequent first, then a total. Record a JVM with
`-XX:StartFlightRecording=filename=<file.jfr>`; add `-Xlog:jfr+startup=off`
when the JVM's stdout carries a protocol, so JFR's startup banner stays off
it.
"""
import collections, json, subprocess, sys


def process_starts(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart", path],
        check=True, capture_output=True, text=True).stdout
    return [e["values"].get("command") or "" for e in json.loads(out)["recording"]["events"]]


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    counts = collections.Counter(
        (cmd.split() or ["?"])[0] for cmd in process_starts(argv[1]))
    for name, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:8d}  {name}")
    print(f"== {sum(counts.values())} process starts ==")


if __name__ == "__main__":
    main(sys.argv)
