#!/usr/bin/env python3
"""Count the process starts in a JFR recording, grouped three ways.

Usage: python3 tools/forkcensus.py RECORDING.jfr [--top N]

Reads the recording's `jdk.ProcessStart` events with the JDK's `jfr`
tool (`jfr print --json --stack-depth 64 --events jdk.ProcessStart`) and
prints, each sorted by count:

  - by command: the program started (`chmod`, `readlink`, `setsid`, ...);
  - by target: each path argument, normalised so that one file's starts
    group across passes and tasks (UUIDs become `<uuid>`, digit runs `#`);
  - by caller: the first stack frame outside the JDK and Hadoop, i.e. the
    Spark, Parquet or graft code whose file-system call forked.

To record a JVM's process starts, start it with
`-XX:StartFlightRecording=filename=out.jfr,settings=<jfc>` (JAVA_TOOL_OPTIONS
reaches a JVM that a script launches), where the .jfc enables
`jdk.ProcessStart` with `stackTrace` true; or wrap the code under test in a
`jdk.jfr.Recording` that enables the event. Dev tool only.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

SKIP = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.")
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
DIGITS = re.compile(r"\d+")


def events(recording):
    # `jfr print` shows 5 frames unless told otherwise
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", recording],
                         check=True, capture_output=True, text=True).stdout
    return [e["values"] for e in json.loads(out)["recording"]["events"]]


def normalise(arg):
    return DIGITS.sub("#", UUID.sub("<uuid>", arg))


def caller(values):
    frames = (values.get("stackTrace") or {}).get("frames") or []
    for f in frames:
        m = f["method"]
        cls = m["type"]["name"].replace("/", ".")
        if not cls.startswith(SKIP):
            return f"{cls}.{m['name']}"
    return "<no frame outside the JDK and Hadoop>"


def census(vals):
    by_cmd, by_target, by_caller = (collections.Counter() for _ in range(3))
    for v in vals:
        argv = (v.get("command") or "").split()
        prog = argv[0].rsplit("/", 1)[-1] if argv else "<none>"
        by_cmd[prog] += 1
        targets = [a for a in argv[1:] if a.startswith("/")] or ["<no path>"]
        for t in targets:
            by_target[f"{prog} {normalise(t)}"] += 1
        by_caller[f"{prog} <- {caller(v)}"] += 1
    return by_cmd, by_target, by_caller


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20,
                    help="rows shown per grouping (default 20)")
    args = ap.parse_args(argv)
    vals = events(args.recording)
    print(f"{len(vals)} process starts in {args.recording}")
    for title, counts in zip(("command", "target", "caller"), census(vals)):
        print(f"\n== by {title} ({len(counts)} distinct)")
        for key, n in counts.most_common(args.top):
            print(f"{n:7d}  {key}")
        if len(counts) > args.top:
            rest = sum(n for _, n in counts.most_common()[args.top:])
            print(f"{rest:7d}  ({len(counts) - args.top} more)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
