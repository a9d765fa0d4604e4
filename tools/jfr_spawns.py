#!/usr/bin/env python3
"""Count the child processes a JVM launched, from its JFR recording.

    python3 tools/jfr_spawns.py run.jfr                 # runs `jfr print` itself
    jfr print --events jdk.ProcessStart --stack-depth 64 run.jfr > ps.txt
    python3 tools/jfr_spawns.py ps.txt                  # or reads the dump
    python3 tools/jfr_spawns.py run.jfr --forbid chmod,readlink,ls,stat

Record with `java -XX:StartFlightRecording=filename=run.jfr,settings=profile …`
(jdk.ProcessStart is on in both stock settings). Prints the launches by
command (the first word of the command line) and by caller: the first
Hadoop, Spark or graft frame under the launch helpers
(`org.apache.hadoop.util.Shell`, Spark's `Utils.executeCommand`), e.g.
`org.apache.hadoop.fs.RawLocalFileSystem.setPermission`. A launch counts as
"through Shell" when `org.apache.hadoop.util.Shell` is on its stack.

`--forbid` names commands that must not be launched through Shell; the exit
status is 1 when one was. A dump printed with the default stack depth (5)
cuts stacks before the caller, so pass `--stack-depth 64` to `jfr print`.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

OWN = ("org.apache.hadoop.", "org.apache.spark.", "graft.")
FRAME = re.compile(r"^\s+([\w$.<>]+)\(")


def is_launcher(frame):
    cls = frame.rsplit(".", 1)[0]
    return (cls == "org.apache.hadoop.util.Shell" or cls.startswith("org.apache.hadoop.util.Shell$")
            or frame.startswith("org.apache.spark.util.Utils$.execute"))


def parse(text):
    """One (command, frames) pair per jdk.ProcessStart event of a `jfr print` dump."""
    events, cmd, frames, inside = [], None, [], False
    for line in text.splitlines():
        if line.startswith("jdk.ProcessStart {"):
            cmd, frames, inside = "", [], True
        elif inside and line.startswith("}"):
            events.append((cmd, frames))
            inside = False
        elif inside:
            m = re.match(r'^\s+command = "(.*)"$', line)
            if m:
                cmd = m.group(1)
            else:
                f = FRAME.match(line)
                if f:
                    frames.append(f.group(1))
    return events


def caller(frames):
    for f in frames:
        if f.startswith(OWN) and not is_launcher(f):
            return f
    return "(no hadoop/spark/graft frame)"


def summarize(events):
    by_cmd, by_caller, by_both = (collections.Counter() for _ in range(3))
    shell = collections.Counter()
    for cmd, frames in events:
        name = cmd.split(" ", 1)[0] if cmd else "(unknown)"
        who = caller(frames)
        by_cmd[name] += 1
        by_caller[who] += 1
        by_both[(name, who)] += 1
        if any(f.rsplit(".", 1)[0].startswith("org.apache.hadoop.util.Shell") for f in frames):
            shell[name] += 1
    return {"launches": len(events), "through_shell": sum(shell.values()),
            "by_command": dict(by_cmd.most_common()), "shell_by_command": dict(shell.most_common()),
            "by_caller": dict(by_caller.most_common()),
            "by_command_and_caller": [[c, w, n] for (c, w), n in by_both.most_common()]}


def load(path):
    if path.endswith(".jfr"):
        return subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "64",
                               path], check=True, capture_output=True, text=True).stdout
    with open(path, errors="replace") as f:
        return f.read()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("input", help="a .jfr recording or a `jfr print --events jdk.ProcessStart` dump")
    ap.add_argument("--json", action="store_true", help="print the summary as one JSON object")
    ap.add_argument("--forbid", default="", help="comma-separated commands that must not run through Shell")
    a = ap.parse_args()
    s = summarize(parse(load(a.input)))
    if a.json:
        print(json.dumps(s, indent=1))
    else:
        print(f"launches: {s['launches']} ({s['through_shell']} through org.apache.hadoop.util.Shell)")
        print("by command:")
        for c, n in s["by_command"].items():
            print(f"  {n:6d}  {c}  ({s['shell_by_command'].get(c, 0)} through Shell)")
        print("by command and caller:")
        for c, w, n in s["by_command_and_caller"]:
            print(f"  {n:6d}  {c:10s} {w}")
    bad = {c: s["shell_by_command"][c] for c in a.forbid.split(",") if s["shell_by_command"].get(c)}
    if bad:
        print(f"forbidden commands launched through Shell: {bad}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
