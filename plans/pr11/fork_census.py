#!/usr/bin/env python3
"""Summarize the process starts of a JFR recording.

    jfr print --events jdk.ProcessStart --stack-depth 64 run.jfr \
        | python3 fork_census.py --root .bench_build/runs/reference_jobs-s3-t0

Reads the text `jfr print` writes (stdin or file arguments) and prints the
number of process starts, how many have an `org.apache.hadoop` frame, and
the starts counted by command and by the directory under --root that the
command's path argument names (`file:` prefixes stripped).
"""
import argparse
import collections
import fileinput
import os
import re
import shlex

EVENT = re.compile(r"^jdk\.ProcessStart \{$")
COMMAND = re.compile(r'^\s*command = "(.*)"$')
FRAME = re.compile(r"^\s{4}([\w$.]+)\.[\w$<>]+\(")


def events(lines):
    """Yield (command, frame classes) per ProcessStart event."""
    command, frames, inside = None, [], False
    for line in lines:
        line = line.rstrip("\n")
        if EVENT.match(line):
            command, frames, inside = None, [], True
        elif inside and line == "}":
            yield command, frames
            inside = False
        elif inside:
            m = COMMAND.match(line)
            if m:
                command = m.group(1)
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))


def directory(command, root):
    """First component under root of the command's last path argument."""
    try:
        args = shlex.split(command)
    except ValueError:
        args = command.split()
    paths = [a[len("file:"):] if a.startswith("file:") else a for a in args[1:]]
    paths = [p for p in paths if p.startswith("/")]
    if not paths or not root:
        return "(no path)" if not paths else "(no --root)"
    rel = os.path.relpath(paths[-1], root)
    return "(outside root)" if rel.startswith("..") else rel.split(os.sep)[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default="", help="run directory to group paths by")
    ap.add_argument("files", nargs="*")
    a = ap.parse_args()
    root = os.path.abspath(a.root) if a.root else ""
    total, hadoop = 0, 0
    by_command, by_dir = collections.Counter(), collections.Counter()
    for command, frames in events(fileinput.input(a.files)):
        total += 1
        from_hadoop = any(f.startswith("org.apache.hadoop.") for f in frames)
        hadoop += from_hadoop
        name = (command or "?").split()[0]
        by_command[(name, from_hadoop)] += 1
        by_dir[(directory(command or "", root), from_hadoop)] += 1
    print(f"process starts: {total}")
    print(f"with an org.apache.hadoop frame: {hadoop}")
    for title, counts in (("by command", by_command), ("by directory", by_dir)):
        print(f"{title} (count, key, from hadoop):")
        for (key, h), n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"  {n:6d}  {key}  {'hadoop' if h else '-'}")


if __name__ == "__main__":
    main()
