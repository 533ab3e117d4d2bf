#!/usr/bin/env python3
"""Counts Spark codegen compiles in a log written under
tools/log4j2-codegen.properties.

Prints the number of compiles, the number of distinct generated sources
among them, and the compiles per thread kind: `driver` (planning on the
caller's thread), `task` (an executor task thread compiling a stage's
iterator or projection) and `stream` (a streaming query's execution
thread). The codegen cache keys on (classloader, source), so a source
compiled more than once was either evicted or compiled under another
classloader.

Usage: python3 tools/codegen_log.py <codegen.log>
"""
import collections
import hashlib
import re
import sys

HEADER = re.compile(r"^\d\d:\d\d:\d\d\.\d{3} (\w+) \[(.*)\] CodeGenerator: (.*)$")


def kind(thread):
    if thread.startswith("Executor task launch worker"):
        return "task"
    if thread.startswith("stream execution thread"):
        return "stream"
    return "driver"


def events(path):
    """(level, thread, message) per log event; continuation lines (the
    generated source) belong to the event above them."""
    cur = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = HEADER.match(line.rstrip("\n"))
            if m:
                if cur:
                    yield cur
                cur = [m.group(1), m.group(2), m.group(3)]
            elif cur:
                cur[2] += "\n" + line.rstrip("\n")
    if cur:
        yield cur


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip().splitlines()[-1])
    compiles = collections.Counter()
    sources = set()
    for level, thread, msg in events(sys.argv[1]):
        if level == "INFO" and msg.startswith("Code generated in"):
            compiles[kind(thread)] += 1
        elif level == "DEBUG":
            sources.add(hashlib.sha1(msg.strip().encode()).hexdigest())
    total = sum(compiles.values())
    print(f"compiles {total}")
    print(f"distinct sources {len(sources)}")
    for k in ("driver", "task", "stream"):
        print(f"compiles {k} {compiles[k]}")


if __name__ == "__main__":
    main()
