#!/usr/bin/env python3
"""Count the processes a JVM launches, by executable name.

Usage: scripts/spawn_count.py [--json] -- COMMAND [ARG...]

Runs COMMAND and, until it exits, polls /proc about every millisecond
for processes whose parent is a `java` process inside COMMAND's process
tree. Each such child is counted once under every name it was seen with:
on JDK 17 a launch first carries the name of the JVM thread that made it
(`stream executio`, `Executor task l`, ...), then becomes `jspawnhelper`,
which execs the real program (`chmod`, `readlink`, `rm`, ...). So the
`jspawnhelper` count is close to the total number of launches, and the
other names are samples: a child that execs and exits between two polls
is missed under its program's name. Prints one line per name, most frequent first,
then the total (or one JSON object with --json) on stderr, and exits
with COMMAND's exit code.

It reads only /proc and needs no privileges.
"""
import json
import os
import subprocess
import sys
import time


def stat(pid):
    """(ppid, comm, start time) of `pid`, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm sits in parentheses and may itself contain spaces or ')'
    lo, hi = s.index("("), s.rindex(")")
    rest = s[hi + 2:].split()
    return int(rest[1]), s[lo + 1:hi], int(rest[19])


def comm(pid):
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return None


def main(argv):
    as_json = argv[:1] == ["--json"]
    if as_json:
        argv = argv[1:]
    if argv[:1] == ["--"]:
        argv = argv[1:]
    if not argv:
        sys.exit(__doc__.strip())
    proc = subprocess.Popen(argv)
    tree = {proc.pid}      # COMMAND and its descendants
    prev = set()           # the pids of the last poll
    children = {}          # (pid, start) -> names seen, for JVM children
    live = {}              # pid -> key, children not yet gone
    while proc.poll() is None:
        pids = {int(n) for n in os.listdir("/proc") if n.isdigit()}
        for pid in pids - prev:
            st = stat(pid)
            if st is None:
                continue
            ppid, cmd, start = st
            if ppid not in tree:
                continue
            tree.add(pid)
            # a launch shows as `java` until it execs, and cannot launch
            # anything itself before then, so a parent named `java` is a
            # JVM (a JVM forked by another one counts as its launch)
            if comm(ppid) == "java":
                children[(pid, start)] = {cmd}
                live[pid] = (pid, start)
        for pid, key in list(live.items()):
            cmd = comm(pid)
            if cmd is None:
                del live[pid]
            else:
                children[key].add(cmd)
        prev = pids
        time.sleep(0.001)
    counts = {}
    for names in children.values():
        for n in names:
            counts[n] = counts.get(n, 0) + 1
    report = {"total": len(children),
              "by_name": dict(sorted(counts.items(),
                                     key=lambda kv: (-kv[1], kv[0])))}
    if as_json:
        print(json.dumps(report), file=sys.stderr)
    else:
        for n, c in report["by_name"].items():
            print(f"{c:8d}  {n}", file=sys.stderr)
        print(f"{report['total']:8d}  total launches", file=sys.stderr)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main(sys.argv[1:])
