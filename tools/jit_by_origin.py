#!/usr/bin/env python3
"""JIT compiler-thread time per code origin, from a HotSpot compilation log.

Run the JVM with

    -XX:+UnlockDiagnosticVMOptions -XX:+LogCompilation -XX:LogFile=jit.log

(for a program started by a script, JAVA_TOOL_OPTIONS carries the flags),
then

    python3 tools/jit_by_origin.py jit.log [--from S] [--to S] [--top N]

Each compile task runs on one compiler thread from its `<task ... stamp=>`
to its `<task_done ... stamp=>` (seconds of JVM uptime); that span is the
task's compiler-thread time. A task counts in the window when it starts in
[--from, --to]. The method compiled decides the origin: Janino's own
classes, the classes Janino generated (Spark's whole-stage and expression
code), Spark catalyst, the rest of Spark SQL, Spark core, Parquet, Hadoop,
Scala, the JDK, and everything else. Prints one row per origin (tasks,
seconds, share, C2 seconds) and, with --top, the costliest methods. A log
cut short by a killed JVM is read up to its last complete task.
"""
import argparse
import re
import sys
from collections import defaultdict

# first match wins: generated classes live under catalyst's package
ORIGINS = [
    ("janino", ("org/codehaus/janino/", "org/codehaus/commons/")),
    ("generated", ("org/apache/spark/sql/catalyst/expressions/GeneratedClass",)),
    ("spark-catalyst", ("org/apache/spark/sql/catalyst/",)),
    ("spark-sql", ("org/apache/spark/sql/",)),
    ("spark-core", ("org/apache/spark/",)),
    ("parquet", ("org/apache/parquet/", "shaded/parquet/")),
    ("hadoop", ("org/apache/hadoop/",)),
    ("scala", ("scala/",)),
    ("jdk", ("java/", "javax/", "jdk/", "sun/", "com/sun/")),
]

ATTR = re.compile(r"(\w+)='([^']*)'")


def origin(method):
    cls = method.split(" ", 1)[0].replace(".", "/")
    for name, prefixes in ORIGINS:
        if cls.startswith(prefixes):
            return name
    return "other"


def tasks(lines):
    """(method, level, start, seconds) per completed compile task."""
    open_task = None
    for line in lines:
        line = line.lstrip()
        if line.startswith("<task "):
            a = dict(ATTR.findall(line))
            if "stamp" in a and "method" in a:
                open_task = (a["method"], int(a.get("level", "4")), float(a["stamp"]))
        elif line.startswith("<task_done") and open_task is not None:
            a = dict(ATTR.findall(line))
            if "stamp" in a:
                method, level, start = open_task
                yield method, level, start, float(a["stamp"]) - start
            open_task = None
        elif line.startswith("</compilation_log"):
            open_task = None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--from", dest="lo", type=float, default=0.0, help="uptime seconds")
    ap.add_argument("--to", dest="hi", type=float, default=float("inf"), help="uptime seconds")
    ap.add_argument("--top", type=int, default=0, help="also list the N costliest methods")
    a = ap.parse_args()

    per = defaultdict(lambda: [0, 0.0, 0.0])  # origin -> tasks, seconds, C2 seconds
    per_method = defaultdict(float)
    with open(a.log, errors="replace") as f:
        for method, level, start, secs in tasks(f):
            if not a.lo <= start <= a.hi:
                continue
            row = per[origin(method)]
            row[0] += 1
            row[1] += secs
            if level == 4:
                row[2] += secs
            per_method[method] += secs
    total = sum(r[1] for r in per.values())
    if total == 0:
        print("no complete compile task in the window", file=sys.stderr)
        return 1
    print(f"{'origin':<16}{'tasks':>8}{'seconds':>10}{'share':>8}{'C2 s':>9}")
    for name, (n, secs, c2) in sorted(per.items(), key=lambda kv: -kv[1][1]):
        print(f"{name:<16}{n:>8}{secs:>10.2f}{secs / total:>8.1%}{c2:>9.2f}")
    print(f"{'total':<16}{sum(r[0] for r in per.values()):>8}{total:>10.2f}")
    for method, secs in sorted(per_method.items(), key=lambda kv: -kv[1])[: a.top]:
        print(f"{secs:>8.3f}  {origin(method):<15} {method}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
