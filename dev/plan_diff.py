#!/usr/bin/env python3
"""Per-query diff of two `graft.Explain` outputs (pre-execution plans).

    dev/run.sh graft.Explain /path/to/sf0.001 > a.txt   # one side
    dev/run.sh graft.Explain /path/to/sf0.001 > b.txt   # the other side
    python3 dev/plan_diff.py a.txt b.txt

Each output is split at its `========== <query> ==========` headers. Before
comparing, every plan drops what changes from one JVM run to the next:
expression ids (`#n`), `plan_id`s, bracketed counters and RDD ids (`[n]`),
UUIDs, source line numbers of call sites, the checkout root (anything
before `/target/`) and the per-run scratch directory (`target/tmp/run-<pid>`,
`queries.TmpRoot`), JVM identity hashes and lambda class names, blank lines
and log lines. Plans with Spark's `RewriteDistinctAggregates` expansion (a
`gid` column) compare as a bag of tokens: the rewrite orders its distinct
groups by expression hash, which depends on how many expression ids the
JVM allocated before the query (q_dq_audit's `countDistinct` groups).

Prints one line per query that differs or is on one side only, then a
summary. Exit status 0 when every query matches, 1 otherwise. Use the
plans without `--exec`: AQE's run-time join choices differ between two
executions of the same code.
"""
import re
import sys
from collections import Counter

HEADER = re.compile(r"^========== (\S+) ==========$")
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (TRACE|DEBUG|INFO|WARN|ERROR) ")
RULES = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"\[\d+\]"), "[n]"),
    (re.compile(r"(\w+\.(?:scala|java)):\d+"), r"\1:n"),
    (re.compile(r"/[^\s\[\],:]*?/target/"), "<root>/target/"),
    (re.compile(r"/target/tmp/run-\d+/"), "/target/tmp/run-n/"),
    (re.compile(r"\$\$Lambda[\w$/.]*"), "$$Lambda"),
    (re.compile(r"0x[0-9a-f]+"), "0x<n>"),
    (re.compile(r"@[0-9a-f]{4,8}\b"), "@<hash>"),
]
DISTINCT_REWRITE = re.compile(r"\bgid#n\b")
TOKEN = re.compile(r"\w+|[^\w\s]")


def normalize(line):
    for pattern, repl in RULES:
        line = pattern.sub(repl, line)
    return line.rstrip()


def plans(path):
    """{query: [normalized plan lines]} in file order."""
    out, current = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                current = out.setdefault(m.group(1), [])
            elif current is not None and line.strip() and not LOG_LINE.match(line):
                current.append(normalize(line))
    return out


def same(a, b):
    if a == b:
        return True
    text_a, text_b = "\n".join(a), "\n".join(b)
    if DISTINCT_REWRITE.search(text_a) and DISTINCT_REWRITE.search(text_b):
        return Counter(TOKEN.findall(text_a)) == Counter(TOKEN.findall(text_b))
    return False


def first_difference(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i, x, y
    n = min(len(a), len(b))
    return n, a[n] if n < len(a) else "<end>", b[n] if n < len(b) else "<end>"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    differ = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in b or q not in a:
            differ += 1
            print(f"{q}: only in {argv[1] if q in a else argv[2]}")
        elif not same(a[q], b[q]):
            differ += 1
            line, x, y = first_difference(a[q], b[q])
            print(f"{q}: differs from plan line {line + 1}\n  - {x[:200]}\n  + {y[:200]}")
    print(f"{len(a.keys() | b.keys())} queries, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
