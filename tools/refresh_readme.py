#!/usr/bin/env python3
"""Refresh the hand-drift-prone counts in README.md from ground truth.

Counts are derived, never typed:
  - driver query count  = entries in SparkEntry.queries (the `-> ((s, dir)`
    arrow pattern inside `def queries`; cross-checked against oracle_sql.json from the latest
    Verify dump when one exists)
  - test count          = "Tests: succeeded N" from the latest `sbt test`
    log (pass the log path, default /tmp/test_log.txt)

Usage: python3 tools/refresh_readme.py [test_log]
"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def query_count():
    src = open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    # only the queries map: the fixtures registry uses the same arrow form
    body = src[src.index("  def queries:"):]
    body = body[:re.search(r"\n  (def|val|private|lazy) ", body[1:]).start() + 1]
    n = len(re.findall(r'"\w+" -> \(\(s, dir\)', body))
    oj = "/tmp/verify_out/oracle_sql.json"
    if os.path.exists(oj):
        m = len(json.load(open(oj)))
        if m != n:
            sys.exit(f"query-count mismatch: {n} queries in SparkEntry.scala "
                     f"vs {m} oracle entries in {oj} — investigate before refreshing")
    return n


def test_count(log):
    if not os.path.exists(log):
        return None
    hits = re.findall(r"Tests: succeeded (\d+), failed 0", open(log).read())
    return int(hits[-1]) if hits else None


def main():
    log = sys.argv[1] if len(sys.argv) > 1 else "/tmp/test_log.txt"
    q = query_count()
    t = test_count(log)
    path = os.path.join(ROOT, "README.md")
    text = open(path).read()
    text, n1 = re.subn(r"all \d+ driver queries", f"all {q} driver queries", text)
    text, n2 = re.subn(r"all \d+ queries hash-exact", f"all {q} queries hash-exact", text)
    n3 = 0
    if t is not None:
        text, n3 = re.subn(r"`sbt test` — \d+ tests:", f"`sbt test` — {t} tests:", text)
    open(path, "w").write(text)
    print(f"README.md: queries={q} ({n1}+{n2} spots), tests={t} ({n3} spots)")


if __name__ == "__main__":
    main()
