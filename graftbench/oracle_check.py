#!/usr/bin/env python3
"""Ties the stored digests to the DuckDB oracle.

Usage (from the repository root): python3 graftbench/oracle_check.py

Dumps every catalog entry of the benchmark at the "bench" scale
with graft.Verify, compares each dump with its oracle SQL through
tools/check_oracle.py, digests the dumps the way the benchmark digests
results, and checks both against graftbench/expected/bench.txt: the digest
must match, and so must the recorded oracle verdict (pass or MISMATCH).
Exits 1 on any disagreement. Takes about two minutes on 4 cores.
"""
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    root = os.getcwd()
    state = os.path.join(root, ".bench_build", "graftbench")
    os.makedirs(state, exist_ok=True)
    jars = run.spark_jars(root)
    cp = run.build(root, state, jars) + jars
    data = run.tables(state, "bench")
    rows = [l.split() for l in open(os.path.join(run.HERE, "expected", "bench.txt"))
            if l.strip() and not l.startswith("#")]
    stored = {r[0]: (r[1], r[2]) for r in rows}

    work = os.path.join(state, f"oracle-{os.getpid()}")
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        subprocess.run(run.jvm(cp, work, "graft.Verify") +
                       [data, out, ",".join(sorted(stored))], check=True)
        oracle = subprocess.run(
            [sys.executable, os.path.join(root, "tools", "check_oracle.py"),
             data, out], capture_output=True, text=True).stdout
        verdict = {m.group(2): "pass" if m.group(1) == "PASS" else "MISMATCH"
                   for m in re.finditer(r"^(PASS|FAIL) (\w+)", oracle, re.M)}
        dumped = subprocess.run(run.jvm(cp, work, "graftbench.DigestDirs") +
                                [out], check=True, capture_output=True,
                                text=True).stdout
        digests = dict(l.split() for l in dumped.splitlines() if l.strip())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = 0
    for name, (digest, recorded) in sorted(stored.items()):
        seen = (digests.get(name), verdict.get(name, "none"))
        ok = seen == (digest, recorded)
        bad += not ok
        print(f"{'ok  ' if ok else 'BAD '} {name}: digest "
              f"{'=' if seen[0] == digest else '!='} stored, oracle {seen[1]}"
              f" (stored {recorded})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
