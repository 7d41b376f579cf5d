#!/usr/bin/env python3
"""Regenerates perfbench/refs/sf0.1.tsv, the reference fingerprints.

Usage (from the repository root):

    python3 perfbench/refs.py

For every gate of the gate workloads it runs graft.Verify over the
benchmark's copy of sf0.1, checks those outputs against the DuckDB oracle
with scripts/check_oracle.py, and fingerprints both the Verify output and a
fresh collect (perfbench.Refs). Each line of the file is
``gate<TAB>fingerprint<TAB>origin``, where origin is

- ``oracle``: the gate passed the oracle; its output is the reference;
- ``head``: the gate has no oracle SQL; the current output is the
  reference, so the benchmark checks that it does not change;
- ``oracle_fail``: the gate fails the oracle. Its fingerprint is ``-``,
  which no result matches, so every run counts it as failed until the
  gate is fixed and this file is regenerated.

A gate whose fresh fingerprint differs from its Verify fingerprint has
no stable output and stops the script.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

def main():
    run.build()
    work = os.path.join(HERE, "work", "refs")
    shutil.rmtree(work, ignore_errors=True)
    verify = os.path.join(work, "verify")
    tmp = os.path.join(work, "tmp")
    names = subprocess.run(run.java_cmd("perfbench.Refs", ["--list"], tmp),
                           check=True, capture_output=True,
                           text=True).stdout.split()[-1].split(",")
    subprocess.run(run.java_cmd("graft.Verify",
                                [run.DATA, verify, ",".join(names)], tmp),
                   check=True)
    oracle = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "scripts", "check_oracle.py"),
         run.DATA, verify], capture_output=True, text=True)
    status = {}
    for line in oracle.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m and m.group(2) in names:
            status[m.group(2)] = m.group(1)
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        has_oracle = set(json.load(f))
    out = subprocess.run(run.java_cmd("perfbench.Refs",
                                      [run.DATA, verify, ",".join(names)],
                                      tmp),
                         check=True, capture_output=True, text=True).stdout
    lines = []
    for row in out.splitlines():
        parts = row.split("\t")
        if len(parts) != 3 or parts[0] not in names:
            continue
        g, fresh, ver = parts
        if g in has_oracle and status.get(g) != "PASS":
            lines.append(f"{g}\t-\toracle_fail")
            continue
        if fresh != ver:
            sys.exit(f"{g}: fresh {fresh} != verify {ver}; output unstable")
        lines.append(f"{g}\t{fresh}\t{'oracle' if g in has_oracle else 'head'}")
    if len(lines) != len(names):
        sys.exit(f"fingerprinted {len(lines)} of {len(names)} gates")
    os.makedirs(os.path.dirname(run.REFS), exist_ok=True)
    with open(run.REFS, "w") as f:
        f.write("\n".join(lines) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
