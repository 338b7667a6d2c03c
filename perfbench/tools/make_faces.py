#!/usr/bin/env python3
"""Rebuild perfbench/faces.tsv, the query_mix expected-fingerprint table.

    python3 perfbench/tools/make_faces.py <oracle.json> <run.tsv>... > perfbench/faces.tsv

Inputs, all made on the generated sf0.01 tables (perfbench.FaceTable writes
them to <work>/tables):
  - oracle.json: `tools/oracle_check.py <work>/tables <verify out> oracle.json`
    after `graft.Verify <work>/tables <verify out>`;
  - run.tsv: one or more `perfbench.FaceTable <run.tsv> <work>` outputs,
    ideally at different core counts.

A face is kept when the oracle matched it hash-exact, it returned at least
one row, it never failed, and every fingerprint of it agrees across all
runs. Its reference time is the one of the first run, which should be made
at the benchmark's core count on an otherwise idle machine.
"""
import json
import sys


def main():
    oracle = json.load(open(sys.argv[1]))["results"]
    runs = {}
    for path in sys.argv[2:]:
        for line in open(path):
            c = line.rstrip("\n").split("\t")
            if len(c) < 6:
                continue
            runs.setdefault(c[0], []).append(c)
    print("# face\tfamily\treference seconds\tfingerprint (rows:sha256 prefix)")
    for name in sorted(runs):
        rows = runs[name]
        fps = {r[3] for r in rows} | {r[4] for r in rows}
        if (len(rows) != len(sys.argv) - 2 or any(r[5] for r in rows) or len(fps) != 1
                or oracle.get(name, {}).get("status") != "pass"):
            continue
        fp = fps.pop()
        if fp.startswith("0:"):
            continue
        t = float(rows[0][2])
        print(f"{name}\t{rows[0][1]}\t{t:.3f}\t{fp}")


if __name__ == "__main__":
    main()
