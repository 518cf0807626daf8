#!/usr/bin/env python3
"""Compare the generated tables with the engine's sf0.01 fixture.

For every query of every workload, prints the row count its DuckDB
oracle returns on the tables ``datagen.py`` writes for each given seed,
next to the row count recorded for the sf0.01 fixture in
``ORACLE_FULL_r13.json``, and the largest relative difference.

Usage: python3 perfbench/fixture_check.py [SEED ...]   (default: 1 2 3)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import datagen
import oracle
from workloads import WORKLOADS

RECORD = os.path.join(oracle.ROOT, "ORACLE_FULL_r13.json")


def main() -> int:
    seeds = [int(s) for s in sys.argv[1:]] or [1, 2, 3]
    with open(RECORD) as f:
        record = json.load(f)["results"]
    oracles = oracle.oracle_check_module().entrymod.oracle_sql()
    work = os.path.join(oracle.ROOT, ".perfbench", "fixture_check")
    counts: dict[int, dict[str, int]] = {}
    try:
        for seed in seeds:
            data = os.path.join(work, f"seed{seed}")
            datagen.generate(data, seed)
            con = oracle.connect(data)
            counts[seed] = {
                q: len(con.execute(oracles[q]).df())
                for w in WORKLOADS.values() for q in w.queries + w.cached
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'workload':16s} {'query':34s} {'fixture':>8s} "
          + " ".join(f"{'s' + str(s):>7s}" for s in seeds) + "  max|diff|")
    for w in WORKLOADS.values():
        for q in w.queries + w.cached:
            want = record[q]["oracle_rows"]
            got = [counts[s][q] for s in seeds]
            diff = max(abs(g - want) for g in got) / want
            print(f"{w.name:16s} {q:34s} {want:8d} "
                  + " ".join(f"{g:7d}" for g in got) + f"  {diff:8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
