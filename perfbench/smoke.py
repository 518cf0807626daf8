#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs every workload for one short pass at scale factor 0.001, untraced
and traced, and checks that each run exits 0, is correct, and prints as
its last line every end-to-end (untraced) or per-layer (traced) metric
that ``BENCHMARK.json`` names, with the unit it names. Exits non-zero on
the first problem.

Usage: python3 perfbench/smoke.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for name in sys.argv[1:] or list(WORKLOADS):
        for traced in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "7", "--seconds", "1", "--trace", str(traced), "--sf", "0.001"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
            where = f"{name} trace={traced}"
            problems = check(traced, name, proc, expected[traced])
            print(f"{where}: {'FAIL' if problems else 'ok'}", flush=True)
            if problems:
                print("\n".join(problems), file=sys.stderr)
                return 1
    return 0


def check(traced: int, name: str, proc, expected: dict[str, str]) -> list[str]:
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    problems = []
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        problems.append(f"metrics {sorted(got.items())} != {sorted(expected.items())}")
    if not result["correct"] or result["failed"]:
        problems.append(f"incorrect run, stderr:\n{proc.stderr[-3000:]}")
    printed = {ln.split(" = ")[0] for ln in lines[:-1] if " = " in ln}
    wanted = set(expected)
    if not traced:
        wanted.add("failed_ratio")
        if WORKLOADS[name].cached:
            wanted |= {"cold_pass_s", "warm_pass_s"}
    if wanted - printed:
        problems.append(f"not printed: {sorted(wanted - printed)}")
    return problems


if __name__ == "__main__":
    sys.exit(main())
