#!/usr/bin/env python3
"""Smoke test for the benchmark: every workload on a tiny input with a
short script, once untraced and once traced, then one run whose expected
answer was deliberately corrupted, which must count as a failed op.

    python3 enginebench/smoke.py

Exits non-zero on the first check that does not hold. Takes a few minutes:
each run starts its own engine process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TINY = ["--scale", "0.001", "--docs", "200", "--base-points", "2", "--seconds", "1"]


def bench(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--trace", str(trace), *TINY, *extra],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} {extra}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = bench(workload, trace)
            check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{workload} trace={trace}: {r['attempted']} ops, all answers right")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(got == want, f"{workload} trace={trace}: reports exactly the {key} metrics")
    r = bench("lookup_write", 0, "--corrupt", "pattern_2hop_from")
    check(not r["correct"] and r["failed"] == 1 and r["metrics"]["ok_frac"]["value"] < 1,
          "a wrong expected answer counts as one failed op")


if __name__ == "__main__":
    main()
