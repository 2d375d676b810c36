#!/usr/bin/env python3
"""Smoke test of the benchmark itself on tiny inputs (TPC-H sf0.001).

    python3 perfbench/smoke.py [workload ...]

For every workload `run.py` knows (by default; the ones BENCHMARK.json
does not list too, so that they keep working), runs it once untraced and
once traced and asserts that the result line names exactly the metrics
BENCHMARK.json lists, each with its unit, that every op's output check
passed, and that the traced run wrote its trace file.  Exits non-zero on
the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import WORKLOAD_NAMES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}\n"
                         f"{out.stderr[-3000:]}")
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print("   ", ln)
    return json.loads(lines[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or WORKLOAD_NAMES
    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                raise SystemExit(f"{w} trace={trace}: metrics {got} != "
                                 f"BENCHMARK.json {want}")
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                raise SystemExit(f"{w} trace={trace}: non-numeric {bad}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"{w} trace={trace}: checks failed: "
                                 f"{res}")
            if trace and not os.path.isfile(os.path.join(
                    HERE, "traces", f"{w}-seed1.json")):
                raise SystemExit(f"{w}: no trace file written")
            print(f"ok  {w} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops checked")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
