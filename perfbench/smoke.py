"""Smoke run: every workload, untraced and traced, one seed.

    python3 perfbench/smoke.py [--seed N] [--size tiny|full] [--seconds S]

Run from the root of a checkout. Checks that each run prints every
metric that BENCHMARK.json names for its mode, with the unit given
there, and that no operation failed. Then prints the tracing overhead:
each end-to-end metric of the traced run (``traced.<name>``) against the
untraced run of the same workload and seed. Exits 1 if any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(spec: dict, args, workload: str, trace: int):
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--size", args.size]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None, lines, [f"exit {r.returncode}: {r.stderr[-2000:]}"]
    return json.loads(lines[-1]), lines, []


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--size", choices=["tiny", "full"], default="tiny")
    p.add_argument("--seconds", type=float, default=2)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    outs = {}
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            out, lines, problems = _run(spec, args, w, trace)
            if out is not None:
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                diff = set(got.items()) ^ set(want[trace].items())
                if diff:
                    problems.append(f"metrics/units differ: {sorted(diff)}")
                problems += [f"{name} not printed" for name in want[trace]
                             if not any(ln.split()[:1] == [name]
                                        for ln in lines)]
                if out["failed"] or not out["correct"]:
                    problems.append(
                        f"failed {out['failed']}/{out['attempted']}")
                outs[w, trace] = out["metrics"]
            print(f"{w:16s} trace={trace}  {'FAIL' if problems else 'ok'}")
            for prob in problems:
                print("   ", prob)
            bad += bool(problems)
    print("\ntracing overhead (traced - untraced, same seed):")
    for w in [x["name"] for x in spec["workloads"]]:
        if (w, 0) not in outs or (w, 1) not in outs:
            continue
        for name, unit in want[0].items():
            plain = outs[w, 0][name]["value"]
            traced = outs[w, 1][f"traced.{name}"]["value"]
            print(f"  {w:16s} {name:26s} {plain:12.4f} -> {traced:12.4f} "
                  f"{unit:10s} ({(traced - plain) / plain:+.1%})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
