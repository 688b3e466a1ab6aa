"""Steadiness self-check: two sets of runs of the same commit.

    python3 perfbench/steady.py [--out f.json]

For every workload in BENCHMARK.json it makes two sets of ten untraced
runs (run i of each set uses seed i), one run at a time, and prints,
per end-to-end metric, each set's median and quartiles, the spread
(Q3 - Q1) / median next to the metric's bound, and how far the second
set's median moved from the first's.  A metric passes when both spreads stay within the
bound and the median does not move the wrong way by more than the
bound.  Exit code 1 if any fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETS = 2
RUNS = 10


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect result")
    return {k: v["value"] for k, v in result["metrics"].items()}


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    raw: dict = {w: [[] for _ in range(SETS)] for w in names}
    for s in range(SETS):
        for w in names:
            for i in range(RUNS):
                raw[w][s].append(run_once(bench, w, 1 + i))
                print(f"set {s + 1} {w} run {i + 1}: {raw[w][s][-1]}",
                      file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(raw, fh, indent=1)

    ok = True
    hdr = f"{'workload':16} {'metric':15} {'set':>3} {'median':>12} " \
          f"{'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6} {'moved':>7}"
    print(hdr)
    for w in names:
        for name, spec in metrics.items():
            first = None
            for s in range(SETS):
                med, q1, q3, spread = summary([r[name] for r in raw[w][s]])
                moved = 0.0
                if first is None:
                    first = med
                elif first:
                    moved = (med - first) / first
                    if spec["better"] == "higher":
                        moved = -moved
                bad = spread > spec["bound"] or moved > spec["bound"]
                ok &= not bad
                print(f"{w:16} {name:15} {s + 1:>3} {med:12.5g} {q1:12.5g} "
                      f"{q3:12.5g} {spread:7.3f} {spec['bound']:6.2f} "
                      f"{moved:7.3f}{'  FAIL' if bad else ''}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
