#!/usr/bin/env python3
"""Steadiness check: for each workload, two interleaved sets of runs of the
same code (A1 B1 A2 B2 ...), each run with its own seed. Prints, per
end-to-end metric, each set's median and quartiles next to the metric's
bound, the spread of all runs pooled (interquartile range as a share of
the median), and how far set B's median moved from set A's.

    python3 graftbench/steadiness.py > graftbench/STEADINESS.txt

Run from the repository root. A metric is steady when its pooled spread
is within a third of its bound (``setup_s`` is exempt from the spread
test) and set B's median is not worse than set A's by more than the
bound. "IQR/median" pools all runs of both sets. Raw values go to
``graftbench/records/steadiness.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 5  # runs per set


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, float]:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    elapsed = time.monotonic() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), elapsed


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def collect(spec: dict) -> dict:
    raw: dict = {}
    for w in (w["name"] for w in spec["workloads"]):
        sets = {"A": [], "B": []}
        elapsed = []
        for i in range(RUNS):
            for s, base in (("A", 1), ("B", 101)):
                result, secs = run_once(spec, w, base + i)
                if not result["correct"] or result["failed"]:
                    raise SystemExit(f"{w} seed {base + i}: {result['failed']} failed items")
                sets[s].append({k: v["value"] for k, v in result["metrics"].items()})
                elapsed.append(secs)
                print(f"# {w} set {s} seed {base + i}: {secs:.1f} s", file=sys.stderr, flush=True)
        raw[w] = {"sets": sets, "elapsed_s": elapsed}
    return raw


def report(spec: dict, raw: dict) -> None:
    for w, data in raw.items():
        sets, elapsed = data["sets"], data["elapsed_s"]
        print(f"\n## {w}  ({len(elapsed)} runs, {statistics.fmean(elapsed):.1f} s a run on average)\n")
        print(f"{'metric':<14}{'bound':>6}  {'set A median [q1, q3]':<30}{'set B median [q1, q3]':<30}"
              f"{'IQR/median':>11}{'B vs A':>9}  verdict")
        for m in spec["end_to_end"]:
            a = [r[m["name"]] for r in sets["A"]]
            b = [r[m["name"]] for r in sets["B"]]
            qa, qb, qp = quartiles(a), quartiles(b), quartiles(a + b)
            spread = (qp[2] - qp[0]) / qp[1]
            worse = qb[1] / qa[1] - 1  # how much worse set B's median is
            if m["better"] == "higher":
                worse = -worse
            ok = (m["name"] == "setup_s" or spread <= m["bound"] / 3) and worse <= m["bound"]
            cell = "{:.3f} [{:.3f}, {:.3f}]"
            print(f"{m['name']:<14}{m['bound']:>6.2f}  {cell.format(qa[1], qa[0], qa[2]):<30}"
                  f"{cell.format(qb[1], qb[0], qb[2]):<30}{spread:>11.4f}{worse:>+9.4f}  "
                  f"{'steady' if ok else 'NOT steady'}")
    mean_run = {w: statistics.fmean(raw[w]["elapsed_s"]) for w in raw}
    total = sum(22 * t for t in mean_run.values()) + 4 * max(mean_run.values())
    print(f"\ntime for 4 + 22 x {len(raw)} runs at these run lengths: {total:.0f} s")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    raw = collect(spec)
    raw_path = os.path.join(HERE, "records", "steadiness.json")
    os.makedirs(os.path.dirname(raw_path), exist_ok=True)
    with open(raw_path, "w") as f:
        json.dump(raw, f, indent=1)
    report(spec, raw)


if __name__ == "__main__":
    main()
