#!/usr/bin/env python3
"""Compare two sets of untraced results of one workload.

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json ...

Prints each end-to-end metric's median and quartiles per side and whether
the new median is worse than the base median by more than the bound in
BENCHMARK.json. Refuses (exit 2) to compare results recorded with
different core counts or for different workloads. When the two sides ran
on a host of different speed (their ``cpu_ref_s`` medians differ by more
than HOST_REF_TOL, or their ``steal_share`` medians by more than
STEAL_TOL) the comparison is unresolved (exit 3): re-run both sides
interleaved.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

#: largest relative difference of the host-speed reference medians
HOST_REF_TOL = 0.10
#: largest difference of the stolen-CPU share medians (absolute)
STEAL_TOL = 0.01


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def host_medians(runs: list[dict]) -> tuple[float, float]:
    """Median host-speed reference and stolen-CPU share of a result set."""
    return (
        statistics.median(r["host"]["cpu_ref_s"] for r in runs),
        statistics.median(r["host"]["steal_share"] for r in runs),
    )


def host_disagreement(base: list[dict], new: list[dict]) -> str | None:
    """Why the two sides' hosts differ in speed, or None if they agree."""
    (ref_b, steal_b), (ref_n, steal_n) = host_medians(base), host_medians(new)
    if abs(ref_n / ref_b - 1) > HOST_REF_TOL:
        return f"cpu_ref_s medians differ by {ref_n / ref_b - 1:+.1%}, more than {HOST_REF_TOL:.0%}"
    if abs(steal_n - steal_b) > STEAL_TOL:
        return f"steal_share medians differ by more than {STEAL_TOL:.0%} points"
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True, type=Path)
    ap.add_argument("--new", nargs="+", required=True, type=Path)
    args = ap.parse_args(argv)

    base = [json.loads(p.read_text()) for p in args.base]
    new = [json.loads(p.read_text()) for p in args.new]
    runs = base + new
    cores = {r["host"]["nproc"] for r in runs}
    workloads = {r["workload"] for r in runs}
    if len(cores) != 1 or len(workloads) != 1:
        print(f"refusing to compare: core counts {sorted(cores)}, workloads {sorted(workloads)}")
        return 2
    if any(r["trace"] for r in runs):
        print("refusing to compare: traced results carry no end-to-end metrics")
        return 2

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    print(f"workload {workloads.pop()} on {cores.pop()} cores: {len(base)} base, {len(new)} new runs")
    worse_any = False
    for m in spec["end_to_end"]:
        name = m["name"]
        b = [r["end_to_end"][name]["value"] for r in base]
        n = [r["end_to_end"][name]["value"] for r in new]
        bq, nq = _quartiles(b), _quartiles(n)
        change = nq[1] / bq[1] - 1
        worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
        worse_any |= worse
        print(
            f"  {name:<18} base {bq[1]:.6g} [{bq[0]:.6g}, {bq[2]:.6g}]  "
            f"new {nq[1]:.6g} [{nq[0]:.6g}, {nq[2]:.6g}] {m['unit']}  "
            f"{change:+.1%}{'  WORSE than bound ' + str(m['bound']) if worse else ''}"
        )
    for side, runs in (("base", base), ("new", new)):
        ref, steal = host_medians(runs)
        print(f"  host {side}: cpu_ref_s {ref:.4f} s, steal {steal:.2%}")
    problem = host_disagreement(base, new)
    if problem:
        print(f"unresolved: {problem}; re-run both sides interleaved")
        return 3
    return 1 if worse_any else 0


if __name__ == "__main__":
    sys.exit(main())
