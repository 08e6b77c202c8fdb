"""Run two sets of benchmark runs of the same code and compare them.

    python3 perfbench/compare.py

For every workload in BENCHMARK.json, each of two sets runs
``perfbench/run.py`` once per seed (set 1 uses seeds 1..10, set 2 seeds
11..20), one run at a time. For every end-to-end metric it prints each set's median and
quartiles, the spread (interquartile distance over the median) against the
metric's bound, and how far set 2's median moved from set 1's in the
metric's worse direction. Exits non-zero if a spread or a move exceeds its
bound, if the share of failed operations differs between the sets, or if a
run reports incorrect output. The spread of ``setup_s`` is printed but not
gated: set-up is one JVM start and one cold pass per run, not a median of
repeated rounds, so it carries the host's start-up jitter in full; only
its median move between the sets is held to the bound.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10  # per set and workload


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """Median, first and third quartile, and (Q3 - Q1) / median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        sets = [
            [run_once(spec, w, seed) for seed in range(1 + s * RUNS, 1 + (s + 1) * RUNS)]
            for s in range(2)
        ]
        shares = [
            sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets
        ]
        correct = all(r["correct"] for rs in sets for r in rs)
        print(f"{w}: failed share {' / '.join(f'{x:.4f}' for x in shares)}, all correct: {correct}")
        ok &= correct and len(set(shares)) == 1
        for m in spec["end_to_end"]:
            stats = [spread([r["metrics"][m["name"]]["value"] for r in rs]) for rs in sets]
            m1, m2 = stats[0][0], stats[1][0]
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            line = f"  {m['name']:>12} [{m['unit']}] bound {m['bound']:.2f}:"
            for i, (med, q1, q3, sp) in enumerate(stats):
                line += f"  set{i + 1} median {med:.4g} (Q1 {q1:.4g}, Q3 {q3:.4g}) spread {sp:.3f}"
            line += f"  moved {worse:+.3f}"
            print(line)
            spread_ok = m["name"] == "setup_s" or all(st[3] <= m["bound"] for st in stats)
            ok &= spread_ok and worse <= m["bound"]
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
